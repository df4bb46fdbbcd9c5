"""The MinHash signature kernel (operators/dedup.minhash_signatures, one
mapInArrow pass) against the DuckDB replay the oracles use
(queries/dedup._minhash_sig_ctes) on hand-built edge documents, and the
kernel's plan-build contract on derived inputs."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import PARITY_SF_DIR, SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import dedup as dops
from trino_adaptive_partitioning_tool_spark.queries import dedup as qdedup

N = dops.DEFAULT_NUM_HASHES

# inside the tokenizer's cross-engine envelope (tests/test_cross_engine_fuzz.py):
# no Turkish İ, no capital final sigma, no Unicode spaces
EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "one"),
    (5, "one two"),
    (6, "a b c a b c a b c a b c"),
    (7, "tab\tseparated words\nand new\r\nlines here"),
    (8, "Café naïve résumé façade déjà vu"),
    (9, "Καλημέρα κόσμε ελληνικά γράμματα"),
    (10, "中文 文本 测试 的 内容"),
    (11, "😀 emoji 🚀 text 🎉 more"),
    (12, "\talpha beta gamma\n"),
    (13, "alpha beta gamma delta"),
]
REPEATED = (14, "zeta eta theta iota kappa")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE edge_docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO edge_docs VALUES (?, ?)", EDGE_DOCS)
    return con


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kernel(spark, rows):
    return {
        r["id"]: r["minhash"]
        for r in dops.minhash_signatures(_docs(spark, rows)).collect()
    }


def test_kernel_matches_duckdb_replay(spark, duck):
    got = _kernel(spark, EDGE_DOCS)
    cols = ", ".join(f"h{i}" for i in range(N))
    sig = {
        r[0]: list(r[1:])
        for r in duck.execute(
            f"WITH {qdedup._minhash_sig_ctes(source='edge_docs')} "
            f"SELECT doc_id, {cols} FROM sig"
        ).fetchall()
    }
    # where the engines differ: for null text Spark emits no row (so did
    # the earlier aggregate plan under ANSI mode, Spark 4's default; with
    # ANSI off its size(null) = -1 gave the replay's all-NULL row), and for
    # token-less text it hashes "" while DuckDB's array_to_string([]) is
    # NULL; the replay gives both an all-NULL signature (no testdata
    # document has either, see test_documents_doc_id_is_a_key)
    for doc_id in (1, 2, 3):
        assert sig.pop(doc_id) == [None] * N
    assert sorted(got) == [d for d, t in EDGE_DOCS if t is not None]
    assert sorted(sig) == sorted(got)[2:]
    for doc_id, mh in sig.items():
        assert got[doc_id] == mh, doc_id


def test_empty_and_whitespace_docs_hash_the_empty_string(spark):
    h = int.from_bytes(hashlib.md5(b"").digest()[:8], "big") >> 4
    expected = [h ^ c for c in dops._xor_family_constants(N)]
    got = _kernel(spark, EDGE_DOCS)
    assert got[2] == got[3] == expected
    assert 1 not in got  # null text: no row


def test_repeated_id_gets_one_signature_per_row(spark):
    """id_col is a key for every caller, so the kernel keeps no per-id
    state: rows sharing an id each get the signature of their own text
    (the DuckDB replay, which groups by id, would union them)."""
    alone = _kernel(spark, EDGE_DOCS + [REPEATED])
    rows = dops.minhash_signatures(
        _docs(spark, [(13, EDGE_DOCS[-1][1]), (13, REPEATED[1])])
    ).collect()
    assert sorted(r["minhash"] for r in rows) == sorted(
        [alone[13], alone[14]]
    )


def test_derived_input_builds_without_a_spark_job(spark):
    """Only a file scan goes through ensure_parallelism: on a cached or
    derived input its exact partition count would run the input while
    the plan is built (the crawl and funnel queries sign such frames
    inside their memoized plan builds)."""
    sc = spark.sparkContext
    cached = (
        _docs(spark, EDGE_DOCS)
        .groupBy("doc_id")
        .agg(F.first("text").alias("text"))
        .persist()
    )
    group = "minhash-derived-plan-build"
    sc.setJobGroup(group, "build only")
    try:
        dops.minhash_signatures(cached)
        dops.minhash_lsh_pairs(cached)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cached.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("sf_dir", [SMOKE_SF_DIR, PARITY_SF_DIR])
def test_documents_doc_id_is_a_key(sf_dir):
    """The registered dedup queries sign `documents` (or subsets of it)
    keyed on doc_id, which the kernel's per-row contract relies on; no
    text is null or token-less, where the kernel and the replay differ."""
    n, distinct, texts = duckdb.sql(
        "SELECT count(*), count(DISTINCT doc_id), "
        f"count(*) FILTER (WHERE len({qdedup._TOKS}) > 0) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    assert n == distinct == texts > 0
