"""The shared md5_60 shingle kernel (operators/dedup.shingle_hashes, one
mapInArrow pass) against the DuckDB replays the oracles use, on
hand-built edge documents, through all three consumers: MinHash
signatures (queries/dedup._minhash_sig_ctes), winnow fingerprints
(queries/text._winnow_oracle) and n-gram hashes
(queries/text._ngram_hash_cte); and the kernel's plan-build contract on
derived inputs."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import PARITY_SF_DIR, SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import dedup as dops
from trino_adaptive_partitioning_tool_spark.operators import text as tops
from trino_adaptive_partitioning_tool_spark.queries import dedup as qdedup
from trino_adaptive_partitioning_tool_spark.queries import text as qtext

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
# null, empty and whitespace-only text: no tokens, so no shingles
TOKENLESS = (1, 2, 3)


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
    with_tokens = [d for d, _ in EDGE_DOCS if d not in TOKENLESS]
    assert sorted(got) == sorted(sig) == with_tokens
    for doc_id, mh in sig.items():
        assert got[doc_id] == mh, doc_id


def test_token_less_docs_have_no_shingles(spark):
    """One rule for every consumer of the kernel: a document without
    tokens gets no MinHash row, an empty winnow sample and no n-gram
    rows; a short document with tokens still hashes its whole token
    list."""
    docs = _docs(spark, EDGE_DOCS)
    got = _kernel(spark, EDGE_DOCS)
    assert not set(TOKENLESS) & set(got)
    whole = int.from_bytes(hashlib.md5(b"one").digest()[:8], "big") >> 4
    assert got[4] == [whole ^ c for c in dops._xor_family_constants(N)]
    fp = {
        r["doc_id"]: (r["winnow_fp"], r["winnow_size"])
        for r in tops.fingerprints(docs, keep_every=1).collect()
    }
    assert sorted(fp) == [d for d, _ in EDGE_DOCS]
    for doc_id in TOKENLESS:
        assert fp[doc_id] == ([], 0)
    assert fp[4] == ([whole], 1)
    ngram_ids = {r["id"] for r in tops.ngram_hashes(docs, 1).collect()}
    assert ngram_ids == set(got)


@pytest.mark.parametrize("k,keep_every", [(4, 8), (3, 1)])
def test_fingerprints_match_winnow_replay(spark, duck, k, keep_every):
    got = {
        r["doc_id"]: (",".join(map(str, r["winnow_fp"])), r["winnow_size"])
        for r in tops.fingerprints(
            _docs(spark, EDGE_DOCS), shingle_k=k, keep_every=keep_every
        ).collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            qtext._winnow_oracle(k, keep_every, source="edge_docs")
        ).fetchall()
    }
    assert got == want


@pytest.mark.parametrize("n", [3, 5])
def test_ngram_hashes_match_replay(spark, duck, n):
    rows = [
        (r["id"], r["h"])
        for r in tops.ngram_hashes(_docs(spark, EDGE_DOCS), n).collect()
    ]
    want = duck.execute(
        f"WITH {qtext._ngram_hash_cte(n, source='edge_docs')} "
        "SELECT doc_id, h FROM e"
    ).fetchall()
    assert len(rows) == len(set(rows))  # distinct per document
    assert sorted(rows) == sorted(want)


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
    the plan is built (the crawl and funnel queries sign and shingle
    such frames inside their memoized plan builds). Every consumer of
    the shingle kernel shares that guard."""
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
        tops.fingerprints(cached)
        tops.ngram_hashes(cached, 3)
        tops.winnow_containment(cached)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cached.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("sf_dir", [SMOKE_SF_DIR, PARITY_SF_DIR])
def test_documents_doc_id_is_a_key(sf_dir):
    """The registered dedup queries sign `documents` (or subsets of it)
    keyed on doc_id, which the kernel's per-row contract relies on; no
    text is null or token-less, so the no-tokens rule changes no
    registered result."""
    n, distinct, texts = duckdb.sql(
        "SELECT count(*), count(DISTINCT doc_id), "
        f"count(*) FILTER (WHERE len({qdedup._TOKS}) > 0) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    assert n == distinct == texts > 0
