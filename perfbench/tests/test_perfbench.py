"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/tests -q

The generator, checker and metric tests need no Spark and take seconds;
the traced-run tests start the runner twice per workload (a few minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(root, fn)
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate_all(d: str, seed: int) -> None:
    gen.tpch_catalog(os.path.join(d, "catalog"), seed, 0.001)
    gen.write_refresh_log(os.path.join(d, "log.parquet"), seed, 3_000)
    gen.write_views(os.path.join(d, "views.parquet"), seed, list(gen.VIEW_DDL), gen.VIEW_DDL)
    gen.write_onboard_catalog(os.path.join(d, "cat", "tables"), os.path.join(d, "cat", "log.parquet"),
                              os.path.join(d, "cat", "views.parquet"), seed, 3, 500)
    table, _ = gen.corpus(seed, 0, 500, 0.05, 0.05)
    gen.write_table(table, os.path.join(d, "corpus.parquet"))


def test_generators_are_byte_identical_per_seed_and_differ_across_seeds(tmp_path):
    _generate_all(str(tmp_path / "a"), 7)
    _generate_all(str(tmp_path / "b"), 7)
    _generate_all(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    for name in sorted(os.listdir(tmp_path / "a")):
        if name.endswith(".parquet"):
            pa_, pc_ = (hashlib.sha256((tmp_path / x / name).read_bytes()).hexdigest() for x in "ac")
            assert pa_ != pc_, name
    assert a != c


def test_refresh_log_records_its_input_properties(tmp_path):
    info = gen.write_refresh_log(str(tmp_path / "log.parquet"), 1, 20_000)
    assert info["windows"] == gen.LOG_DAYS - gen.WINDOW_DAYS + 1
    assert 0.9 < info["window_overlap_share"] < 0.95  # 13 of 14 days shared
    assert 0.0 < info["unparseable_share"] < 0.05
    assert info["repeated_text_share"] > 0.5
    assert sum(info["window_rows"][:1]) > 0


def test_onboard_mix_covers_every_branch_in_two_catalogs():
    seen = {b for i in (0, 1) for b in gen.onboard_mix(i).values()}
    assert seen == set(gen.BRANCHES)


def test_corpus_plants_exact_and_near_duplicates():
    table, planted = gen.corpus(3, 1, 2_000, 0.05, 0.05)
    texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    assert len(texts) == 2_000
    for group in planted["exact_groups"]:
        assert len({texts[i] for i in group}) == 1
    for a, b in planted["near_pairs"]:
        ta, tb = texts[a].split(), texts[b].split()
        assert len(ta) == len(tb) and 0 < sum(x != y for x, y in zip(ta, tb)) <= 2


def test_xxh64_reference_vectors():
    assert checks.xxh64(b"", seed=0) == 0xEF46DB3751D8E999 - (1 << 64)
    assert checks.xxh64(b"abc", seed=0) == 0x44BC2CF5AD770999
    assert checks.xxh64(b"Nobody inspects the spammish repetition", seed=0) == (
        0xFBCEA83C8A378BF1 - (1 << 64))


def test_expected_partition_values_per_transform():
    ts = pa.chunked_array([pa.array([0, 86_400_000_000 * 40], pa.timestamp("us", tz="UTC"))])
    assert checks.expected_partition_values("day(ts)", ts)[1] == ["1970-01-01", "1970-02-10"]
    assert checks.expected_partition_values("month(ts)", ts)[1] == ["1970-01", "1970-02"]
    assert checks.expected_partition_values("year(ts)", ts)[1] == ["1970", "1970"]
    ints = pa.chunked_array([pa.array([5, 1_234, 99_999], pa.int64())])
    assert checks.expected_partition_values("truncate(k, 100)", ints)[1] == ["0", "1200", "99900"]
    assert checks.expected_partition_values("k", ints)[1] == ["5", "1234", "99999"]
    buckets = checks.expected_partition_values("bucket(8, k)", ints)[1]
    assert all(0 <= int(v) < 8 for v in buckets)


def test_tail_is_the_highest_percentile_with_ten_ops_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    value, pct = run.tail([float(i) for i in range(1, 41)])
    assert (value, pct) == (30.0, 75.0)


def test_layer_metrics_use_self_time_and_sum_failed_tasks():
    spans = [
        {"id": 0, "name": "stats", "op": 0, "parent": None, "start": 0.0, "end": 3.0,
         "jobs": 2, "tasks": 4, "failed_tasks": 1},
        {"id": 1, "name": "tables.load_table", "op": 0, "parent": 0, "start": 0.5, "end": 1.5,
         "jobs": 1, "tasks": 1, "failed_tasks": 0},
        {"id": 2, "name": "stats", "op": 1, "parent": None, "start": 4.0, "end": 5.0,
         "jobs": 1, "tasks": 1, "failed_tasks": 2},
    ]
    m = run.layer_metrics(spans)
    assert m["stats.busy_s"]["value"] == pytest.approx(1.5)  # median of 2.0 and 1.0
    assert m["stats.failed_tasks"]["value"] == 3
    assert m["tables.load_calls"]["value"] == 1
    assert m["text.busy_s"]["value"] == 0
    assert set(m) == set(run.LAYER_METRICS)


def test_runner_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    runner exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _traced_counts(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    info = json.loads(proc.stdout.splitlines()[-2])["info"]
    with open(os.path.join(ROOT, info["trace_file"])) as fh:
        spans = json.load(fh)["spans"]
    os.remove(os.path.join(ROOT, info["trace_file"]))
    counts, seq = {}, {}
    for s in spans:
        n = seq[s["op"]] = seq.get(s["op"], -1) + 1
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            counts[(s["op"], n, s["name"], k)] = s[k]
    return counts


@pytest.mark.parametrize("workload", ["catalog_onboard", "corpus_dedup"])
def test_traced_job_counts_repeat_for_one_seed(workload):
    first, second = _traced_counts(workload, 5), _traced_counts(workload, 5)
    ops = {k[0] for k in first} & {k[0] for k in second}
    assert ops
    pick = lambda counts: sorted((k, v) for k, v in counts.items() if k[0] in ops)  # noqa: E731
    assert pick(first) == pick(second)
