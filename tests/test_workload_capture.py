"""Spark-native workload capture: plan-derived mining feeds the same
scoring pipeline as SQL-text mining (the closed loop the reference can't
do — it only sees Trino from outside)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import scoring
from trino_adaptive_partitioning_tool_spark.plans.workload_capture import (
    WorkloadCapture,
)
from trino_adaptive_partitioning_tool_spark.sources import tables


def test_capture_and_score(spark):
    orders = tables.load_table(spark, SMOKE_SF_DIR, "orders")
    customer = tables.load_table(spark, SMOKE_SF_DIR, "customer")

    cap = WorkloadCapture(spark)
    n1 = cap.run(
        "cap_1",
        orders.join(customer, orders.o_custkey == customer.c_custkey).where(
            "c_acctbal > 100.0"
        ),
    )
    n2 = cap.run("cap_2", orders.where("o_orderstatus = 'F'"))
    assert n1 > 0 and n2 > 0

    logs, mined = cap.to_dataframes()
    assert logs.count() == 2
    kinds = {(r["query_id"], r["kind"], r["name"]) for r in mined.collect()}
    assert ("cap_1", "join_column", "o_custkey") in kinds
    assert ("cap_1", "where_column", "c_acctbal") in kinds
    assert ("cap_2", "where_column", "o_orderstatus") in kinds

    # plan-mined rows drive the same rollup the SQL-text miner drives
    perf = scoring.column_performance(logs, mined).collect()
    by_col = {r["column"]: r["col_execution_time_ms"] for r in perf}
    assert "o_custkey" in by_col and by_col["o_custkey"] >= 0


def test_partition_layout_discovery(spark, tmp_path):
    from trino_adaptive_partitioning_tool_spark.operators import transforms

    orders = tables.load_table(spark, SMOKE_SF_DIR, "orders")
    dest = str(tmp_path / "orders_applied")
    keys = transforms.apply_recommendation(
        orders, dest, ["month(o_orderdate)"]
    )
    assert keys == ["o_orderdate_month"]
    layout = tables.partition_layout(dest)
    assert set(layout) == {"o_orderdate_month"}
    assert all(len(v) == 7 for v in [layout["o_orderdate_month"][0]])  # yyyy-MM
    # the written table reads back with partition pruning available
    df = spark.read.parquet(dest)
    assert df.where(
        F.col("o_orderdate_month") == layout["o_orderdate_month"][0]
    ).count() > 0


def test_plan_cache_keyed_on_application_id(spark):
    """A memoized plan must be keyed by applicationId, not id(spark):
    a stopped session's id() can be reused by a new SparkSession object,
    which would resurrect a DataFrame bound to a dead session."""
    from trino_adaptive_partitioning_tool_spark import session
    from trino_adaptive_partitioning_tool_spark.queries import registry

    calls = {"n": 0}

    @registry.register("_cache_probe_test", memo=True)
    def _probe(s, sf_dir):
        calls["n"] += 1
        return s.range(1)

    try:
        fn = registry._QUERIES["_cache_probe_test"]
        fn(spark, "/x")
        fn(spark, "/x")
        assert calls["n"] == 1  # memoized within one session
        app_id = spark.sparkContext.applicationId
        key = (app_id, "plan", "/x", "_cache_probe_test")
        assert key in session._MEMO
        # a different applicationId (fresh context after stop()) misses
        assert (id(spark), "plan", "/x", "_cache_probe_test") not in session._MEMO
    finally:
        registry._QUERIES.pop("_cache_probe_test", None)
        session.evict(kind="plan", sf_dir="/x")


def test_memo_drops_stale_sessions_on_insert(spark):
    """Adding an entry drops every entry of another applicationId: a new
    SparkContext means the old one stopped, so its memos are dead."""
    from trino_adaptive_partitioning_tool_spark import session

    stale = ("app-stopped", "_memo_probe_test", None)
    session._MEMO[stale] = object()
    try:
        session.memo(spark, ("_memo_probe_test", None), object)
        assert stale not in session._MEMO
    finally:
        session._MEMO.pop(stale, None)
        session.evict(kind="_memo_probe_test")


def test_memo_concurrent_first_calls_build_once(spark):
    """Threads racing first calls to the same memo keys: each key builds
    once and every caller gets that one value (the per-key lock). More
    threads than cores and a short switch interval widen the race."""
    import sys
    import threading
    import time
    from collections import Counter

    from trino_adaptive_partitioning_tool_spark import session

    builds = Counter()
    results = {k: [] for k in range(4)}
    barrier = threading.Barrier(8)

    def build(k):
        builds[k] += 1
        time.sleep(0.05)  # hold the build open while other threads arrive
        return object()

    def first_calls():
        barrier.wait()
        for k in range(4):
            results[k].append(
                session.memo(
                    spark, ("_memo_probe_test", None, k), lambda: build(k)
                )
            )

    threads = [threading.Thread(target=first_calls) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert builds == Counter({k: 1 for k in range(4)})
        for got in results.values():
            assert len(got) == 8 and all(v is got[0] for v in got)
    finally:
        sys.setswitchinterval(interval)
        session.evict(kind="_memo_probe_test")


def test_driver_memory_sized_from_host(tmp_path, monkeypatch):
    """Unpinned, the driver heap is about half of MemTotal capped at
    16g; SPARK_GRAFT_DRIVER_MEM wins; an unreadable meminfo keeps 16g."""
    from trino_adaptive_partitioning_tool_spark.session import driver_memory

    def host(kb: int) -> str:
        p = tmp_path / f"meminfo{kb}"
        p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
        return str(p)

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(host(16_070 * 1024)) == "8035m"  # 15.7 GB host
    assert driver_memory(host(32 * 1024 * 1024)) == "16g"  # exactly 2 x 16g
    assert driver_memory(host(256 * 1024 * 1024)) == "16g"
    assert driver_memory(str(tmp_path / "missing")) == "16g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert driver_memory(host(16_070 * 1024)) == "1g"
