"""Plan-shape assertions for the headline queries: pushdown, pruning,
broadcast joins, codegen (the 100 TB efficiency contract, checked at
sf0.001 where plan shape is identical)."""

from __future__ import annotations

from conftest import SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.plans import inspect as pi
from trino_adaptive_partitioning_tool_spark.sources import tables
from trino_adaptive_partitioning_tool_spark.queries import registry

_QS = registry.queries()


def test_filter_pushdown_reaches_scan(spark):
    df = _QS["scan_filter_sort_limit"](spark, SMOKE_SF_DIR)
    pushed = " ".join(pi.pushed_filters(df))
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed


def test_column_pruning_on_scan(spark):
    df = _QS["scan_filter_sort_limit"](spark, SMOKE_SF_DIR)
    schemas = pi.scan_read_schemas(df)
    assert schemas, "expected a parquet FileScan"
    # only the 4 referenced columns read, not all 6 of orders
    assert all("o_orderdate" not in s and "o_orderpriority" not in s for s in schemas)


def test_star_join_broadcasts_dimensions(spark):
    df = _QS["region_revenue"](spark, SMOKE_SF_DIR)
    strategies = pi.join_strategies(df)
    assert strategies, "expected joins in the plan"
    # all dims fit under the broadcast threshold → no sort-merge shuffles
    assert all(s == "BroadcastHashJoin" for s in strategies)


def test_pricing_summary_stays_in_codegen(spark):
    df = _QS["pricing_summary"](spark, SMOKE_SF_DIR)
    assert pi.has_partial_aggregation(df)  # map-side combine pre-shuffle
    assert pi.shuffle_count(df) <= 1  # single agg shuffle, nothing else
    assert pi.codegen_span_count(df) >= 1  # finalized AQE plan, codegen'd


def test_date_filter_pushdown(spark):
    df = _QS["pricing_summary"](spark, SMOKE_SF_DIR)
    assert any("l_shipdate" in f for f in pi.pushed_filters(df))


def test_referenced_columns_plan_mining(spark):
    from trino_adaptive_partitioning_tool_spark.sources import tables

    orders = tables.load_table(spark, SMOKE_SF_DIR, "orders")
    customer = tables.load_table(spark, SMOKE_SF_DIR, "customer")
    df = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .where("c_acctbal > 100.0")
        .select("o_orderkey")
    )
    cols = pi.referenced_columns(df)
    assert "c_acctbal" in cols["filter_columns"]
    assert {"o_custkey", "c_custkey"} <= set(cols["join_columns"])


def test_tpch_sweep_dimension_joins_broadcast(spark):
    """The new shape sweep keeps dimension joins broadcast (no sort-merge
    shuffle of nation/supplier-sized sides at the test scale)."""
    for name in ("volume_shipping_bilateral", "returned_item_revenue_topk"):
        strategies = pi.join_strategies(_QS[name](spark, SMOKE_SF_DIR))
        assert strategies, f"{name}: expected joins"
        assert all(s == "BroadcastHashJoin" for s in strategies), (
            f"{name}: {strategies}"
        )


def test_q6_pushes_every_predicate(spark):
    df = _QS["simple_predicate_revenue"](spark, SMOKE_SF_DIR)
    pushed = " ".join(pi.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    assert pi.has_partial_aggregation(df)
    # scan reads only the 4 referenced lineitem columns
    schemas = pi.scan_read_schemas(df)
    assert schemas and all("l_orderkey" not in s for s in schemas)


def test_gap_fill_filter_pushdown(spark):
    df = _QS["daily_gap_fill"](spark, SMOKE_SF_DIR)
    assert any("value" in f for f in pi.pushed_filters(df))


def test_minhash_lsh_no_cartesian_and_partial_agg(spark):
    """The LSH candidate join must be an equi-join on (band, band_hash) —
    never a cartesian/broadcast-nested-loop — and the signature plan
    must be map-only: one MapInArrow kernel, no Window sort and no
    hash-partitioned Exchange (the token/shingle stream never shuffles;
    only the round-robin spread of ensure_parallelism may appear)."""
    import re

    from trino_adaptive_partitioning_tool_spark.operators import dedup

    docs = tables.load_table(spark, SMOKE_SF_DIR, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    plan = pi.physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    sig_plan = pi.physical_plan(dedup.minhash_signatures(docs))
    assert not re.search(r"\bWindow\b", sig_plan), sig_plan
    assert "hashpartitioning" not in sig_plan, sig_plan
    assert sig_plan.count("MapInArrow") == 1, sig_plan


def test_shingle_consumers_run_one_map_only_kernel(spark):
    """ngram_hashes and fingerprints hash shingles in the shared
    mapInArrow kernel: exactly one MapInArrow, no Window sort, and no
    Generate over tokens (ngram_hashes' one Generate explodes the
    kernel's hash array, above the kernel)."""
    import re

    from trino_adaptive_partitioning_tool_spark.operators import text as tops

    docs = tables.load_table(spark, SMOKE_SF_DIR, "documents")
    for df in (tops.ngram_hashes(docs, 5), tops.fingerprints(docs)):
        plan = pi.physical_plan(df)
        assert plan.count("MapInArrow") == 1, plan
        assert not re.search(r"\bWindow\b", plan), plan
        assert "hashpartitioning" not in plan, plan
        generates = re.findall(r"Generate .*", plan)
        assert all(g.startswith("Generate explode(hashes") for g in generates), plan
        if generates:
            assert plan.index("Generate") < plan.index("MapInArrow"), plan


def test_simhash_pairs_no_cartesian(spark):
    from trino_adaptive_partitioning_tool_spark.operators import dedup

    docs = tables.load_table(spark, SMOKE_SF_DIR, "documents")
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3)
    plan = pi.physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_constants_broadcast_not_collected(spark):
    """BM25's corpus constants (N, avgdl) must enter the plan as 1-row
    broadcasts, and term counting must keep map-side partial agg."""
    from trino_adaptive_partitioning_tool_spark.operators import text as tops
    from trino_adaptive_partitioning_tool_spark.sources import tables

    docs = tables.load_table(spark, SMOKE_SF_DIR, "documents")
    scored = tops.bm25_rank(docs, ["spark", "join"])
    plan = pi.physical_plan(scored)
    assert plan.count("BroadcastExchange") >= 2
    assert pi.has_partial_aggregation(scored)
    assert "CartesianProduct" not in plan


def test_plan_manifest_shape(spark):
    """plan_manifest (bench 'plans' block) reports exchanges, broadcast
    count, join strategies, and scan-level filter counts from one plan
    pass."""
    from trino_adaptive_partitioning_tool_spark.plans import inspect

    from conftest import SMOKE_SF_DIR
    from trino_adaptive_partitioning_tool_spark.sources import tables
    from pyspark.sql import functions as F

    li = tables.load_table(spark, SMOKE_SF_DIR, "lineitem")
    od = tables.load_table(spark, SMOKE_SF_DIR, "orders").where(
        F.col("o_orderkey") < 100
    )
    df = (
        li.join(F.broadcast(od), li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = inspect.plan_manifest(df)
    assert m["exchanges"] >= 1
    assert m["broadcasts"] >= 1
    assert m["joins"].get("BroadcastHashJoin", 0) >= 1
    assert m["pushed_filters"] >= 1  # o_orderkey < 100 reaches the scan
    assert m["partition_filters"] == 0
