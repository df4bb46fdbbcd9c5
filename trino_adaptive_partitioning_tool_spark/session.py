"""SparkSession factory.

Replaces the reference's DBAPI connection bootstrap
(reference: src/trino_client.py:7-20 get_connection) — in the rebuild the
"connection" is a SparkSession and Spark SQL is the execution engine.

Tuned for the driver's local[32] harness but with cluster-safe defaults:
AQE (runtime re-plan, skew-join splitting, partition coalescing) is always
on, shuffle partitions default to the local core count instead of 200, and
Arrow is enabled for every pandas hand-off.

Also owns the session memo: what the advisor and the registered queries
build once per session (fixture frames, mined logs, profiles, analyses,
prepared plans, k-means fits, feed directories) lives in one dict here.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_MAX_DRIVER_MB = 16 * 1024


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """spark.driver.memory: SPARK_GRAFT_DRIVER_MEM when set, else about
    half the host's MemTotal capped at 16g — a fixed 16g heap grows past
    physical memory on a 15 GB host and the JVM is OOM-killed. 16g where
    the host's memory is unknown (no /proc/meminfo)."""
    pinned = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if pinned:
        return pinned
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    half_mb = kb // 2048
    return "16g" if half_mb >= _MAX_DRIVER_MB else f"{half_mb}m"


def get_spark(
    app_name: str = "trino-adaptive-partitioning-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    On a real cluster `spark.sql.shuffle.partitions` should be ~2-3x total
    executor cores (AQE coalesces down); locally we match the core count so
    tiny test shuffles don't fan out into 200 empty tasks.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (guide §3.1/§9) — shuffled-hash join enablement tried and
        # REJECTED: both the static preferSortMergeJoin=false flip and
        # the AQE maxShuffledHashJoinLocalMapThreshold runtime rewrite
        # measured ~5-8% faster on the join-heavy flagships at sf0.1,
        # but switching the join algorithm reorders double summation
        # and nation_market_share's round(sum(double),2) flips a cent
        # under the no-broadcast plan regime
        # (tests/test_scale_plans.py::test_joins_survive_no_broadcast_regime
        # guards exactly this cross-plan result stability). Sort-merge
        # keeps aggregate input order deterministic across plan
        # regimes; a deployment that accepts last-ulp drift on rounded
        # double sums can re-enable SHJ via extra_conf.
        # testdata writes TIMESTAMP(NANOS) parquet (events.ts), which Spark
        # rejects by default; read as long and cast back in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # r14 (guide §6, §2.2): let Spark's own scale-adaptive split
        # formula  maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/minPartitionNum))  track the
        # core count on small local files. The stock 4 MB open cost
        # FLOORS split size at 4 MB (a 15 MB table is at most 4 splits
        # regardless of cores); 1 MB reflects a local-SSD/page-cache
        # open cost and lets the ~15 MB testdata tables split ~15-way
        # at local[32] vs ~7-way at local[8] — the scan scales WITH the
        # cores — while at production sizes totalBytes/cores far
        # exceeds it and the formula lands on the stock 128 MB
        # behavior. 1 MB, not smaller: an r14 ABBA sweep measured the
        # finer 128 KB splits (19-32 tasks per ~2-15 MB file) LOSING
        # 2x on multi-scan queries to per-task overhead under this
        # host's virtualization steal (OPTIMIZATION_r14.md). Pairs with
        # the multi-row-group loader twin (sources/tables.
        # split_layout_dir): byte-range splits only parallelize when
        # row groups exist at that granularity.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (applicationId, kind, sf_dir, *rest) -> built value, and one build lock
# per key. applicationId is unique per SparkContext lifetime, unlike
# id(spark), which a new session object can reuse.
_MEMO: dict[tuple, Any] = {}
_LOCKS: dict[tuple, threading.Lock] = {}
_GUARD = threading.Lock()


def memo(spark: SparkSession, key: tuple, build: Callable[[], _T]) -> _T:
    """Return the value memoized under (applicationId, *key), calling
    ``build()`` at most once per key. ``key`` is (kind, sf_dir, *rest),
    with sf_dir None for session-wide entries: evict() filters on both.

    Each key has its own lock, so concurrent first calls build once while
    builds of other keys proceed; builds nest (an analysis builds its
    profile) but never cyclically, so the locks cannot deadlock. Adding
    an entry drops those of any other applicationId: a new SparkContext
    means the old one stopped, and its cached blocks went with it."""
    full = (spark.sparkContext.applicationId, *key)
    with _GUARD:
        if full in _MEMO:
            return _MEMO[full]
        lock = _LOCKS.setdefault(full, threading.Lock())
    with lock:
        with _GUARD:
            if full in _MEMO:
                return _MEMO[full]
        value = build()
        with _GUARD:
            for entries in (_MEMO, _LOCKS):
                for stale in [k for k in entries if k[0] != full[0]]:
                    del entries[stale]
            _MEMO[full] = value
    return value


def _frames(value: Any) -> list[DataFrame]:
    """The DataFrames a memo value holds: itself or its direct members."""
    if isinstance(value, dict):
        value = tuple(value.values())
    elif not isinstance(value, tuple):
        value = (value,)
    return [v for v in value if isinstance(v, DataFrame)]


def evict(
    app_id: str | None = None,
    kind: str | None = None,
    sf_dir: str | None = None,
) -> int:
    """Drop the memo entries matching every given filter (all entries
    when none is given) and unpersist the cached DataFrames they hold
    that no kept entry also holds. Unpersist failures (e.g. a stopped
    SparkContext) are swallowed: eviction always succeeds. Returns the
    number of entries dropped."""
    with _GUARD:
        keys = [
            k
            for k in _MEMO
            if (app_id is None or k[0] == app_id)
            and (kind is None or k[1] == kind)
            and (sf_dir is None or k[2] == sf_dir)
        ]
        dropped = [_MEMO.pop(k) for k in keys]
        for k in keys:
            _LOCKS.pop(k, None)
        kept = {id(df) for v in _MEMO.values() for df in _frames(v)}
    for value in dropped:
        for df in _frames(value):
            if df.is_cached and id(df) not in kept:
                try:
                    df.unpersist()
                except Exception:
                    pass
    return len(dropped)
