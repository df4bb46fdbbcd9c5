"""Seeded input generators for the advisor benchmark.

Every input a workload feeds the program comes from here, and every
generator takes the seed as an argument: the same seed writes
byte-identical parquet files, another seed writes different ones. Each
writer returns a dict of the input properties the workload's numbers
depend on (row and statement counts, window overlap, repeated-text and
unparseable shares, NDV/date-span mix, planted duplicate shares), which
the runner prints beside its metrics.

Tables use the program's `sources/tables.TABLES` names and TPC-H/event
shaped columns, because `operators/recommend.view_columns_df` only
profiles views whose table name it knows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
LOG_START = dt.datetime(2025, 3, 1, tzinfo=UTC)
LOG_DAYS = 60
WINDOW_DAYS = 14
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "scroll", "signup", "logout")
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that")
WORDS = (
    "spark", "table", "query", "scan", "join", "filter", "group", "order",
    "value", "stream", "batch", "window", "vector", "column", "row", "key",
    "hash", "sort", "merge", "data", "part", "line", "fast", "slow", "big",
    "small", "agg", "customer", "index", "cache", "shard", "page", "block",
    "split", "plan", "stage", "task", "worker", "driver", "memory", "disk",
    "network", "latency", "budget", "tier", "layout", "bucket", "day",
    "month", "year", "range", "truncate", "identity", "profile", "score",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input), so adding one input never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def write_table(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts_array(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us", tz="UTC"))


def _epoch_us(d: dt.datetime) -> int:
    return int(d.timestamp() * 1_000_000)


# ---------------------------------------------------------------------------
# Catalog tables


def _names(prefix: str, ids: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in ids.tolist()])


def _choice(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _dense_dates(rng, n: int, start: dt.datetime, days: int) -> np.ndarray:
    """Timestamps spread over `days` whole days from `start`."""
    base = _epoch_us(start)
    day = rng.integers(0, days, n)
    sec = rng.integers(0, 86_400, n)
    return base + (day * 86_400 + sec) * 1_000_000


def _sparse_dates(rng, n: int, dates: list[dt.datetime]) -> np.ndarray:
    """Timestamps on a few fixed calendar dates (snapshot-style columns)."""
    picks = np.array([_epoch_us(d) for d in dates], dtype=np.int64)
    return picks[rng.integers(0, len(picks), n)]


def tpch_catalog(out_dir: str, seed: int, scale: float) -> dict:
    """orders/lineitem/customer/part/supplier/nation/events at TPC-H-like
    proportions (scale 1.0 = 1.5M orders). Dates are dense, so every date
    column profiles to day granularity, as the sf testdata does."""
    rng = _rng(seed, "tpch")
    n_orders = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(int(10_000 * scale), 10)
    n_line = 4 * n_orders
    n_events = int(1_000_000 * scale)
    d92 = dt.datetime(1992, 1, 1, tzinfo=UTC)
    rows: dict[str, int] = {}
    files: dict[str, pa.Table] = {}

    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    files["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderstatus": _choice(("F", "O", "P"), rng.integers(0, 3, n_orders)),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": _ts_array(_dense_dates(rng, n_orders, d92, 2_400)),
        "o_orderpriority": _choice(PRIORITIES, rng.integers(0, 5, n_orders)),
    })
    files["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(1, n_orders + 1, n_line)),
        "l_partkey": rng.integers(1, n_part + 1, n_line),
        "l_suppkey": rng.integers(1, n_supp + 1, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _choice(("A", "N", "R"), rng.integers(0, 3, n_line)),
        "l_linestatus": _choice(("F", "O"), rng.integers(0, 2, n_line)),
        "l_shipdate": _ts_array(_dense_dates(rng, n_line, d92, 2_500)),
    })
    ckeys = np.arange(1, n_cust + 1, dtype=np.int64)
    files["customer"] = pa.table({
        "c_custkey": ckeys,
        "c_name": _names("Customer", ckeys),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9_999, n_cust), 2),
        "c_mktsegment": _choice(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    pkeys = np.arange(1, n_part + 1, dtype=np.int64)
    files["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": _names("Part", pkeys),
        "p_brand": _choice(
            tuple(f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)),
            rng.integers(0, 25, n_part),
        ),
        "p_type": _choice(
            ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"),
            rng.integers(0, 6, n_part),
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2_100, n_part), 2),
    })
    skeys = np.arange(1, n_supp + 1, dtype=np.int64)
    files["supplier"] = pa.table({
        "s_suppkey": skeys,
        "s_name": _names("Supplier", skeys),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9_999, n_supp), 2),
    })
    files["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    files["events"] = pa.table({
        "event_id": np.arange(1, n_events + 1, dtype=np.int64),
        "ts": _ts_array(np.sort(_dense_dates(
            rng, n_events, dt.datetime(2024, 1, 1, tzinfo=UTC), 540
        ))),
        "user_id": rng.zipf(1.3, n_events).clip(1, 50_000).astype(np.int64),
        "event_type": _choice(EVENT_TYPES, rng.integers(0, 6, n_events)),
        "value": np.round(rng.exponential(25.0, n_events), 3),
        "props": _choice(
            tuple(f'{{"k":{i}}}' for i in range(64)),
            rng.integers(0, 64, n_events),
        ),
    })
    size = 0
    for name, table in files.items():
        size += write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"tables": rows, "table_rows": sum(rows.values()), "bytes": size}


# ---------------------------------------------------------------------------
# Views DDL

VIEW_DDL = {
    "orders": "SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderdate >= DATE '1992-01-01'",
    "lineitem": "SELECT l.l_orderkey, l.l_partkey, l.l_quantity, l.l_extendedprice, l.l_shipdate FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate < DATE '1999-01-01'",
    "customer": "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_acctbal > 0.0",
    "part": "SELECT p.p_partkey, p.p_name, p.p_brand, p.p_size FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey",
    "events": "SELECT event_id, ts, user_id, event_type, value FROM events WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'",
}


def write_views(path: str, seed: int, names: list[str], ddl: dict[str, str],
                tag: str = "") -> dict:
    """catalog_views rows (the `fixtures.CATALOG_VIEW_SCHEMA` shape): one
    MATERIALIZED VIEW per table plus one plain VIEW the advisor must skip."""
    rng = _rng(seed, f"views:{tag}:" + ",".join(names))
    rows = [
        ("spark_catalog", "analytics", t, "MATERIALIZED VIEW",
         f"CREATE MATERIALIZED VIEW analytics.{t} AS {ddl[t]}",
         int(rng.integers(3, 30)))
        for t in names
    ]
    rows.append((
        "spark_catalog", "analytics", "recent_orders", "VIEW",
        "CREATE VIEW analytics.recent_orders AS SELECT * FROM orders", 1,
    ))
    cols = ("table_catalog", "table_schema", "table_name", "table_type",
            "ddl", "query_count")
    write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), path)
    return {"views": len(names), "view_names": [f"analytics.{t}" for t in names]}


# ---------------------------------------------------------------------------
# Query-history logs

# (weight, base execution ms, template). Slots: {d} {d2} date, {ts}
# timestamp, {n} limit, {seg} segment, {st} status, {u} user, {q} qty,
# {x} balance, {p} priority. Mixes joins, filters, LIMIT, CTEs, derived
# tables and IN-subqueries over the tpch_catalog tables.
REFRESH_TEMPLATES = (
    (8, 1_200, "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate >= DATE '{d}' ORDER BY o_totalprice DESC LIMIT {n}"),
    (8, 15_000, "SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = '{seg}'"),
    (7, 32_000, "SELECT l_orderkey, sum(l_extendedprice) FROM lineitem WHERE l_shipdate < DATE '{d}' GROUP BY l_orderkey"),
    (6, 90_000, "SELECT l.l_orderkey, o.o_orderdate FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderdate BETWEEN DATE '{d}' AND DATE '{d2}'"),
    (5, 28_000, "WITH recent AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderdate >= DATE '{d}') SELECT c.c_mktsegment, count(*) FROM recent r JOIN customer c ON r.o_custkey = c.c_custkey GROUP BY c.c_mktsegment"),
    (5, 18_000, "SELECT p_brand, avg(p_retailprice) FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > {q}) GROUP BY p_brand"),
    (9, 7_000, "SELECT event_type, count(*) FROM events WHERE ts > TIMESTAMP '{ts}' AND user_id = {u} GROUP BY event_type"),
    (9, 600, "SELECT event_id, value FROM events WHERE user_id = {u} LIMIT {n}"),
    (4, 25_000, "SELECT t.c_nationkey, sum(t.o_totalprice) FROM (SELECT c.c_nationkey, o.o_totalprice FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_orderstatus = '{st}') t GROUP BY t.c_nationkey"),
    (3, 300, "SELECT n_name, count(*) FROM nation JOIN supplier ON nation.n_nationkey = supplier.s_nationkey GROUP BY n_name"),
    (3, 450, "SELECT s_name FROM supplier WHERE s_acctbal > {x}"),
    (5, 41_000, "SELECT p.p_type, sum(l.l_extendedprice) FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey WHERE l.l_shipdate >= DATE '{d}' GROUP BY p.p_type"),
    (4, 9_000, "SELECT o_orderpriority, count(*) FROM orders WHERE o_orderdate BETWEEN DATE '{d}' AND DATE '{d2}' AND o_orderpriority = '{p}' GROUP BY o_orderpriority"),
    (3, 2_500, "SELECT c_mktsegment, count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = '{st}') GROUP BY c_mktsegment"),
)
UNPARSEABLE = (
    "EXPLAIN ANALYZE ??? not really sql ({n}",
    "SHOW TABLES FROM analytics LIKE '{seg}'",
    "DESCRIBE orders",
    "CALL system.sync_partition_metadata('analytics', 'events', 'FULL')",
    "SET SESSION query_max_run_time = '{n}m'",
)


def _slot_values(rng: np.random.Generator, n: int) -> dict[str, list]:
    """`n` draws for every template slot, from small value pools, so
    templated texts repeat the way dashboards and scheduled jobs repeat in
    real logs."""
    d = np.datetime64("1992-01-01") + rng.integers(0, 240, n) * 10
    d2 = d + rng.integers(1, 4, n) * 30
    return {
        "d": np.datetime_as_string(d).tolist(),
        "d2": np.datetime_as_string(d2).tolist(),
        "ts": [f"2024-{m:02d}-01 00:00:00" for m in rng.integers(1, 13, n).tolist()],
        "n": np.array([10, 20, 50, 100])[rng.integers(0, 4, n)].tolist(),
        "seg": [SEGMENTS[i] for i in rng.integers(0, 5, n).tolist()],
        "st": [("F", "O", "P")[i] for i in rng.integers(0, 3, n).tolist()],
        "u": (rng.zipf(1.6, n) % 5_000 + 1).tolist(),
        "q": (rng.integers(1, 11, n) * 5).tolist(),
        "x": (rng.integers(0, 10, n) * 1_000).tolist(),
        "p": [PRIORITIES[i] for i in rng.integers(0, 5, n).tolist()],
    }


def _log_table(rng, ids, texts, create_us, base_ms, parsed) -> pa.Table:
    n = len(texts)
    exec_ms = (base_ms * rng.lognormal(0.0, 0.6, n)).astype(np.int64)
    mask = ~parsed  # unparseable statements carry no runtime metrics
    def metric(scale: float) -> pa.Array:
        return pa.array((exec_ms * scale).astype(np.int64), mask=mask)
    return pa.table({
        "query_id": pa.array(ids),
        "query": pa.array(texts),
        "create_time": _ts_array(create_us),
        "execution_time_ms": metric(1.0),
        "cpu_time_ms": metric(0.75),
        "scheduled_time_ms": metric(0.07),
        "input_bytes": metric(8_000.0),
        "peak_memory_bytes": metric(40_000.0),
        "peak_total_memory_bytes": metric(60_000.0),
    })


def _templated(rng, n: int, templates, unparseable_share: float):
    weights = np.array([t[0] for t in templates], dtype=np.float64)
    pick = rng.choice(len(templates), size=n, p=weights / weights.sum()).tolist()
    bad = rng.random(n) < unparseable_share
    bad_pick = rng.integers(0, len(UNPARSEABLE), n).tolist()
    slots = _slot_values(rng, n)
    texts: list[str] = []
    base = np.empty(n, dtype=np.float64)
    for i in range(n):
        if bad[i]:
            tpl, base[i] = UNPARSEABLE[bad_pick[i]], 1.0
        else:
            _, base[i], tpl = templates[pick[i]]
        texts.append(tpl.format_map(_Row(slots, i)))
    return texts, base, ~bad


class _Row(dict):
    """format_map view of row `i` of the slot draws."""

    def __init__(self, slots: dict[str, list], i: int):
        super().__init__()
        self.slots, self.i = slots, i

    def __missing__(self, key: str):
        return self.slots[key][self.i]


def window_bounds(op: int) -> tuple[dt.datetime, dt.datetime]:
    """The op-th 14-day window, sliding one day per op over the log."""
    start = LOG_START + dt.timedelta(days=op % (LOG_DAYS - WINDOW_DAYS + 1))
    return start, start + dt.timedelta(days=WINDOW_DAYS)


def write_refresh_log(path: str, seed: int, n_statements: int) -> dict:
    """`n_statements` templated statements spread over LOG_DAYS days."""
    rng = _rng(seed, "refresh_log")
    texts, base, parsed = _templated(rng, n_statements, REFRESH_TEMPLATES, 0.02)
    span_us = LOG_DAYS * 86_400 * 1_000_000
    create = np.sort(_epoch_us(LOG_START) + rng.integers(0, span_us, n_statements))
    ids = [f"q{seed}_{i:07d}" for i in range(n_statements)]
    write_table(_log_table(rng, ids, texts, create, base, parsed), path)

    day = (create - _epoch_us(LOG_START)) // (86_400 * 1_000_000)
    per_day = np.bincount(day, minlength=LOG_DAYS)
    windows = LOG_DAYS - WINDOW_DAYS + 1
    sizes = [int(per_day[w:w + WINDOW_DAYS].sum()) for w in range(windows)]
    shared = [int(per_day[w + 1:w + WINDOW_DAYS].sum()) for w in range(windows - 1)]
    return {
        "statements": n_statements,
        "days": LOG_DAYS,
        "window_days": WINDOW_DAYS,
        "windows": windows,
        "window_rows_median": float(np.median(sizes)),
        # share of an op's rows that the previous op's window also held
        "window_overlap_share": round(sum(shared) / sum(sizes[1:]), 4),
        "repeated_text_share": round(1 - len(set(texts)) / n_statements, 4),
        "unparseable_share": round(float((~parsed).mean()), 4),
        "window_rows": sizes,
    }


# ---------------------------------------------------------------------------
# catalog_onboard: never-seen catalogs with a seeded NDV / date-span mix

# Per table one column for each transform branch of the advisor's policy:
# a timestamp (its distinct day/month/year mix picks day, month or year),
# an NDV > 1,000 key (bucket), a low-NDV wide-range int (truncate) and a
# low-NDV string (identity).
ONBOARD_COLUMNS = {
    "orders": {"date": "o_orderdate", "bucket": "o_custkey",
               "truncate": "o_clerk", "identity": "o_orderpriority"},
    "lineitem": {"date": "l_shipdate", "bucket": "l_partkey",
                 "truncate": "l_suppkey", "identity": "l_returnflag"},
    "events": {"date": "ts", "bucket": "user_id",
               "truncate": "session_id", "identity": "event_type"},
}
ONBOARD_TABLES = tuple(ONBOARD_COLUMNS)
BRANCHES = ("day", "bucket", "month", "truncate", "year", "identity")
DATE_GRAINS = ("day", "month", "year")


def onboard_mix(index: int) -> dict[str, str]:
    """The branch each table's hot column should take in catalog `index`.
    It cycles with the catalog index (tables two steps apart), so any two
    consecutive catalogs cover all six branches and every run, whatever
    its seed, sees the same branch sequence; the seed varies the data."""
    return {t: BRANCHES[(index + 2 * k) % len(BRANCHES)]
            for k, t in enumerate(ONBOARD_TABLES)}


def _date_column(rng, n: int, grain: str) -> np.ndarray:
    """A timestamp column whose distinct day/month/year counts land on
    `grain` under the stats.with_date_granularity thresholds (day when
    days > 20 x months; month when months > 8 x years; else year)."""
    year = int(rng.integers(2015, 2024))
    if grain == "day":  # dense inside one calendar month
        start = dt.datetime(year, int(rng.integers(1, 13)), 1, tzinfo=UTC)
        return _dense_dates(rng, n, start, 28)
    if grain == "month":  # month-end snapshots of one calendar year
        dates = [dt.datetime(year, m, 28, tzinfo=UTC) for m in range(1, 13)]
        return _sparse_dates(rng, n, dates)
    # fiscal year-end snapshots over a decade
    dates = [dt.datetime(year - k, 6, 30, tzinfo=UTC) for k in range(10)]
    return _sparse_dates(rng, n, dates)


def _int_column(rng, n: int, kind: str, lo: int) -> np.ndarray:
    if kind == "bucket":  # NDV well above 1,000
        return rng.integers(lo, lo + int(rng.integers(3_000, 12_000)), n)
    # truncate: NDV <= 1,000 but value range > 10,000 (>= 19 x 600)
    ndv = int(rng.integers(20, 40))
    return lo + rng.choice(np.arange(ndv) * int(rng.integers(600, 1_200)), n)


def write_onboard_catalog(cat_dir: str, log_path: str, views_path: str,
                          seed: int, index: int, rows: int) -> dict:
    """One never-seen catalog: orders/lineitem/events tables, their views
    DDL and a small unique log whose joins make the hot column
    `onboard_mix(index)` picks for each table win the advisor's score."""
    rng = _rng(seed, f"onboard:{index}")
    mix = {t: {"column": ONBOARD_COLUMNS[t]["date" if b in DATE_GRAINS else b],
               "branch": b}
           for t, b in onboard_mix(index).items()}

    def dates(t: str, col: str, n: int) -> pa.Array:
        grain = mix[t]["branch"] if mix[t]["column"] == col else "day"
        return _ts_array(_date_column(rng, n, grain))

    def ints(t: str, col: str, n: int, default: str, lo: int = 1) -> np.ndarray:
        kind = mix[t]["branch"] if mix[t]["column"] == col else default
        return _int_column(rng, n, kind, lo)

    n_o, n_l, n_e = rows, 3 * rows, 2 * rows
    tables = {
        "orders": pa.table({
            "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
            "o_custkey": ints("orders", "o_custkey", n_o, "bucket"),
            "o_orderstatus": _choice(("F", "O", "P"), rng.integers(0, 3, n_o)),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_o), 2),
            "o_orderdate": dates("orders", "o_orderdate", n_o),
            "o_orderpriority": _choice(PRIORITIES, rng.integers(0, 5, n_o)),
            "o_clerk": ints("orders", "o_clerk", n_o, "truncate", 1_000),
        }),
        "lineitem": pa.table({
            "l_orderkey": np.sort(rng.integers(1, n_o + 1, n_l)),
            "l_partkey": ints("lineitem", "l_partkey", n_l, "bucket"),
            "l_suppkey": ints("lineitem", "l_suppkey", n_l, "truncate"),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.int64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n_l), 2),
            "l_returnflag": _choice(("A", "N", "R"), rng.integers(0, 3, n_l)),
            "l_shipdate": dates("lineitem", "l_shipdate", n_l),
        }),
        "events": pa.table({
            "event_id": np.arange(1, n_e + 1, dtype=np.int64),
            "ts": dates("events", "ts", n_e),
            "user_id": ints("events", "user_id", n_e, "bucket"),
            "session_id": ints("events", "session_id", n_e, "truncate", 10_000),
            "event_type": _choice(EVENT_TYPES, rng.integers(0, 6, n_e)),
            "value": np.round(rng.exponential(25.0, n_e), 3),
        }),
    }
    size = 0
    for name, table in tables.items():
        size += write_table(table, os.path.join(cat_dir, f"{name}.parquet"))

    # The log joins each table's hot column against a dimension many
    # times, so its log-join usage outweighs every other column's
    # cardinality bonus and execution-time points.
    hot = {t: m["column"] for t, m in mix.items()}
    tpl = (
        (6, 20_000, f"SELECT o.o_orderkey, d.label FROM orders o JOIN dim_o d ON o.{hot['orders']} = d.k WHERE o.o_orderstatus = '{{st}}'"),
        (6, 30_000, f"SELECT l.l_orderkey, sum(l.l_extendedprice) FROM lineitem l JOIN dim_l d ON l.{hot['lineitem']} = d.k WHERE l.l_quantity > {{q}} GROUP BY l.l_orderkey"),
        (6, 12_000, f"WITH e AS (SELECT * FROM events WHERE event_type = 'click') SELECT d.label, count(*) FROM e JOIN dim_e d ON e.{hot['events']} = d.k GROUP BY d.label"),
        (3, 900, "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '{st}' LIMIT {n}"),
        (3, 45_000, "SELECT l.l_orderkey, o.o_totalprice FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE l.l_quantity > {q}"),
        (2, 700, "SELECT event_id, value FROM events WHERE value > {q} LIMIT {n}"),
    )
    n_stmt = int(rng.integers(1_000, 2_001))
    texts, base, parsed = _templated(rng, n_stmt, tpl, 0.02)
    create = np.sort(_epoch_us(LOG_START) + rng.integers(0, 30 * 86_400 * 1_000_000, n_stmt))
    ids = [f"c{seed}_{index}_{i:05d}" for i in range(n_stmt)]
    write_table(_log_table(rng, ids, texts, create, base, parsed), log_path)

    ddl = {
        "orders": "SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_clerk FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
        "lineitem": "SELECT l_orderkey, l_partkey, l_suppkey, l_shipdate FROM lineitem WHERE l_quantity > 0",
        "events": "SELECT event_id, ts, user_id, session_id FROM events WHERE value >= 0.0",
    }
    write_views(views_path, seed, list(ONBOARD_TABLES), ddl, tag=str(index))
    table_rows = sum(t.num_rows for t in tables.values())
    return {
        "index": index,
        "table_rows": table_rows,
        "bytes": size,
        "statements": n_stmt,
        "unparseable_share": round(float((~parsed).mean()), 4),
        "repeated_text_share": round(1 - len(set(texts)) / n_stmt, 4),
        "mix": mix,
    }


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted exact and near duplicates


def corpus(seed: int, batch: int, n_docs: int, exact_share: float,
           near_share: float) -> tuple[pa.Table, dict]:
    """`n_docs` documents: unique originals, then exact copies and
    near-copies (two words substituted, >= 0.7 shingle Jaccard for the
    generated lengths) of randomly chosen originals. Returns the table and
    the planted groups/pairs the dedup checks look for."""
    rng = _rng(seed, f"corpus:{batch}")
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    vocab = np.array(WORDS + STOPWORDS)
    # stopwords are weighted up so quality scores spread realistically
    p = np.r_[np.full(len(WORDS), 1.0), np.full(len(STOPWORDS), 4.0)]
    p /= p.sum()
    lengths = rng.integers(40, 120, n_orig)
    words = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    cuts = np.cumsum(lengths)[:-1]
    originals = [list(w) for w in np.split(words, cuts)]
    docs = [" ".join(vocab[w]) for w in originals]

    exact_src = rng.integers(0, n_orig, n_exact)
    for s in exact_src.tolist():
        docs.append(docs[s])
    near_src = rng.integers(0, n_orig, n_near)
    for s in near_src.tolist():
        toks = list(originals[s])
        for pos in rng.choice(len(toks), 2, replace=False).tolist():
            toks[pos] = (toks[pos] + 1 + int(rng.integers(0, len(vocab) - 1))) % len(vocab)
        docs.append(" ".join(vocab[toks]))

    # shuffle so copies are not adjacent to their originals: doc k gets
    # id base + perm[k] and the table is written in id order
    base = batch * 10_000_000
    perm = rng.permutation(n_docs)
    ids = perm.astype(np.int64) + base
    text = [None] * n_docs
    for k, d in enumerate(docs):
        text[perm[k]] = d
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64) + base,
        "text": pa.array(text),
    })
    groups: dict[int, set[int]] = {}
    for k, s in enumerate(exact_src.tolist()):
        groups.setdefault(int(ids[s]), {int(ids[s])}).add(int(ids[n_orig + k]))
    near_pairs = [
        tuple(sorted((int(ids[s]), int(ids[n_orig + n_exact + k]))))
        for k, s in enumerate(near_src.tolist())
    ]
    return table, {
        "docs": n_docs,
        "exact_groups": [sorted(g) for g in groups.values()],
        "near_pairs": near_pairs,
        "planted_exact_share": round(n_exact / n_docs, 4),
        "planted_near_share": round(n_near / n_docs, 4),
    }
