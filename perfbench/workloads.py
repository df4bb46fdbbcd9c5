"""The three workloads. Each drives the program only through its public
functions, one closed-loop client in one process: the next op starts
when the previous one has returned, like an operator waiting on the CLI
or on the live dashboard's refresh.

Every workload is built as cls(spark, seed, traced) and provides:
  steady_ops           ops measured after the first one: a fixed count, so
                       the still-warming JVM weighs the same in every run
  generate(dir)        write the run's inputs; returns their properties
  bind(dir, inputs)    point the workload at generated inputs
  prepare(i)           write op i's own inputs, untimed
  op(i, tracer)        one timed op -> (items, result). Without a tracer it
                       calls the program's entry points; with one it
                       replays them as the layer calls the program makes,
                       each layer materialized in its own span.
                       result["answer"] must be equal either way.
  check(i, result)     untimed correctness checks -> (errors, fields to
                       attach to the op's spans by span name)
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

import checks
import gen
from trino_adaptive_partitioning_tool_spark.operators import (
    dedup, mining, recommend, scoring, stats, text, transforms,
)
from trino_adaptive_partitioning_tool_spark.sources import tables

# Input sizes, chosen so a run takes about a minute on a 4-core host.
REFRESH_STATEMENTS = 50_000
REFRESH_SCALE = 0.01
ONBOARD_ROWS = 5_000
CORPUS_DOCS = 5_000
CORPUS_EXACT_SHARE = 0.05
CORPUS_NEAR_SHARE = 0.05
PROBE_SUM = {"orders": "o_orderkey", "lineitem": "l_orderkey", "events": "event_id"}


def _window_filter(op: int):
    start, end = gen.window_bounds(op)
    return (F.col("create_time") >= F.lit(start)) & (F.col("create_time") < F.lit(end))


def _rec_rows(rows) -> list[tuple]:
    return sorted(
        (r["view"], tuple(r["partition_keys"]), tuple(r["transforms"]),
         round(float(r["total_score"]), 6), r["script"])
        for r in rows
    )


def _top5(resource_df) -> list[tuple]:
    return [
        (r["query_id"], round(float(r["resource_score"]), 9))
        for r in resource_df.orderBy(F.col("resource_score").desc(), "query_id")
        .select("query_id", "resource_score").limit(5).collect()
    ]


def _check_views(recs, view_names: list[str]) -> list[str]:
    got = sorted(r[0] for r in recs)
    if got != sorted(view_names):
        return [f"recommendations for {got}, expected one per view {sorted(view_names)}"]
    return []


class Advisor:
    """Shared by log_refresh and catalog_onboard: run_analysis and its
    traced replay."""

    def __init__(self, spark):
        self.spark = spark
        self.profiles: dict[tuple, object] = {}  # the replay's per-catalog profile

    def analysis(self, sf_dir, logs_df, views_df, time_filter):
        res = recommend.run_analysis(
            self.spark, sf_dir, logs_df=logs_df, views_df=views_df,
            time_filter=time_filter,
        )
        return _rec_rows(res["recommendations"].collect()), res

    def replay(self, tracer, op, sf_dir, logs_df, views_df, time_filter,
               queries: int, refresh: bool):
        """recommend.run_analysis's calls, one span per layer. Per-op frames
        are unpersisted afterwards; only the profile is reused across ops,
        as the program reuses it."""
        spark = self.spark
        logs = logs_df.where(time_filter) if time_filter is not None else logs_df
        views = views_df.where(F.col("table_type") == "MATERIALIZED VIEW")
        with tracer.span("mining", op) as s:
            mined = mining.mine_query_log(logs).cache()
            row = mined.agg(F.count(F.lit(1)), F.count_distinct("query_id")).first()
            s.update(queries=queries, rows_out=row[0], parsed_ratio=row[1] / max(queries, 1))
        with tracer.span("recommend.view_columns", op):
            candidates, table_names = recommend.view_columns_df(spark, sf_dir, views)
        key = (sf_dir, tuple(table_names))
        profiled = self.profiles.get(key)
        if profiled is None:
            with tracer.span("stats", op) as s:
                profiled = stats.profile_tables(
                    {t: tables.load_table(spark, sf_dir, t) for t in table_names},
                    exact=False, percentiles=True,
                ).persist()
                prof = profiled.select("table", "total_count").collect()
                s["columns"] = len(prof)
                s["rows_scanned"] = sum(dict((r[0], r[1]) for r in prof).values())
            self.profiles[key] = profiled
        with tracer.span("scoring", op):
            usage = scoring.weighted_column_usage(
                candidates.select("view", "column"), views, logs, mined
            ).cache()
            col_perf = scoring.column_performance(logs, mined).cache()
            scored = scoring.partition_scores(candidates, usage, profiled, col_perf).cache()
            scored.count()
            top = scoring.top_candidates(scored)
            top5 = _top5(scoring.resource_scores(logs)) if refresh else None
        with tracer.span("transforms", op):
            scripts = transforms.partition_scripts(transforms.with_transforms(top), views)
            recs = _rec_rows(scripts.collect())
        for df in (mined, usage, col_perf, scored):
            df.unpersist()
        return recs, top5


class LogRefresh:
    """Fixed catalog, one big query-history log; op = run_analysis over a
    14-day window sliding one day per op, then the top-5 resource scores."""

    name = "log_refresh"
    steady_ops = 3

    def __init__(self, spark, seed: int, traced: bool = False):
        self.spark, self.seed = spark, seed
        self.advisor = Advisor(spark)

    def generate(self, d: str) -> dict:
        return {
            "catalog": gen.tpch_catalog(os.path.join(d, "catalog"), self.seed, REFRESH_SCALE),
            "log": gen.write_refresh_log(os.path.join(d, "log.parquet"), self.seed,
                                         REFRESH_STATEMENTS),
            "views": gen.write_views(os.path.join(d, "views.parquet"), self.seed,
                                     list(gen.VIEW_DDL), gen.VIEW_DDL),
        }

    def bind(self, d: str, inputs: dict) -> None:
        self.dir, self.inputs = d, inputs
        self.logs = self.spark.read.parquet(os.path.join(d, "log.parquet"))
        self.views = self.spark.read.parquet(os.path.join(d, "views.parquet"))

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int, tracer=None):
        log = self.inputs["log"]
        rows = log["window_rows"][i % log["windows"]]
        sf = os.path.join(self.dir, "catalog")
        if tracer is None:
            recs, res = self.advisor.analysis(sf, self.logs, self.views, _window_filter(i))
            top5 = _top5(res["resource_scores"])
        else:
            recs, top5 = self.advisor.replay(tracer, i, sf, self.logs, self.views,
                                             _window_filter(i), rows, refresh=True)
        return rows, {"answer": (recs, top5)}

    def check(self, i: int, result: dict):
        return _check_views(result["answer"][0], self.inputs["views"]["view_names"]), {}


class CatalogOnboard:
    """Per op a catalog the process has never seen, a small unique log,
    run_analysis, then the CLI's --execute: apply each view's top
    transform."""

    name = "catalog_onboard"
    steady_ops = 1  # a second op added 11-14 s a run and did not lower the spread

    def __init__(self, spark, seed: int, traced: bool = False):
        self.spark, self.seed, self.traced = spark, seed, traced
        self.advisor = Advisor(spark)
        self.catalogs: dict[int, dict] = {}
        self.branches: Counter = Counter()  # transform kinds applied

    def _write(self, index: int, rows: int, suffix: str = "") -> dict:
        cdir = os.path.join(self.dir, f"cat{index}{suffix}")
        info = gen.write_onboard_catalog(
            os.path.join(cdir, "tables"), os.path.join(cdir, "log.parquet"),
            os.path.join(cdir, "views.parquet"), self.seed, index, rows,
        )
        return {**info, "dir": cdir}

    def generate(self, d: str) -> dict:
        self.dir = d
        return {"first": self._write(0, ONBOARD_ROWS)}

    def bind(self, d: str, inputs: dict) -> None:
        self.dir, self.inputs = d, inputs
        self.catalogs = {0: inputs["first"]}

    def prepare(self, i: int) -> None:
        """Write op i's catalog (untimed, before the op). A traced run
        writes an identical copy for the replay, so neither pass finds the
        program's path-keyed caches (split layout, inferred schema,
        profile) warmed by the other."""
        if i not in self.catalogs:
            self.catalogs[i] = self._write(i, ONBOARD_ROWS)
        if self.traced:
            self._write(i, ONBOARD_ROWS, "_traced")

    def op(self, i: int, tracer=None):
        info = self.catalogs[i]
        cdir = info["dir"] if tracer is None else info["dir"] + "_traced"
        logs = self.spark.read.parquet(os.path.join(cdir, "log.parquet"))
        views = self.spark.read.parquet(os.path.join(cdir, "views.parquet"))
        sf = os.path.join(cdir, "tables")
        out = os.path.join(cdir, "applied")
        if tracer is None:
            recs, _ = self.advisor.analysis(sf, logs, views, None)
            applied = self._apply(recs, sf, out)
        else:
            recs, _ = self.advisor.replay(tracer, i, sf, logs, views, None,
                                          info["statements"], refresh=False)
            with tracer.span("transforms.apply", i):
                applied = self._apply(recs, sf, out)
        return info["table_rows"], {
            "answer": (recs, [a[1] for a in applied]), "applied": applied,
            "tables": sf, "out": out,
        }

    def _apply(self, recs, sf: str, out: str) -> list:
        applied = []
        for view, _keys, trans, _score, _script in recs:
            if not trans:
                continue
            table = view.split(".")[-1]
            dest = os.path.join(out, table)
            keys = transforms.apply_recommendation(
                tables.load_table(self.spark, sf, table), dest, list(trans)
            )
            applied.append((table, trans[0], keys[0], dest))
        return applied

    def check(self, i: int, result: dict):
        """Check that each table took the branch its generated mix plants,
        check every applied layout independently, then probe the biggest
        partition of each table through a pruned read and compare with the
        raw file."""
        mix = self.catalogs[i]["mix"]
        recs, applied = result["answer"][0], result["applied"]
        errors = _check_views(recs, [f"analytics.{t}" for t in gen.ONBOARD_TABLES])
        if len(applied) != len(gen.ONBOARD_TABLES):
            errors.append(f"{len(applied)} tables applied, expected {len(gen.ONBOARD_TABLES)}")
        counts = dict.fromkeys(("rows_written", "files_written", "bytes_written", "partitions"), 0)
        for table, transform, key, dest in applied:
            branch = transform.split("(")[0] if "(" in transform else "identity"
            self.branches[branch] += 1
            if branch != mix[table]["branch"]:
                errors.append(f"{table}: applied {transform}, planted branch "
                              f"{mix[table]['branch']}")
            raw = os.path.join(result["tables"], f"{table}.parquet")
            errs, layout = checks.check_applied_layout(dest, raw, transform, key)
            errors += errs
            for k in counts:
                counts[k] += layout[k]
            value = max(sorted(layout["per_value"]), key=layout["per_value"].get)
            want = checks.raw_probe(raw, transform, value, PROBE_SUM[table])
            got = (self.spark.read.parquet(dest)
                   .where(F.col(key).cast("string") == value)
                   .agg(F.count(F.lit(1)), F.sum(PROBE_SUM[table])).first())
            if (got[0], int(got[1] or 0)) != want:
                errors.append(f"pruned probe {table} {key}={value}: {tuple(got)} != {want}")
        shutil.rmtree(result["out"], ignore_errors=True)
        return errors, {"transforms.apply": counts}


class CorpusDedup:
    """Per op a fresh document batch with planted exact and near
    duplicates: quality scores, exact dedup, MinHash-LSH near dedup."""

    name = "corpus_dedup"
    steady_ops = 6

    def __init__(self, spark, seed: int, traced: bool = False):
        self.spark, self.seed = spark, seed
        self.batches: dict[int, dict] = {}

    def _write(self, batch: int, n: int) -> dict:
        table, planted = gen.corpus(self.seed, batch, n, CORPUS_EXACT_SHARE, CORPUS_NEAR_SHARE)
        path = os.path.join(self.dir, f"batch{batch}.parquet")
        gen.write_table(table, path)
        return {**planted, "path": path}

    def generate(self, d: str) -> dict:
        self.dir = d
        return {"first": self._write(0, CORPUS_DOCS)}

    def bind(self, d: str, inputs: dict) -> None:
        self.dir, self.inputs = d, inputs
        self.batches = {0: inputs["first"]}

    def prepare(self, i: int) -> None:
        if i not in self.batches:
            self.batches[i] = self._write(i, CORPUS_DOCS)

    def op(self, i: int, tracer=None):
        span = _no_span if tracer is None else tracer.span
        info = self.batches[i]
        docs = self.spark.read.parquet(info["path"])
        with span("text", i):
            q = tuple(text.quality_scores(docs).agg(
                F.count(F.lit(1)), F.min("quality_score"), F.max("quality_score")
            ).first())
        with span("dedup.exact", i):
            groups = sorted(tuple(r["member_ids"]) for r in
                            dedup.exact_duplicates(docs, ["text"], "doc_id").collect())
        with span("dedup.minhash", i):
            pairs = sorted((r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(docs).collect())
        return info["docs"], {"answer": (q, groups, pairs)}

    def check(self, i: int, result: dict):
        info = self.batches[i]
        q, groups, pairs = result["answer"]
        errors = []
        if q[0] != info["docs"] or not (0 <= q[1] <= q[2] <= 100):
            errors.append(f"quality_scores: {q} for {info['docs']} docs")
        found = [set(g) for g in groups]
        missed = [g for g in info["exact_groups"] if not any(set(g) <= f for f in found)]
        if missed:
            errors.append(f"{len(missed)} planted exact-duplicate groups not found")
        pair_set = set(pairs)
        hit = sum(1 for p in info["near_pairs"] if tuple(p) in pair_set)
        recall = hit / len(info["near_pairs"]) if info["near_pairs"] else 1.0
        return errors, {"dedup.minhash": {"pairs": len(pairs), "planted_recall": recall}}


def _no_span(name, op):
    return contextlib.nullcontext({})


WORKLOADS = {w.name: w for w in (LogRefresh, CatalogOnboard, CorpusDedup)}
