"""Advisor benchmark: one closed-loop client driving the partition
advisor (and the corpus dedup pipeline) through public functions.

    python3 perfbench/run.py --workload log_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones, and the spans
are written under .perfbench_work/traces/. The line before it records
the pinned environment, the input properties and the tail percentile.
See perfbench/README.md for the workloads and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "trino_adaptive_partitioning_tool_spark"
DRIVER_MEMORY = "1g"

WORKLOAD_NAMES = ("log_refresh", "catalog_onboard", "corpus_dedup")

# per-layer metric -> (span name, span field, how ops combine)
LAYER_METRICS = {
    "tables.load_s": ("tables.load_table", "self_s", "median"),
    "tables.load_calls": ("tables.load_table", "calls", "median"),
    "tables.failed_tasks": ("tables.load_table", "failed_tasks", "sum"),
    "mining.busy_s": ("mining", "self_s", "median"),
    "mining.queries": ("mining", "queries", "median"),
    "mining.rows_out": ("mining", "rows_out", "median"),
    "mining.parsed_ratio": ("mining", "parsed_ratio", "median"),
    "mining.jobs": ("mining", "jobs", "median"),
    "mining.tasks": ("mining", "tasks", "median"),
    "mining.failed_tasks": ("mining", "failed_tasks", "sum"),
    "stats.busy_s": ("stats", "self_s", "median"),
    "stats.columns": ("stats", "columns", "median"),
    "stats.rows_scanned": ("stats", "rows_scanned", "median"),
    "stats.jobs": ("stats", "jobs", "median"),
    "stats.tasks": ("stats", "tasks", "median"),
    "stats.failed_tasks": ("stats", "failed_tasks", "sum"),
    "scoring.busy_s": ("scoring", "self_s", "median"),
    "scoring.jobs": ("scoring", "jobs", "median"),
    "scoring.failed_tasks": ("scoring", "failed_tasks", "sum"),
    "recommend.view_columns_s": ("recommend.view_columns", "self_s", "median"),
    "recommend.failed_tasks": ("recommend.view_columns", "failed_tasks", "sum"),
    "transforms.busy_s": ("transforms", "self_s", "median"),
    "transforms.apply_s": ("transforms.apply", "self_s", "median"),
    "transforms.rows_written": ("transforms.apply", "rows_written", "median"),
    "transforms.files_written": ("transforms.apply", "files_written", "median"),
    "transforms.bytes_written": ("transforms.apply", "bytes_written", "median"),
    "transforms.partitions": ("transforms.apply", "partitions", "median"),
    "transforms.failed_tasks": ("transforms*", "failed_tasks", "sum"),
    "text.busy_s": ("text", "self_s", "median"),
    "text.failed_tasks": ("text", "failed_tasks", "sum"),
    "dedup.exact_s": ("dedup.exact", "self_s", "median"),
    "dedup.minhash_s": ("dedup.minhash", "self_s", "median"),
    "dedup.pairs": ("dedup.minhash", "pairs", "median"),
    "dedup.planted_recall": ("dedup.minhash", "planted_recall", "median"),
    "dedup.jobs": ("dedup*", "jobs", "median"),
    "dedup.tasks": ("dedup*", "tasks", "median"),
    "dedup.failed_tasks": ("dedup*", "failed_tasks", "sum"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Pin everything the program reads from the environment, before
    pyspark starts the JVM, and return the values for the output."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # session.py defaults to 32
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "master": f"local[{cpus}]",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "host_mem_mb": mem_kb // 1024,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "TMPDIR": os.path.relpath(tmp, ROOT),
        "PYTHONPATH": "<checkout root>",
        "SPARK_GRAFT_SPLIT_LAYOUT": os.environ.get("SPARK_GRAFT_SPLIT_LAYOUT", "unset (on)"),
        "python": sys.version.split()[0],
    }


def spark_conf(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:  # keep every job and stage for the end-of-run span counts
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return conf


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10 ops
    beyond it (nearest rank); the maximum when there are 10 ops or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    rank = n - 10  # 1-based rank with exactly 10 ops above it
    return xs[rank - 1], 100.0 * rank / n


def _self_times(records: list[dict]) -> None:
    """A span's self time: its duration minus its children's."""
    for s in records:
        s["self_s"] = s["end"] - s["start"]
    for s in records:
        if s["parent"] is not None:
            records[s["parent"]]["self_s"] -= s["end"] - s["start"]


def layer_metrics(records: list[dict]) -> dict:
    """Per-layer values from the spans: the median over the ops in which a
    layer ran of its per-op total, or the run's total for failed tasks."""
    _self_times(records)
    out = {}
    for metric, (span, field, how) in LAYER_METRICS.items():
        match = (lambda n: n.startswith(span[:-1])) if span.endswith("*") else (lambda n: n == span)
        per_op: dict[int, float] = {}
        for s in records:
            if match(s["name"]):
                value = 1 if field == "calls" else s.get(field, 0)
                per_op[s["op"]] = per_op.get(s["op"], 0) + value
        values = list(per_op.values())
        if how == "sum":
            value = sum(values)
        else:
            value = statistics.median(values) if values else 0
        unit = "s" if metric.endswith("_s") else (
            "ratio" if metric.endswith(("_ratio", "_recall")) else
            "bytes" if metric.endswith("bytes_written") else "count")
        out[metric] = {"value": value, "unit": unit}
    return out


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.tracer = None
        self._op = 0
        self.peak_kb = 0

    def setup(self, rss):
        t0 = time.perf_counter()
        import workloads
        from trino_adaptive_partitioning_tool_spark.session import get_spark
        self.spark = get_spark(
            app_name="perfbench", extra_conf=spark_conf(self.work, self.args.trace))
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0

        cls = workloads.WORKLOADS[self.args.workload]
        self.wl = cls(self.spark, self.args.seed, traced=bool(self.args.trace))
        d = os.path.join(self.work, "inputs")
        t = time.perf_counter()
        self.inputs = self.wl.generate(d)
        self.gen_s = time.perf_counter() - t
        self.wl.bind(d, self.inputs)
        self.setup_s = self.session_s + self.gen_s
        rss.sample()

    def _timed(self, i: int, traced: bool):
        """One op -> (latency, items, result); result is None when it raised."""
        tracer = self.tracer if traced else None
        restore = None
        t = time.perf_counter()
        try:
            if traced:
                from trino_adaptive_partitioning_tool_spark.sources import tables
                self._op = i
                restore = tracer.wrap(tables, "load_table", "tables.load_table", lambda: self._op)
                with tracer.span("op", i):
                    items, result = self.wl.op(i, tracer)
            else:
                items, result = self.wl.op(i)
        except Exception:
            traceback.print_exc()
            items, result = 0, None
        finally:
            if restore:
                restore()
        return time.perf_counter() - t, items, result

    def run_op(self, i: int):
        """Run op i (in trace mode traced and untraced, alternating which
        goes first), check it and count it. Returns (latency, items) of
        the untraced run."""
        self.wl.prepare(i)
        self.attempted += 1
        modes = [False] if not self.args.trace else ([True, False] if i % 2 == 0 else [False, True])
        runs = {traced: self._timed(i, traced) for traced in modes}
        errors = []
        if any(r[2] is None for r in runs.values()):
            errors.append("op raised")
        else:
            for traced, (_, _, result) in runs.items():
                errs, fields = self.wl.check(i, result)
                errors += errs
                if traced:
                    for s in self.tracer.spans:
                        if s["op"] == i and s["name"] in fields:
                            s.update(fields[s["name"]])
            if self.args.trace and runs[True][2]["answer"] != runs[False][2]["answer"]:
                errors.append("traced replay differs from the program's result")
        if errors:
            self.failed += 1
            self.errors += [f"op {i}: {e}" for e in errors]
            print(f"op {i} failed: {errors}", file=sys.stderr)
        if self.args.trace:
            self.traced.append(runs[True][0])
        return runs[False][:2]

    def measure(self, rss):
        if self.args.trace:
            self.tracer = spans.Tracer(self.spark.sparkContext)
            self.traced = []
        self.first_op_s = self.run_op(0)[0]
        self.steady_lat, self.steady_items = [], 0
        end = time.perf_counter() + self.args.seconds
        i = 1
        # traced runs do each op twice; two steady ops let each side go first once
        min_ops = 2 if self.args.trace else self.wl.steady_ops
        while time.perf_counter() < end or len(self.steady_lat) < min_ops:
            lat, items = self.run_op(i)
            self.steady_lat.append(lat)
            self.steady_items += items
            if len(self.steady_lat) == min_ops:
                # memory is reported over a fixed amount of work, because
                # frames the program never unpersists grow with op count
                rss.sample()
                self.peak_kb = rss.peak_kb
            i += 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    sys.path.insert(0, ROOT)

    runner = Runner(args, work)
    try:
        with spans.PeakRss() as rss:
            runner.setup(rss)
            runner.measure(rss)
        metrics, extra = report(runner, args, work_root)
    finally:
        stop_spark(getattr(runner, "spark", None))
        shutil.rmtree(work, ignore_errors=True)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "inputs": _inputs_summary(runner.inputs),
        "branches_applied": dict(getattr(runner.wl, "branches", {})),
        "errors": runner.errors[:20], **extra,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def report(runner: Runner, args, work_root: str):
    lat = runner.steady_lat
    tail_s, tail_pct = tail(lat)
    # A run has too few steady ops for a percentile with 10 ops beyond it,
    # so the tail is reported here and not gated as an end-to-end metric.
    extra = {"op_tail_s": {"value": tail_s, "unit": "s", "percentile": tail_pct,
                           "steady_ops": len(lat)},
             "steady_op_s": lat,
             "session_s": runner.session_s, "gen_s": runner.gen_s}
    if not args.trace:
        return {
            "setup_s": {"value": runner.setup_s, "unit": "s"},
            "first_op_s": {"value": runner.first_op_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "items_per_s": {"value": runner.steady_items / sum(lat), "unit": "1/s"},
            "peak_rss_mb": {"value": runner.peak_kb / 1024, "unit": "MB"},
        }, extra
    tracer = runner.tracer
    tracer.count_jobs()
    metrics = {"session.start_s": {"value": runner.session_s, "unit": "s"},
               **layer_metrics(tracer.spans)}
    traced = runner.traced[1:]
    overhead = statistics.median(traced) - statistics.median(lat)
    metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    path = os.path.join(work_root, "traces",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                       "metrics": metrics, "untraced_op_s": lat,
                       "traced_op_s": traced})
    extra["trace_file"] = os.path.relpath(path, ROOT)
    return metrics, extra


def _inputs_summary(inputs: dict) -> dict:
    """Input properties without the per-row planted lists."""
    def strip(v):
        if isinstance(v, dict):
            return {k: strip(x) for k, x in v.items()
                    if k not in ("exact_groups", "near_pairs", "window_rows", "path", "dir")}
        return v
    return strip(inputs)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
