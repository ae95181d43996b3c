#!/usr/bin/env python3
"""Repository benchmark: docs/s through the user-facing Spark paths.

    python3 perfbench/run.py --workload extract_resident --seed 1 \
        --seconds 20 --trace 0

One driver process, Spark at ``local[nproc]``, one job at a time (a closed
loop with one client). Each workload's inputs come from ``--seed``; after a
set-up phase (session start, fixtures, one warm-up run) it commits runs
until ``--seconds`` are used, checks every run's output against values
computed outside Spark, and prints one line per metric and, last, one JSON
object.

``--trace 0`` reports the end-to-end metrics (medians over the runs);
``--trace 1`` instead runs a traced pass that materialises each layer's
output in turn, then one untraced run, and reports per-layer metrics. See
README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s",
              "shuffle_bytes_per_doc": "B/doc"}
# printed, not bounded: fail_ratio is 0 on a correct tree; peak_rss_mb's
# spread across invocations on a shared 4-core host (0.06-0.31) reaches the
# widest bound allowed
UNBOUNDED = {"peak_rss_mb": "MB", "fail_ratio": "1"}

LAYERS = ["sources.pages", "functions.geocode", "functions.cells",
          "plans.pipeline", "operators.zonal", "operators.knn",
          "operators.pip", "plans.lineage", "sources.warc",
          "functions.html_text", "functions.url", "jobs.warc_curation_job"]
LAYER_METRICS = {"self_s": "s", "cpu_s": "s", "shuffle_write_bytes": "B",
                 "python_bytes": "B", "gc_s": "s", "task_failures": "count"}
ROWS_LAYERS = ["sources.pages", "functions.geocode", "operators.zonal",
               "sources.warc", "functions.html_text", "functions.url"]
EXTRA_METRICS = {"session.start_s": "s", "session.peak_rss_mb": "MB",
                 "plans.pipeline.plan_s": "s",
                 "operators.zonal.retained_bytes": "B",
                 "plans.lineage.bytes_written_per_doc": "B/doc",
                 "trace.overhead": "1"}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS
             for m, u in LAYER_METRICS.items()}
    units.update({f"{layer}.rows_per_doc": "rows/doc"
                  for layer in ROWS_LAYERS})
    units.update(EXTRA_METRICS)
    return units


# --------------------------------------------------------------------------
# host-sized session
# --------------------------------------------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A fifth of physical memory, 1-8 GiB: leaves room for the Python
    workers and the page cache (the package default of 48g does not fit a
    small host)."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f
                            if ln.startswith("MemTotal:")).split()[1])
    return max(1024, min(8192, total_kb // 1024 // 5))


def prepare_environment() -> None:
    """Process environment inherited by the JVM and its Python workers;
    must run before pyspark or numpy is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    path = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def start_session():
    """SparkSession with the package's SQL settings (session.get_spark),
    sized from the host; shuffle and spill files go to disk under the
    checkout, not to RAM-backed /dev/shm."""
    from pyspark.sql import SparkSession
    cpus = host_cpus()
    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", f"{driver_heap_mb()}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", tmp)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# --------------------------------------------------------------------------
# runs
# --------------------------------------------------------------------------

class Bench:
    def __init__(self, spark, workload):
        from probe import JobGroupStats
        self.spark = spark
        self.wl = workload
        self.stats = JobGroupStats(spark)
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.attempted = 0
        self.failed = 0

    def check(self, k: int, n: int, err: str | None) -> bool:
        """Count run ``k`` and check its output; outside any timing."""
        self.attempted += 1
        bad = [err] if err else self.wl.check(k, n)
        self.wl.discard(k)
        for b in bad:
            print(f"MISMATCH {self.wl.name} run {k}: {b}", file=sys.stderr)
        self.failed += bool(bad)
        return not bad

    def commit(self, k: int, n: int) -> tuple[int, float, str | None]:
        t0 = time.perf_counter()
        try:
            docs = self.wl.commit(k, n)
        except Exception:          # a failed run counts in fail_ratio
            traceback.print_exc()
            return 0, time.perf_counter() - t0, "run raised"
        return docs, time.perf_counter() - t0, None

    def timed_runs(self, first_k: int, budget_s: float,
                   min_runs: int = 2) -> list[dict]:
        """Closed loop of committed runs: at least ``min_runs``, then more
        while ``budget_s`` has time left."""
        from probe import RssSampler
        runs = []
        k = first_k
        t_start = time.perf_counter()
        with RssSampler(self.jvm_pid) as rss:
            while True:
                group = f"run-{k}"
                self.spark.sparkContext.setJobGroup(group, group)
                rss.reset()
                docs, wall, err = self.commit(k, self.wl.size)
                peak = rss.peak()
                self.stats.wait_for_listeners()
                shuffle = self.stats.totals(group).shuffle_write_bytes
                if self.check(k, self.wl.size, err):
                    runs.append({"docs": docs, "wall_s": wall,
                                 "peak_rss_b": peak,
                                 "shuffle_bytes": shuffle})
                k += 1
                if (k - first_k >= min_runs
                        and time.perf_counter() - t_start >= budget_s):
                    return runs


def end_to_end(runs: list[dict], setup_s: float) -> dict[str, float]:
    if not runs:
        return {}
    med = statistics.median
    return {
        "docs_per_s": med(r["docs"] / r["wall_s"] for r in runs),
        "setup_s": setup_s,
        "peak_rss_mb": med(r["peak_rss_b"] for r in runs) / 2 ** 20,
        "shuffle_bytes_per_doc": med(r["shuffle_bytes"] / r["docs"]
                                     for r in runs),
    }


def traced_pass(bench: Bench, seed: int) -> tuple[dict, list[dict], dict]:
    """Materialise each layer prefix under its own job group; a layer's
    numbers are its prefix's totals minus its parent prefixes'. The last
    prefix is a full committed run, whose plans give rows per doc for
    every layer."""
    from probe import (PlanCapture, python_cpu_s, python_node_totals,
                       storage_bytes)
    from workloads import UDF_LAYERS
    wl, spark = bench.wl, bench.spark
    cap = PlanCapture(spark)
    prefix, own, spans, extras = {}, {}, [], {}
    root = {"trace_id": f"{wl.name}-{seed}", "span_id": 0,
            "name": f"trace.{wl.name}", "parent_id": None,
            "start_s": time.perf_counter()}
    try:
        for i, (layer, parents, action) in enumerate(wl.prefixes(wl.size)):
            k = 1000 + i
            spark.sparkContext.setJobGroup(layer, layer)
            held = storage_bytes(spark)
            py_cpu = python_cpu_s(bench.jvm_pid)
            t0 = time.perf_counter()
            try:
                got, err = action(k), None
            except Exception:      # counted as a failed run
                traceback.print_exc()
                got, err = {}, "traced run raised"
            t1 = time.perf_counter()
            bench.stats.wait_for_listeners()
            t = bench.stats.totals(layer)
            t.python_bytes, rows = python_node_totals(cap.drain(), UDF_LAYERS)
            t.wall_s = t1 - t0
            t.cpu_s += python_cpu_s(bench.jvm_pid) - py_cpu
            prefix[layer] = own[layer] = t
            for p in parents:
                own[layer] = own[layer] - prefix[p]
            spans.append({"trace_id": root["trace_id"], "span_id": i + 1,
                          "name": layer, "parent_id": 0,
                          "subtracts": parents, "start_s": t0, "end_s": t1})
            if "docs" in got:      # the committed run
                extras["rows"] = rows
                extras["traced_docs_per_s"] = got["docs"] / (t1 - t0)
                extras["retained_bytes"] = sum(
                    max(0, b - held.get(r, 0))
                    for r, b in storage_bytes(spark).items())
                extras["bytes_written"] = wl.output_bytes(k)
                bench.check(k, wl.size, None)
            elif err:
                bench.check(k, wl.size, err)
            extras.update(got)
            wl.discard(k)
    finally:
        cap.close()
    root["end_s"] = time.perf_counter()
    return own, [root] + spans, extras


def layer_metrics(own: dict, extras: dict, start_s: float,
                  untraced: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; layers the workload does not run read 0."""
    out = {name: 0.0 for name in per_layer_units()}
    for layer, t in own.items():
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = getattr(t, "wall_s" if m == "self_s" else m)
    docs = extras.get("docs")
    for layer, rows in extras.get("rows", {}).items():
        out[f"{layer}.rows_per_doc"] = rows / docs
    out["session.start_s"] = start_s
    out["session.peak_rss_mb"] = untraced.get("peak_rss_mb", 0.0)
    out["plans.pipeline.plan_s"] = extras.get("plans.pipeline.plan_s", 0.0)
    out["operators.zonal.retained_bytes"] = extras.get("retained_bytes", 0)
    if "plans.lineage" in own and docs:
        out["plans.lineage.bytes_written_per_doc"] = (
            extras["bytes_written"] / docs)
    if "docs_per_s" in untraced and "traced_docs_per_s" in extras:
        out["trace.overhead"] = (1 - extras["traced_docs_per_s"]
                                 / untraced["docs_per_s"])
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["extract_resident", "extract_tiled",
                            "curate_warc"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    prepare_environment()
    try:
        import air_health_gis_tools_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    t_setup = time.perf_counter()
    spark = start_session()
    start_s = time.perf_counter() - t_setup
    wl = WORKLOADS[args.workload](spark, WORK, args.seed)
    try:
        wl.setup()
        bench = Bench(spark, wl)
        # warm-up: JIT, codegen cache and Python workers, on its own ids
        bench.commit(0, wl.warm_size or wl.size)
        wl.discard(0)
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            totals, spans, extras = traced_pass(bench, args.seed)
            # one untraced run right after the traced one: same JIT state
            runs = bench.timed_runs(1, 0, min_runs=1)
        else:
            runs = bench.timed_runs(1, args.seconds)
        e2e = end_to_end(runs, setup_s)
    finally:
        stop_session(spark)
        wl.close()

    fail_ratio = bench.failed / max(bench.attempted, 1)
    docs = runs[0]["docs"] if runs else 0
    print(f"workload {wl.name}  seed {args.seed}  docs/run {docs}  "
          f"runs {len(runs)}  local[{host_cpus()}]  "
          f"heap {driver_heap_mb()} MB")
    print("run walls (s): " + " ".join(f"{r['wall_s']:.2f}" for r in runs))
    e2e["fail_ratio"] = fail_ratio
    for name, unit in {**END_TO_END, **UNBOUNDED}.items():
        print(f"{name:>24} {e2e.get(name, float('nan')):14.4f} {unit}")
    if args.trace:
        units = per_layer_units()
        metrics = layer_metrics(totals, extras, start_s, e2e)
        for name, v in metrics.items():
            print(f"{name:>40} {v:16.4f} {units[name]}")
        with open(os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json"),
                  "w") as f:
            json.dump(spans, f, indent=1)
    else:
        units = END_TO_END
        metrics = {m: e2e[m] for m in END_TO_END if m in e2e}
    print(json.dumps({
        "correct": bench.failed == 0 and bool(runs),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m: {"value": v, "unit": units[m]}
                    for m, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
