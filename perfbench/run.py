"""The repository's benchmark: seeded workloads against ``graphframes_spark``.

Usage, from the repository root::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Workloads (see ``BENCHMARK.json`` for why each is there):

* ``batch`` - the Graphalytics kernels BFS, PR, WCC, CDLP, LCC and SSSP
  back to back on a seeded scale-free graph, then ``minhash_lsh_dedup``
  over a seeded corpus with planted near-duplicate clusters; every job is
  written to parquet;
* ``interactive`` - one closed-loop client: anchored motif / degree / bfs
  reads collected to the client, interleaved with write batches that run
  ``incrementalConnectedComponents`` and round-trip through parquet.

A run starts a fixed ``local[N]`` Spark session, builds the inputs from the
seed, warms up, then runs whole passes until ``--seconds`` of pass time
have elapsed (at least one). Every output is checked against an
independent reference outside the timed window. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` - the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is a JSON context record:
Spark settings, load over the measured window, sample counts and the
per-workload metric names (per-job seconds, read/update latency, error
rate).

A traced run is the same run with spans recorded around every layer's
entry points (see ``tracing.py``); per-layer metrics are means per pass.
Its ``trace.total_s`` is ``total_s`` measured under tracing, so the
tracing overhead is its median minus the median ``total_s`` of untraced
runs; ``trace.bookkeeping_s`` is the tracer's own time inside a pass. Its
spans go to ``perfbench/out/``.

Everything a run writes stays under ``perfbench/.work/run-<pid>`` (removed
at exit) and ``perfbench/out``. The benchmark's own tests:
``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
#: scratch space of this run, removed at exit; one per process, so two
#: runs in one checkout do not share it
WORK = BENCH_DIR / ".work" / f"run-{os.getpid()}"
OUT = BENCH_DIR / "out"

#: fixed Spark settings; stated in every run's context record. The heap is
#: fixed in size (-Xms = -Xmx): a growing heap made the cold batch pass
#: ~10% slower and peak RSS twice as spread out between runs.
CORES = 4
DRIVER_HEAP = "2g"
SHUFFLE_PARTITIONS = 2 * CORES


def spark_settings() -> dict[str, str]:
    tmp = str(WORK / "tmp")
    return {
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # every job and stage of a run stays in the status store until the
        # traced run has counted it
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "50",
        # iterative algorithms checkpoint locally (the engine default)
        "spark.graphframes.useLocalCheckpoints": "true",
    }


#: a run still going after this many seconds is stopped and fails
DEADLINE_S = 170


def start_watchdog() -> threading.Timer:
    """Kill the Spark JVM and exit with code 3 once DEADLINE_S passes."""

    def expire() -> None:
        from pyspark import SparkContext

        print(f"perfbench: run exceeded {DEADLINE_S}s, stopping", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, expire)
    timer.daemon = True
    timer.start()
    return timer


def build_session():
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in spark_settings().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(math.ceil(len(s) * q) - 1, 0)]


def kind_medians(passes: list) -> dict[str, float]:
    """Median latency of each op kind over the run's passes."""
    by_kind: dict[str, list[float]] = {}
    for p in passes:
        for kind, t in p["ops"]:
            by_kind.setdefault(kind, []).append(t)
    return {k: statistics.median(ts) for k, ts in by_kind.items()}


def end_to_end(setup_s: float, passes: list, rss_mb: float) -> dict[str, tuple]:
    # every op kind weighs the same whatever its cost; a median over all ops
    # would sit on the border between two kinds and jump between them
    return {
        "setup_s": (setup_s, "s"),
        "total_s": (statistics.median(p["wall"] for p in passes), "s"),
        "op_p50_gmean_s": (statistics.geometric_mean(kind_medians(passes).values()), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def named_metrics(workload: str, passes: list) -> dict[str, float]:
    """The per-workload names, all in seconds: one per batch job, read
    latency (p50, p90) and update latency (p50)."""
    if workload == "batch":
        return {f"{k}_s": t for k, t in kind_medians(passes).items()}
    reads = [t for p in passes for k, t in p["ops"] if k != "write"]
    writes = [t for p in passes for k, t in p["ops"] if k == "write"]
    out = {}
    if reads:
        out["query_p50_s"] = statistics.median(reads)
        out["query_p90_s"] = percentile(reads, 0.9)
    if writes:
        out["update_p50_s"] = statistics.median(writes)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program is built from the checkout this file lives in
    sys.path.insert(0, str(ROOT))
    try:
        import graphframes_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import graphframes_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import loadmon
    from perfbench.tracing import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    watchdog = start_watchdog()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")

    t0 = time.perf_counter()
    spark = None
    try:
        spark = build_session()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, str(WORK))
        t = time.perf_counter()
        wl.prepare()
        input_s = time.perf_counter() - t
        t = time.perf_counter()
        plain = NullTracer(spark)
        wl.warm_up(plain)
        warm_s = time.perf_counter() - t
        # one set-up per run: a repeat would run warm and so measure less
        # than the first, and a run has no time to spare for it
        setup_s = session_s + input_s + warm_s

        pid = jvm_pid(spark)
        monitor = loadmon.LoadMonitor([pid, os.getpid()])
        token = monitor.start()
        # a traced run is the same run with the tracer installed: its passes
        # compare with the untraced runs' passes of the same seed
        tracer = Tracer(spark) if args.trace else None
        passes, elapsed = [], 0.0
        while elapsed < args.seconds:
            t = time.perf_counter()
            if tracer:
                with tracer.installed():
                    ops = wl.run_pass(tracer)
            else:
                ops = wl.run_pass(plain)
            wall = time.perf_counter() - t
            passes.append({"ops": ops, "wall": wall})
            elapsed += wall
        load = monitor.finish(token)
        rss = loadmon.peak_rss_mb(pid)

        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        tally = wl.tally
        correct = tally.failed == 0
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "spark": spark_settings() | {"spark.version": spark.version},
            "load": load,
            "passes": len(passes),
            "ops_per_pass": [len(p["ops"]) for p in passes],
            "pass_s": [p["wall"] for p in passes],
            "kind_p50_s": kind_medians(passes),
            "setup": {"session_s": session_s, "input_s": input_s, "warm_up_s": warm_s},
            "check_s": check_s,
            "failures": tally.failures[:20],
            "named": {
                k: {"value": v, "unit": "s"}
                for k, v in named_metrics(args.workload, passes).items()
            } | {"error_rate": {"value": tally.error_rate, "unit": "ratio"}},
        }
        if tracer:
            metrics = tracer.layer_metrics(len(passes))
            metrics["trace.total_s"] = statistics.median(p["wall"] for p in passes)
            metrics["load.steal_cores"] = load["steal_cores"]
            metrics["load.cotenant_cores"] = load["cotenant_cores"]
            gap = tracer.self_time_gap()
            context["trace_self_time_gap_s"] = gap
            # span self times must account for each op's wall time exactly
            if gap > 1e-6:
                correct = False
                context["failures"].append(f"span self times miss op wall by {gap}")
            tracer.dump(str(OUT / f"trace-{args.workload}-{args.seed}.json"))
            result_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            e2e = end_to_end(setup_s, passes, rss)
            result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps(context, default=str))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": tally.attempted,
                    "failed": tally.failed,
                    "metrics": result_metrics,
                }
            )
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        watchdog.cancel()
    return 0


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_cores"):
        return "cores"
    if metric.endswith("precision"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
