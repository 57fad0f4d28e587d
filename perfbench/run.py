"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload serve|batch --seed N --seconds S --trace 0|1

Run from the repository root. The run starts a local Spark session, builds
its inputs from ``--seed`` (nothing else reaches the engine), sets up,
warms and checks the workload untimed, then measures it for at least
``--seconds`` (``batch``: and for at least three passes), stopping at the
first operation boundary after that.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, process start
to ready (session, fixtures, warm-up and the correctness pass), and
``op_p50_ms``, the workload's operation as its client sees it:

=========  ================================================================
workload   op_p50_ms
=========  ================================================================
serve      median HTTP request latency
batch      one pass over the frozen 17 (sum of per-query medians)
=========  ================================================================

A human-readable line before the result names the workload's own figures
(``requests_per_s``, ``request_p95_ms``, ``analytics_pass_s``,
``failed_share``, ``peak_rss_mb`` of the Spark JVM plus the Python driver
...).

``--trace 1`` reports the per-layer metrics instead: spans around the calls
into each layer, job and stage totals from Spark's status store and scan
metrics from the executed plans. Metrics of a layer the workload does not
reach read 0. Spans go to ``.perfbench/traces/`` as JSON with a self-time
report on stderr; ``trace.overhead_pct`` compares traced with untraced
operations of the same run.

Exit code 0 with a result line, or non-zero without one (for instance when
the engine package is not importable from the working directory).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ENGINE = "soict20221_bigdata_financialplatform_spark"
CORES = 4
DRIVER_MEMORY = "2g"
WORKLOADS = ("serve", "batch")
# C1 only: the JVM compiles the hot paths within seconds of the first calls
# and stays there. With C2 (the default) latency keeps falling for minutes as
# it recompiles, so a short window would measure how far the warm-up got.
# C1 alone gets a 48 MB code cache by default, which Spark fills.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
}


def _per_layer() -> dict[str, str]:
    from perfbench.analytics import frozen

    units = {
        "session.start_s": "s",
        "api.build_ms": "ms", "api.plan_ms": "ms", "api.exec_ms": "ms", "api.jobs_per_request": "count",
        "http_api.self_ms": "ms",
        "sources.load_table_s": "s", "sources.rows_scanned_per_row_returned": "ratio",
        "sources.files_read_per_request": "count",
    }
    for q in frozen():
        units.update({f"{q}.build_s": "s", f"{q}.plan_s": "s", f"{q}.exec_s": "s"})
    units.update({
        "queries.build_s": "s", "queries.plan_s": "s", "queries.exec_s": "s",
        "exec.jobs": "count", "exec.tasks": "count", "exec.shuffle_write_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "normalize.s": "s", "indicators.s": "s",
        "backfill.write_s": "s", "backfill.files_written": "count", "backfill.bytes_per_input_byte": "ratio",
        "streaming.addBatch_ms": "ms", "streaming.queryPlanning_ms": "ms", "streaming.walCommit_ms": "ms",
        "streaming.commitOffsets_ms": "ms", "streaming.state_rows": "count",
        "streaming.state_memory_bytes": "bytes", "streaming.sink_files_written": "count",
        "trace.overhead_pct": "%",
    })
    return units


class Context:
    """What a workload needs from the harness: seed, scratch dir, session,
    tracers and the attempted/failed operation counts."""

    def __init__(self, seed: int, work: str, trace: bool) -> None:
        from perfbench.tracing import NULL, Tracer

        self.seed, self.work = seed, work
        self.cores = CORES
        self.spark = None
        self.tracer = Tracer() if trace else NULL
        self.null_tracer = NULL
        self.status = None
        self.attempted = self.failed = 0
        self._lock = threading.Lock()  # set-up checks run on several threads

    def record(self, ok: bool, failure: str) -> None:
        """Count one checked operation; report ``failure`` if it failed."""
        with self._lock:
            self.attempted += 1
            self.failed += not ok
            report = not ok and self.failed <= 20
        if report:
            print(f"perfbench: FAILED {failure}", file=sys.stderr)


def _peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _start_spark(work: str):
    from soict20221_bigdata_financialplatform_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} {JIT_OPTIONS}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone either way
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def _workload(name: str, ctx):
    if name == "serve":
        from perfbench.serve import Serve
        return Serve(ctx)
    from perfbench.batch import Batch
    return Batch(ctx)


def run(args, root: str) -> dict:
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything a run writes stays under ``work``: Python and JVM temp files,
    # Spark's local dirs, and no /tmp/hsperfdata_* from the JVMs
    os.environ.update({"TZ": "UTC", "TMPDIR": tmp, "PYSPARK_PYTHON": sys.executable,
                       "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
    time.tzset()
    from perfbench.statusstore import StatusReader

    ctx = Context(args.seed, work, bool(args.trace))
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = ctx.spark = _start_spark(work)
        session_s = time.perf_counter() - t0
        ctx.status = StatusReader(spark)
        wl = _workload(args.workload, ctx)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        res = wl.run_traced(args.seconds) if args.trace else wl.run(args.seconds)
        if args.trace:
            metrics = dict.fromkeys(_per_layer(), 0.0)
            unknown = set(res) - set(metrics)
            if unknown:
                raise KeyError(f"per-layer metrics missing from the list: {sorted(unknown)}")
            metrics.update(res, **{"session.start_s": session_s})
            summary = {"trace": _write_trace(ctx, args, root)}
        else:
            metrics = {"setup_s": setup_s, "op_p50_ms": res["op_p50_ms"]}
            summary = res["summary"] | {"session_s": session_s, "peak_rss_mb": _peak_rss_mb(ctx.status.jvm_pid())}
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    summary["failed_share"] = ctx.failed / max(1, ctx.attempted)
    units = _per_layer() if args.trace else {k: u for k, (u, _) in END_TO_END.items()}
    return {
        "summary": summary,
        "result": {
            "correct": ctx.failed == 0 and ctx.attempted > 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        },
    }


def _write_trace(ctx, args, root: str) -> str:
    out_dir = os.path.join(root, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    ctx.tracer.write(path)
    print(ctx.tracer.report(), file=sys.stderr)
    return os.path.relpath(path, root)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-finplat benchmark: one workload, one run")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    root = os.getcwd()
    # import the package by name: the script's own directory would shadow stdlib modules
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    if importlib.util.find_spec(ENGINE) is None or not os.path.isfile(os.path.join(root, "bench.py")):
        print(f"perfbench: the engine package {ENGINE} (and bench.py) must be importable "
              f"from the working directory {root}", file=sys.stderr)
        return 2
    try:
        out = run(args, root)
    except Exception:  # noqa: BLE001 - any crash is a failed run without a result line
        traceback.print_exc()
        return 1
    s = out["summary"]
    print("perfbench " + args.workload + ": " + ", ".join(
        f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}" for k, v in s.items()))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
