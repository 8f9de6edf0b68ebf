"""Weather-spark benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload hourly|api --seed N \\
        --seconds S --trace 0|1

Run it from the root of a checkout.  It generates seeded bronze data under
``.perfbench_work/`` (removed at exit), runs the workload through the
public functions of ``plans/``, ``sources/`` and ``api/``, checks the
outputs, prints the workload's metrics as text, and prints as its last line
a JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Traced runs also write their spans to
``.perfbench_out/spans-<workload>-<seed>.jsonl``.  The exit code is 0 only
when every correctness check passed.

Host sizing is done here, never in the engine's ``session.py``: Spark gets
``local[nproc]``, a driver heap below host memory, no console progress bar
and ERROR logging, and keeps its scratch files inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
E2E = ("setup_s", "latency_p50_ms", "gold_bytes_per_row", "peak_rss_mb")
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "gold_bytes_per_row": "B",
         "peak_rss_mb": "MB"}


def _driver_memory_mb() -> int:
    """1 GiB, or a quarter of host memory when that is smaller."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return 1024
    return max(512, min(1024, total_kb // 4096))


def _configure_env(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{_driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    return cpus


def _start_spark(work: str, trace: bool):
    from weather_data_pipeline_sv_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    heap_mb = _driver_memory_mb()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Heap and young generation of fixed size, and a fixed threshold
        # for concurrent marking: G1 then sizes nothing from measured pause
        # times, which a busy host stretches.  The heap is not touched up
        # front, so peak RSS counts only the pages the run used.
        # TieredStopAtLevel=1 compiles with C1 only: in a run this short,
        # C2 compiles for the whole run and takes most of a core from the
        # timed work at random moments (WORKLOADS.md, "Host sizing").  C1
        # alone shrinks the default code cache to 48 MB, which Spark's
        # generated code fills ("Out of space in CodeCache", then HTTP 500s),
        # so the cache keeps the tiered default of 240 MB.
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Xmn{heap_mb // 4}m -XX:-G1UseAdaptiveIHOP "
            f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}",
    }
    if trace:  # the traced run reads every job of the run back from the status store
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["hourly", "api"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("weather_data_pipeline_sv_spark/session.py", "tests/weather_oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a "
                  "weather-spark checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [root, BENCH_DIR]

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = _configure_env(work)

    import gen
    import tracing as tr
    import workloads as wl

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        ctx = wl.Ctx(spark=spark, repo_root=root, work=work, seed=args.seed,
                     seconds=args.seconds, trace=bool(args.trace), cpus=cpus,
                     gen=gen.Generator(args.seed, wl.SCALE),
                     tracer=tr.Tracer(bool(args.trace), spark))
        if ctx.trace:
            ctx.status = tr.SparkStatus(spark)
        try:
            res = wl.WORKLOADS[args.workload](ctx)
        finally:
            ctx.gen.close()
        rss = tr.tree_peak_rss_mb()
        rows, size, files = wl.gold_stats(ctx.gold_path)
        if ctx.trace:
            ctx.tracer.dump(os.path.join(
                root, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": session_s + res.setup_s,
        "latency_p50_ms": statistics.median(res.latencies_s) * 1000,
        "gold_bytes_per_row": size / rows,
        "peak_rss_mb": rss,
    }
    print(f"workload {args.workload} seed {args.seed}: {res.attempted} ops attempted, "
          f"{res.failed} failed; {len(res.latencies_s)} timed samples")
    for k in E2E:
        print(f"{k}: {e2e[k]:.4f} {UNITS[k]}")
    for line in res.lines:
        print(line)
    print(f"gold: {rows} rows, {size} bytes, {files} files")
    for f in ctx.failures:
        print(f"FAILED: {f}", file=sys.stderr)

    if args.trace:
        layer = {k: 0.0 for k in wl.PER_LAYER}  # layers this workload bypasses read 0
        layer["session.start_s"] = session_s
        layer["sources.writers.backfill_write_s"] = \
            ctx.tracer.self_seconds()["sources.writers.backfill"]
        layer.update(res.layer)
        metrics = {k: {"value": layer[k], "unit": wl.PER_LAYER[k]} for k in wl.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    correct = res.failed == 0 and not ctx.failures
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
