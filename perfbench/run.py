"""The repository's benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout.  It sets up a steady run (all cores,
a driver heap sized below host RAM, a fresh temp, checkpoint and Spark
local directory under ``.perfbench/`` in the checkout), boots the engine's
own Spark session, runs the workload (``workloads.py``), checks every
output, stops Spark and every process it started, and prints as its last
stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, measured
with tracing off, in seconds at no hypervisor steal (see ``clock.py``).
``--trace 1`` reports its per-layer metrics, from a run with spans and
Spark status-store records, and writes the spans to ``.perfbench/out/``.
The line before the result carries the run's environment (load average,
cores, heap), its wall times and steal shares, and sample counts.  The
exit code is 0 only when every correctness gate passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the run must end within 180 s
MAX_DRIVER_HEAP_MB = 4096


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steady_env(run_dir: str) -> dict[str, str]:
    """Environment for a steady run, applied before the JVM starts: Spark
    and its Python workers inherit it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(MAX_DRIVER_HEAP_MB, _host_mem_mb() // 4)}m",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
    }


def _descendants() -> list[int]:
    import tracing

    return tracing.descendants(os.getpid())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every child."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants():
        os.kill(pid, signal.SIGKILL)
    while _descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def end_to_end_values(boot, out) -> dict[str, float]:
    """The end-to-end metrics of an untraced run, in seconds at no steal.
    Set-up is the session boot (JVM launch included) plus the workload's
    warm-up."""
    import stats

    return {
        "setup_s": boot.seconds + out.warmup.seconds,
        "work_s": statistics.median(u.seconds for u in out.units),
        "op_geomean_s": stats.geomean(out.ops),
    }


def per_layer_values(catalogue: dict, boot, out,
                     peak_rss_bytes: int) -> dict[str, float]:
    """The per-layer metrics of a traced run; a layer the workload does
    not reach reads 0."""
    import stats

    values = {name: 0.0 for name in stats.metric_names(catalogue, traced=True)}
    values.update(out.layers)
    values["session.boot_s"] = boot.seconds
    values["session.warmup_s"] = out.warmup.seconds
    values["process.peak_rss_mb"] = peak_rss_bytes / 2**20
    return values


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import bench  # noqa: F401  (the engine must be importable before set-up)
    import basin_cli_spark  # noqa: F401

    import clock
    import stats
    import tracing as trace
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    catalogue = stats.load_catalogue(os.path.join(ROOT, "BENCHMARK.json"))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench", "run", run_id)
    os.makedirs(run_dir)
    env = steady_env(run_dir)
    os.environ.update(env)
    os.chdir(run_dir)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)
    info = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
            "nproc": int(env["SPARK_GRAFT_CPUS"]),
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
            "loadavg_start": os.getloadavg()}
    tracer = trace.Tracer(run_id) if args.trace else None
    spark = None
    try:
        from basin_cli_spark.session import get_spark

        # memory is a per-layer metric: sample it in traced runs only
        with trace.RssSampler() if tracer is not None else contextlib.nullcontext() as rss:
            with clock.stopwatch() as boot:
                spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
                    "spark.local.dir": env["TMPDIR"],
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                    "spark.sql.streaming.checkpointLocation":
                        os.path.join(run_dir, "checkpoints"),
                })
                spark.range(1000).selectExpr("sum(id)").collect()
            run = workloads.Run(spark, run_dir, args.seed, args.seconds, tracer)
            out = workloads.WORKLOADS[args.workload](run)
            if tracer is not None:
                jobs, stages = trace.stage_records(spark)
                os.makedirs(os.path.join(ROOT, ".perfbench", "out"), exist_ok=True)
                tracer.dump(os.path.join(ROOT, ".perfbench", "out", f"trace-{run_id}.json"),
                            {"jobs": jobs, "stages": stages})
            stop_spark(spark)
            spark = None
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    if tracer is None:
        values = end_to_end_values(boot, out)
    else:
        values = per_layer_values(catalogue, boot, out, rss.peak)
    info.update({
        "loadavg_end": os.getloadavg(),
        "wall_s": {"boot": boot.wall, "warmup": out.warmup.wall,
                   "units": [round(u.wall, 3) for u in out.units]},
        "steal": {"boot": round(boot.steal, 4), "warmup": round(out.warmup.steal, 4),
                  "units": [round(u.steal, 4) for u in out.units]},
        "ops": stats.summarize(out.ops), "notes": out.notes,
        "failures": out.failures[:20],
    })
    print(json.dumps(info))
    print(stats.result_line(catalogue, bool(args.trace), values,
                            attempted=out.attempted, failed=out.failed,
                            correct=out.failed == 0))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
