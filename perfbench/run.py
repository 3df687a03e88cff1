"""Maintenance benchmark for iceberg_compaction_spark.

    python3 perfbench/run.py --workload merge_read_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. One driver process on ``local[N]``
(N = min(2, nproc)) runs one workload as a closed loop with one client
for ``--seconds``, checks every result against an oracle derived from
the generator and the seeded inputs, and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` wraps the engine's public functions, records spans, and
reports the per-layer metrics (all spans go to
``.perfbench_out/trace-<workload>-seed<seed>.json``). Earlier lines,
prefixed ``#``, give host facts and sample counts. The exit code is 0
when every check passed, 1 on any mismatch, 2 when the benchmark cannot
start (e.g. the engine package is missing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("merge_read_mix", "maintain_after_churn")
MAX_CORES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def start_spark(work: str, cores: int):
    from iceberg_compaction_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # C1 only: C2 keeps recompiling the engine's code paths for
            # longer than a run lasts, and runs differed by how far it
            # had got. Compiler threads stay up, so CpuClock can leave
            # their time out of every operation's
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    # every temporary file of this process, the JVM and Spark's python
    # workers stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM that spark-submit starts to build the driver
    # command line; the driver JVM gets the same flags from start_spark
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import iceberg_compaction_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    os.makedirs(tmp)

    import layers
    import workloads
    from cpuclock import CpuClock
    from spans import Tracer

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer()
        if args.trace:
            layers.install(tracer)
        cpu_clock = CpuClock(spark.sparkContext._gateway.proc.pid)
        run = workloads.Run(
            spark, tracer, cpu_clock, os.path.join(work, "tables"), args.seed, bool(args.trace)
        )
        t1 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](run)
        t2 = time.perf_counter()
        episodes = wl.measure(args.seconds)
        host = {
            "nproc": nproc,
            "local_n": cores,
            "pyspark": pyspark.__version__,
            "warehouse_fs": fs_type(work),
            "warehouse_on_tmpfs": fs_type(work) == "tmpfs",
            "shuffle_dir_on_tmpfs": fs_type(os.environ["SPARK_LOCAL_DIRS"]) == "tmpfs",
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "episodes": episodes,
            "phases_s": {
                "session": round(session_start_s, 2),
                "inputs": round(t2 - t1, 2),
                "setup_warmup_measure": round(time.perf_counter() - t2, 2),
            },
        }
        print("# host " + json.dumps(host), flush=True)
        if args.trace:
            metrics, trace_ok, report = layers.per_layer_metrics(run, session_start_s)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"host": host, **report}, f, indent=1, default=str)
            for line in report["summary"]:
                print("# " + line)
        else:
            metrics, trace_ok = layers.end_to_end_metrics(run), True
            print("# samples " + json.dumps(layers.sample_summary(run)))
            print("# wall " + json.dumps(layers.wall_latency(run.units)))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there

    correct = run.failed == 0 and trace_ok
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
