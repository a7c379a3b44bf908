"""Repository benchmark: drives the package's public functions on
seeded inputs, checks the outputs, and prints one JSON result line.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 \
        --seconds 10 --trace 0

Workloads (see README.md for why each exists):

* ``ingest_backfill`` — closed loop through the whole ingest boundary,
  ``streaming.ingest.full_ingest_writer``: one backlog file of
  documents per micro-batch.
* ``batch_queries`` — the analyst path: a fixed set of registered
  queries, run one after another into a noop sink.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and engine counters on and prints the
per-layer metrics.  Every file the run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest_backfill", "batch_queries")


def box_fit() -> tuple[int, str]:
    """(cores, driver heap) for this machine: every core this process
    may run on, and an eighth of physical memory clamped to 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = int(min(4096, max(1024, mem / 8 / 2**20)))
    return cores, f"{heap_mb}m"


def start_session(work: str, cores: int, heap: str, traced: bool):
    from projetbigdatastreaming_spark.session import get_session

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # shuffle and temp files stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job and stage of the run for the REST read-out
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def layer_units() -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit."""
    import tracing
    import workload_ingest
    import workload_queries

    return {
        **tracing.COMMON_UNITS,
        **workload_ingest.layer_units(),
        **workload_queries.layer_units(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores",
        type=int,
        default=None,
        help="local[N] width (default: every available core); "
        "1 gives the single-threaded baseline",
    )
    args = ap.parse_args(argv)

    # fails here, before any output, outside a checkout of the
    # repository (bench.py imports the package)
    import bench

    cores, heap = box_fit()
    cores = args.cores or cores
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load = bench.sweep_load_begin()
    spark = None
    try:
        spark, session_s = start_session(work, cores, heap, bool(args.trace))
        pid = spark.sparkContext._gateway.proc.pid
        if args.workload == "ingest_backfill":
            import workload_ingest as mod
        else:
            import workload_queries as mod
        res = mod.run(spark, work, args.seed, args.seconds, bool(args.trace))
        rss = peak_rss_mb(pid)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_heap": heap,
        **bench.sweep_load_end(load),
    }
    if args.trace:
        metrics = {"session.start_s": (session_s, "s"), **res["layer"]}
        # a layer the workload does not pass through reads 0
        for name, unit in layer_units().items():
            metrics.setdefault(name, (0, unit))
    else:
        metrics = {**res["e2e"], "peak_rss_mb": (rss, "MB")}
    print(json.dumps({"env": env, "detail": res["detail"]}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0 and res["attempted"] > 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
