"""Isolated re-timing of individual bench queries — the adjudication
protocol SCALING.md prescribes for suspicious movers: a FRESH JVM per
invocation, warm run, forced full GC outside the timed window, then
min-of-N noop-sink executions.

In-session bench numbers at the 48g heap share one JVM across ~30
queries: multi-second GC pauses and the OS page cache land on
whichever query happens to be running (r07: star_join 7.8s in-session
vs 1.9s isolated; r08 closed line_dedup the same way).  Run THIS
script once per suspect query — each process is a cold, solo JVM.

Usage:
    python tools/bench_one.py QUERY [QUERY...] [--sf-dir DIR] [-n N]
    python tools/bench_one.py dsir_importance --sf-dir .bench_sf1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=".bench_sf1")
    ap.add_argument("-n", type=int, default=3, help="timed runs (min-of-N)")
    ap.add_argument(
        "--media-scaled",
        action="store_true",
        help="use the scaled media fixture (bench.py sets this for sf2)",
    )
    ap.add_argument(
        "--gc-each",
        action="store_true",
        help="force a full JVM GC before EVERY timed run, not just once",
    )
    args = ap.parse_args()
    if args.media_scaled:
        os.environ["SPARK_GRAFT_MEDIA_SCALED"] = "1"

    from perfbench.run import box_fit
    from projetbigdatastreaming_spark.session import get_session

    cores, heap = box_fit()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", cores))
    spark = get_session(
        app_name="bench_one",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": heap},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    all_queries = entrymod.queries()
    out: dict[str, dict] = {}
    for name in args.queries:
        fn = all_queries[name]
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        spark.sparkContext._jvm.System.gc()
        runs = []
        for _ in range(args.n):
            if args.gc_each:
                spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 4))
        out[name] = {"min": min(runs), "runs": runs}
    print(json.dumps({"sf_dir": args.sf_dir, "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
