"""SparkSession factory for the engine.

Re-expresses the reference's dual-environment session factory
(`SparkBigData.scala:14-33`: local master + Hive + crossJoin vs cluster
+ Kryo) as one idiomatic PySpark builder.  Differences, by design:

- Kryo tuning is JVM-serializer specific and has no PySpark analogue;
  the PySpark knob is Arrow for pandas interop, which we enable.
- AQE is on: at 100 TB the runtime re-planner (shuffle-partition
  coalescing, skew-join splitting, dynamic broadcast) is the single
  highest-leverage config.
- Session timezone is pinned to UTC so event-time semantics are stable
  across environments (and match the DuckDB oracle's naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "projetbigdatastreaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive_support: bool = False,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    ``master=None`` leaves the master to spark-submit / the cluster
    manager (the "prod" path of `SparkBigData.scala:24-30`); tests pass
    ``local[N]`` (the "local" path of `SparkBigData.scala:17-23`).

    ``hive_support=True`` mirrors the reference's
    ``enableHiveSupport()`` in both session paths
    (`SparkBigData.scala:22,29`): persistent Hive metastore catalog,
    so ``saveAsTable``/``spark.table`` survive across sessions.
    ``catalogImplementation`` is a first-session-only (static) conf, so
    this must be chosen before any SparkSession exists in the JVM —
    which is also true of the reference's builder.  ``warehouse_dir``
    sets ``spark.sql.warehouse.dir`` (managed-table root) for either
    catalog implementation.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if hive_support:
        builder = builder.enableHiveSupport()
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        # reference parity: SparkBigData.scala:21,28 enables cross joins
        "spark.sql.crossJoin.enabled": "true",
        # scale: runtime re-planning (coalesce small shuffle partitions,
        # split skewed ones, demote/promote joins at runtime)
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            n_shuffle
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE rewrite a planned sort-merge join into a shuffled
        # hash join when every post-shuffle build partition is small
        # (runtime size check — at 100 TB the partitions exceed the
        # threshold and the spill-safe SMJ stays), skipping the sort
        # of both sides (guide §3.1)
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
        # deterministic event-time semantics + oracle parity
        "spark.sql.session.timeZone": "UTC",
        # fast pandas/Arrow interop for the Pandas-UDF operators
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # local-mode default; a real cluster overrides per job size
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # keep partition sizes bounded for 100TB scans
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_test_session(cpus: int | None = None) -> SparkSession:
    """Local session mirroring the driver's bench environment."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    return get_session(master=f"local[{n}]", shuffle_partitions=n)
