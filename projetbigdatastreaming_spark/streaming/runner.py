"""Structured Streaming pipeline runner.

Re-expresses the reference's DStream choreography on Structured
Streaming (SURVEY.md §2.7):

- ST1 micro-batch trigger       → .trigger(processingTime=...)
- ST2 foreachRDD                → foreachBatch(fn)
- ST3/ST4 manual offset commit  → checkpointLocation (automatic,
  end-to-end exactly-once with a replayable source + idempotent sink;
  the reference's commitAsync choreography at
  ConsommationStreaming.scala:104-106 / IndicateursStreaming.scala:91-93
  collapses into this)
- ST5 driver checkpoint/recovery → same checkpointLocation on restart
- ST8 empty-window heartbeat     → empty-batch branch in foreachBatch
  (IndicateursStreaming.scala:64-75)
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

logger = logging.getLogger("projetbigdatastreaming_spark.streaming")

#: the reference's empty-window marker text (IndicateursStreaming.scala:67)
EMPTY_WINDOW_MARKER = (
    "Aucun évenement n'a été receptionné dans le quart d'heure"
)


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int | None = 15,
    available_now: bool = False,
    query_name: str = "pipeline",
) -> StreamingQuery:
    """ST1+ST2: run a streaming DataFrame through a per-batch callable.

    ``trigger_seconds`` mirrors the reference's batch durations (2 s /
    15 s / 600 s); ``available_now=True`` drains everything currently
    available then stops — the batch-replay mode used by tests.
    """
    writer = (
        stream_df.writeStream.queryName(query_name)
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def kpi_batch_writer(
    output_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    marker_schema: str = "libelle string",
) -> Callable[[DataFrame, int], None]:
    """Builds the reference KPI pipeline's per-batch behavior
    (IndicateursStreaming.scala:48-103): empty batch → write marker row;
    else transform, cache, append to CSV-compatible output.

    The returned function is idempotent per (batch_id) directory, so a
    replayed batch after failure overwrites rather than duplicates —
    which is what upgrades at-least-once delivery to effective
    exactly-once on a file sink.
    """

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            marker = spark.createDataFrame(
                [(EMPTY_WINDOW_MARKER,)], marker_schema
            )
            (
                marker.coalesce(1)
                .write.mode("overwrite")
                .csv(f"{output_dir}/empty_marker", header=True)
            )
            logger.info("batch %s: empty window, marker written", batch_id)
            return
        kpis = transform(batch_df)
        kpis.cache()  # reference parity: IndicateursStreaming.scala:80
        try:
            # row count via Observation: piggybacks on the write job
            # instead of launching a second count() job per micro-batch
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation(f"kpi_rows_{batch_id}")
            (
                kpis.observe(obs, F.count(F.lit(1)).alias("n_rows"))
                .coalesce(1)
                .write.mode("overwrite")
                .csv(f"{output_dir}/batch_id={batch_id}", header=True)
            )
            logger.info(
                "batch %s: %s KPI rows", batch_id, obs.get["n_rows"]
            )
        finally:
            kpis.unpersist()

    return _fn


def restatement_batch_writer(
    path: str,
) -> Callable[[DataFrame, int], None]:
    """Effectively-exactly-once parquet sink for foreachBatch: each
    micro-batch lands in its own ``batch_id=N`` partition via dynamic
    partition overwrite, so a *replayed* batch (at-least-once delivery
    after a failure between sink write and checkpoint commit) rewrites
    exactly its own partition instead of appending duplicates.

    This is the file-sink twin of a transactional Kafka producer
    (SURVEY.md §2.7 ST9): idempotent writes + checkpointed offsets =
    end-to-end effective exactly-once.  Downstream readers see the
    whole directory as one table with ``batch_id`` as a normal
    partition column.
    """
    from pyspark.sql import functions as F

    from ..sinks.files import overwrite_partitions

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            path,
            ["batch_id"],
        )
        logger.info("batch %s: restated partition batch_id=%s", batch_id, batch_id)

    return _fn


def cdc_merge_writer(
    table_path: str,
    key_cols: list[str],
    partition_by: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """CDC-apply sink: each micro-batch of change records is MERGEd
    into a parquet table (update matched keys, insert new ones) via
    ``maintenance.merge_upsert``.  Last-write-wins within a batch is
    resolved by taking the max-``batch``-order row per key upstream if
    needed; across batches the merge itself is the resolution.

    Replay-safe: merging the same batch twice is a no-op (the second
    merge replaces rows with identical content), so at-least-once
    redelivery yields effectively-exactly-once table state.
    """
    from ..maintenance import merge_upsert

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(
            batch_df.sparkSession,
            table_path,
            batch_df,
            key_cols,
            partition_by=partition_by,
        )
        logger.info("batch %s: merged into %s", batch_id, table_path)

    return _fn


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """Streaming exact deduplication — the ingest-time twin of the
    batch `dedup_exact` operator (a training-data pipeline ingesting a
    document firehose dedupes at the stream boundary so duplicates
    never reach storage).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes (bounded state, evicted automatically), unlike
    plain ``dropDuplicates`` on a stream, whose state grows forever.
    Two records with the same keys within the watermark window dedupe
    to the first arrival; the batch plan cannot distinguish arrival
    order, so the batch twin used in tests keys on content fingerprint
    only.

    Scale: state is hash-partitioned by key across executors; the
    shuffle carries only the key columns + timestamp.
    """
    from pyspark.sql import functions as F

    withwm = stream_df.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, delay)
    return withwm.dropDuplicatesWithinWatermark(keys)


def streaming_quarter_hour_kpis(
    events_stream: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """The flagship KPI query as an *incremental* streaming plan:
    identical transformation chain to plans/kpi.quarter_hour_kpis but
    with an event-time watermark (ST10 — the semantics upgrade over the
    reference flagged in SURVEY.md §7) so state for closed quarter-hour
    windows is evicted instead of growing forever.
    """
    from pyspark.sql import functions as F

    from ..plans.kpi import ENGAGED_THRESHOLD, FLAGSHIP_EVENT_TYPES
    from ..schemas import EVENT_PROPS_SCHEMA

    # Structured Streaming watermarks require TIMESTAMP (with local
    # timezone), not TIMESTAMP_NTZ — cast in, and cast the window
    # bounds back to NTZ so output matches the batch plan exactly.
    # The engine session pins spark.sql.session.timeZone=UTC, making
    # both casts wall-clock identities.
    parsed = (
        events_stream.where(F.col("event_type").isin(*FLAGSHIP_EVENT_TYPES))
        .withColumn("props_struct", F.from_json(F.col("props"), EVENT_PROPS_SCHEMA))
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("props_struct.k").alias("k"),
        )
    )
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), "15 minutes").alias("w"))
        .agg(
            F.count("event_id").alias("event_count"),
            F.sum(
                F.when(F.col("k") > ENGAGED_THRESHOLD, 1).otherwise(0)
            ).alias("engaged_count"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("event_date"),
            F.concat(
                F.date_format("w.start", "HH:mm"),
                F.lit(" - "),
                F.date_format("w.end", "HH:mm"),
            ).alias("quarter_label"),
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("event_count"),
            F.col("engaged_count"),
            F.round(
                F.col("engaged_count") * 100.0 / F.col("event_count"), 2
            ).alias("engagement_pct"),
        )
    )


def quality_gate_writer(
    checks: dict[str, str],
    good_path: str,
    quarantine_path: str,
) -> Callable[[DataFrame, int], int]:
    """Streaming data-quality gate for foreachBatch: every micro-batch
    row is evaluated against the declared row-level checks (name →
    boolean SQL expression, true = pass); clean rows land in the good
    table, violating rows in a quarantine table with a ``violations``
    column naming every failed check — the streaming twin of
    `plans/quality.py::constraint_check` (batch-audit vs in-flight
    gate over the same declarative contract).

    Both sinks are replay-safe via batch_id dynamic partition
    overwrite (the `restatement_batch_writer` idempotence contract):
    an at-least-once redelivery rewrites its own partitions instead of
    appending duplicates.  The routed split is computed once per batch
    (cached), so each check expression — pure codegen, no Python —
    runs a single time however many sinks consume it.  An empty batch
    writes two empty relations, which add no partition.  Returns the
    number of rows routed to the good table, observed on its write;
    `gate_passed` gives the same rows as a filter for later stages.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..sinks.files import overwrite_partitions

    def _fn(batch_df: DataFrame, batch_id: int) -> int:
        failed = F.array_compact(
            F.array(
                *[
                    F.when(~F.expr(expr), F.lit(name))
                    for name, expr in sorted(checks.items())
                ]
            )
        )
        flagged = batch_df.withColumn("violations", failed).cache()
        try:
            good = flagged.where(F.size("violations") == 0).drop(
                "violations"
            )
            bad = flagged.where(F.size("violations") > 0).withColumn(
                "violations", F.concat_ws(",", "violations")
            )
            obs = Observation()
            overwrite_partitions(
                good.withColumn("batch_id", F.lit(batch_id)).observe(
                    obs, F.count(F.lit(1)).alias("n")
                ),
                good_path,
                ["batch_id"],
            )
            overwrite_partitions(
                bad.withColumn("batch_id", F.lit(batch_id)),
                quarantine_path,
                ["batch_id"],
            )
            logger.info(
                "batch %s: quality gate routed rows (checks=%s)",
                batch_id,
                ",".join(sorted(checks)),
            )
            return obs.get["n"]
        finally:
            flagged.unpersist()

    return _fn


def gate_passed(batch_df: DataFrame, checks: dict[str, str]) -> DataFrame:
    """The rows of ``batch_df`` that `quality_gate_writer` routes to
    the good table, as a filter (the gate's routing evaluated again,
    not its good table read back).  The gate flags a check only when
    ~expr is TRUE, so a NULL-evaluating check PASSES ("value > 0" with
    NULL value routes to the good table); a bare WHERE would drop NULL
    and silently exclude those rows from every later stage — hence
    coalesce(expr, true)."""
    from pyspark.sql import functions as F

    if not checks:
        return batch_df
    return batch_df.where(
        F.expr(" AND ".join(f"coalesce(({e}), true)" for e in checks.values()))
    )
