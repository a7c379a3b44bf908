"""Streaming twins for the two headline curation operators —
cross-document substring dedup and DSIR importance scoring — so both
stay queryable while a document firehose is ingesting.

Both follow the replay-safe fold contract established by
``streaming/sketches.py`` and ``streaming/neardup.py``: each
micro-batch reduces its documents to a bounded-width feature relation
and restates its OWN ``batch_id`` parquet partition (dynamic partition
overwrite), so an at-least-once replay rewrites instead of
double-counting.  Readers fold all partitions and — by construction —
reuse the exact scoring/profile functions the batch queries are built
from (`plans/llmdata.substring_profile` / `dsir_score`), so
stream-fold == one-pass batch EXACTLY, which the tests pin.

State relations (never the text — the corpus-sized payload column
stays map-side in the writer, only fingerprints/bucket counts land on
disk):

- substring: ``(doc_id, fp char16, cnt)`` per batch — the CDC-window
  fingerprint counts.  ~one row per 10 tokens per doc.
- DSIR: ``(doc_id, lang, bucket, tf)`` per batch — the hashed-unigram
  feature relation of Xie et al. 2023 (the paper's precomputed
  n-gram feature store).  ≤64 buckets per doc.  The corpus bucket
  distributions the importance weights need are a ≤64-row aggregate
  over this fold; keeping the doc grain is what lets the reader
  rescore EVERY document under the latest distributions (a
  distributions-only fold could score new docs but would freeze old
  scores at their ingest-time distributions).

Scale: per-batch work is the same map-side extraction the batch
operators use, on batch-sized input; state grows linearly with corpus
token count at bounded row width, partitioned by batch_id.
`compact_state` rewrites the partitions into one base when batch-count
file overhead matters — crash-safe WITHOUT the CMS intent protocol,
because these rows are unique per natural key (not additive) and the
readers dedup (`_dedup_state`), so any crash-state duplication folds
to the same answer.  The reader's keyed exchanges match the batch
plan's plus the one dedup aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.llmdata import (
    BM25_TERMS,
    dsir_doc_bucket_tf,
    dsir_score,
    substring_doc_fp_counts,
    substring_profile,
)
from ..sinks.files import overwrite_partitions

SUBSTRING_STATE_SCHEMA = "doc_id long, fp string, cnt bigint, batch_id int"
DSIR_STATE_SCHEMA = (
    "doc_id long, lang string, bucket int, tf bigint, batch_id int"
)


def substring_fp_batch_writer(
    state_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: reduce the batch's documents to their
    (doc_id, fp, cnt) window-fingerprint counts and restate the
    batch's own partition."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        rows = substring_doc_fp_counts(batch_df).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        overwrite_partitions(rows, state_dir, ["batch_id"])

    return write


def curation_tomb_dir(state_dir: str) -> str:
    """The tombstone directory for a curation state table — a SIBLING
    of the parquet root (a subdir would break Spark's batch_id
    partition discovery)."""
    return state_dir.rstrip("/") + ".tombstones"


def retract_curation_docs(
    spark: SparkSession, state_dir: str, doc_ids: list[int]
) -> int:
    """Takedown for a curation state table: append doc_id tombstones.
    Readers exclude the documents immediately; `compact_curation`
    physically drops their rows and consumes the tombstones.  See
    `streaming/tombstones.py` for the full lifecycle."""
    from .tombstones import write_tombstones

    return write_tombstones(spark, curation_tomb_dir(state_dir), doc_ids)


def _live_state(
    spark: SparkSession, state_dir: str, schema: str
) -> DataFrame:
    """State read with pending retractions applied — every curation
    reader goes through this, so a takedown is effective on the very
    next read (broadcast anti-join; the state side never shuffles)."""
    from .tombstones import apply_tombstones, read_pending_tombstones

    return apply_tombstones(
        spark.read.schema(schema).parquet(state_dir),
        read_pending_tombstones(spark, curation_tomb_dir(state_dir)),
        "doc_id",
    )


def _dedup_state(state: DataFrame, keys: list[str], val: str) -> DataFrame:
    """Collapse duplicate state rows by natural key.  Each document's
    feature rows are unique corpus-wide (a doc arrives once; replays
    RESTATE their partition), so duplicates can only be crash-state
    copies — identical rows in a source partition AND the compacted
    base — and max(val) == val.  This makes the readers IDEMPOTENT
    under any partition multiset, which is what lets `compact_state`
    use the crash-safety-by-idempotence sequence instead of the CMS
    intent protocol."""
    return state.groupBy(*keys).agg(F.max(val).alias(val))


def read_substring_profile(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Fold all batch partitions into the corpus-wide per-doc
    duplication profile — row-identical to running the batch
    ``substring_dedup`` over the union of every ingested batch."""
    state = _live_state(spark, state_dir, SUBSTRING_STATE_SCHEMA)
    return substring_profile(_dedup_state(state, ["doc_id", "fp"], "cnt"))


def dsir_batch_writer(state_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: reduce the batch's documents to their
    (doc_id, lang, bucket, tf) DSIR features and restate the batch's
    own partition."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        rows = dsir_doc_bucket_tf(batch_df).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        overwrite_partitions(rows, state_dir, ["batch_id"])

    return write


def read_dsir_importance(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold all batch partitions and rescore every document under the
    corpus-so-far bucket distributions — row-identical to the batch
    ``dsir_importance`` over the union of every ingested batch."""
    state = _live_state(spark, state_dir, DSIR_STATE_SCHEMA)
    return dsir_score(
        _dedup_state(state, ["doc_id", "lang", "bucket"], "tf")
    )


def read_dsir_distributions(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The ≤DSIR_BUCKETS-row source/target bucket distributions from
    the folded state — the monitoring view (the per-doc scores above
    are the selection output)."""
    state = _dedup_state(
        _live_state(spark, state_dir, DSIR_STATE_SCHEMA),
        ["doc_id", "lang", "bucket"],
        "tf",
    )
    return (
        state.groupBy("bucket")
        .agg(
            F.sum("tf").alias("s_cnt"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("tf")).otherwise(0)
            ).alias("t_cnt"),
        )
        .orderBy("bucket")
    )


def compact_state(
    spark: SparkSession,
    state_dir: str,
    tombs: DataFrame | None = None,
    id_col: str | None = None,
) -> int:
    """Rewrite all batch partitions of a curation state table into a
    single base partition (``batch_id=-1``), dropping the per-batch
    partitions — the read-side fold input goes from one file set per
    batch back to one.  Returns the compacted row count.

    Unlike the CMS grids, curation state rows are NOT additive — each
    (doc, key) row is unique corpus-wide — so compaction is a pure
    rewrite, and because the readers dedup by natural key
    (`_dedup_state`), a crash-state where a row exists BOTH in a
    source partition and in the staged/promoted base folds to the
    same answer.  That buys the crash-safety-by-idempotence sequence
    of `sketches._restate_base`: stage the rewrite, rename the old
    base aside, promote, delete sources — readable-correct at every
    kill point with no intent file and no recovery procedure
    (kill-point tests assert it).  Schema-agnostic: works for the
    substring, DSIR, near-dup, ANN and KMV state layouts.

    Safe while the stream runs (snapshot ids only are deleted); like
    `compact_cms`, only compact past the stream's redelivery horizon —
    a replay of a compacted batch_id would re-add rows the base
    already holds, which the dedup readers absorb, but the restated
    partition would then linger until the next compaction.

    ``tombs``/``id_col`` (retraction, see `streaming/tombstones.py`):
    when given, rows whose ``id_col`` is tombstoned are DROPPED from
    the rewrite — this is the step that makes a takedown physical;
    a table whose every row is retracted compacts to an empty base.
    The caller owns the tombstone-file snapshot/consume sequence
    (family wrappers like `compact_neardup` apply ONE snapshot across
    all their state tables, then consume it once).
    """
    from .sketches import BASE_ID, _restate_base
    from .tombstones import apply_tombstones

    return _restate_base(
        spark,
        state_dir,
        lambda ids: apply_tombstones(
            spark.read.parquet(state_dir).where(F.col("batch_id").isin(ids)),
            tombs,
            id_col,
        )
        .drop("batch_id")
        .distinct(),
        # a pending retraction forces the rewrite even when only the
        # base partition exists — that's what makes the takedown
        # physical
        done=lambda ids: not ids or (ids == [BASE_ID] and tombs is None),
    )


def compact_curation(spark: SparkSession, state_dir: str) -> int:
    """Tombstone-aware compaction for one curation state table:
    snapshot the pending doc_id tombstones, fold the partitions with
    the tombstoned rows dropped, then consume exactly that snapshot.
    Crash-safe at every kill point: killed before the promote, the
    tombstones stay pending (readers keep anti-joining them); killed
    after the promote but before the consume, the already-applied
    tombstones anti-join nothing and the next run consumes them."""
    from .tombstones import (
        delete_tombstone_files,
        pending_tombstone_files,
        read_tombstone_ids,
    )

    files = pending_tombstone_files(curation_tomb_dir(state_dir))
    tombs = read_tombstone_ids(spark, files)
    n = compact_state(spark, state_dir, tombs, "doc_id")
    delete_tombstone_files(files)
    return n


def exact_dedup_screen_writer(
    state_dir: str, dups_dir: str
) -> Callable[[DataFrame, int], None]:
    """Exact-dedup at the ingest boundary, as a foreachBatch stage:
    fingerprint the batch, left-semi-join it against the fingerprint
    history ``<state_dir>/fps``, restate the batch's partition of the
    confirmed duplicates (``dups_dir``: doc_id, fp) and then the
    batch's partition of distinct fingerprints (``fps``: fp).

    Semantics match `dedup_incremental`: batch-vs-corpus-so-far
    (within-batch duplicates are not each other's corpus).  Both
    sinks restate their own batch_id partition, and the history read
    EXCLUDES the current batch_id — otherwise an at-least-once replay
    would probe the batch against its own prior fold and flag every
    redelivered document as a duplicate of itself.  Like
    `compact_cms`, only compact ``fps`` past the stream's redelivery
    horizon: a compacted base merges batch attributions, so the
    self-exclusion cannot see through it.

    Scale: five jobs per batch once a history exists (measured at 200
    and 20 000 docs a batch).  The batch side is cached for its two
    readers, and a semi-join ignores right-side duplicates, so the
    history is not deduplicated first.  The history side is every
    ``fps`` row, so each batch scans the whole fingerprint table: its
    cost grows with the corpus.  Pruning that scan to the batch's own
    fingerprints needs a layout keyed by fingerprint (e.g. ``fps``
    bucketed by a prefix of fp, the batch reading only its buckets),
    which is future work."""
    import os

    from ..functions.text import fingerprint

    fps_dir = os.path.join(state_dir, "fps")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        d = batch_df.select(
            "doc_id", fingerprint("text").alias("fp")
        ).cache()
        try:
            if os.path.isdir(fps_dir):
                dups = d.join(
                    spark.read.schema("fp string, batch_id int")
                    .parquet(fps_dir)
                    .where(F.col("batch_id") != int(batch_id))
                    .select("fp"),
                    "fp",
                    "left_semi",
                )
            else:  # first batch: no corpus, nothing can be a dup
                dups = d.limit(0)
            overwrite_partitions(
                dups.withColumn("batch_id", F.lit(int(batch_id))),
                dups_dir,
                ["batch_id"],
            )
            overwrite_partitions(
                d.select("fp")
                .distinct()
                .withColumn("batch_id", F.lit(int(batch_id))),
                fps_dir,
                ["batch_id"],
            )
        finally:
            d.unpersist()

    return write


# ---------------------------------------------------------------------------
# Distribution-drift monitor at the ingest boundary (round 9)
# ---------------------------------------------------------------------------

DRIFT_REF_SCHEMA = "feature string, bin string, ref_cnt bigint"
DRIFT_METRIC_SCHEMA = "feature string, psi double, batch_id int"


def build_drift_reference(docs: DataFrame, ref_dir: str) -> int:
    """Freeze the REFERENCE bin counts from a vetted corpus slice —
    the yardstick every incoming batch is PSI-scored against (the
    frozen-benchmark-index pattern from `neardup.build_benchmark_index`
    applied to distribution monitoring).  One pass over the reference,
    ≤ bins+langs rows written; returns the bin count."""
    from ..plans.quality import drift_feature_bins

    counts = (
        drift_feature_bins(docs)
        .groupBy("feature", "bin")
        .agg(F.count("*").cast("long").alias("ref_cnt"))
    )
    counts.coalesce(1).write.mode("overwrite").parquet(ref_dir)
    return counts.count()


def drift_monitor_writer(
    ref_dir: str, metric_dir: str
) -> Callable[[DataFrame, int], list]:
    """foreachBatch sink: PSI-score each incoming batch's feature
    distributions against the frozen reference and append one
    (feature, psi, batch_id) metric row per feature — the live "did
    the incoming data move?" alarm (alert bars 0.1 / 0.25).  Returns
    the batch's (feature, psi) rows, ordered by feature, so a caller
    can gate on them without reading the metric back.

    The PSI math is `plans/quality.psi_from_counts` VERBATIM (the
    batch query `psi_drift`'s second half), so stream and batch
    cannot drift on the drift metric itself — pinned by test.

    Scale: three jobs per batch.  One single-task job folds the batch
    to ≤ bins (feature, bin) counts, full-outer-joined with the KB
    reference, and checkpoints them, because `psi_from_counts` reads
    its input twice; the PSI's broadcast and the |features|-row
    partition restatement follow, and the restatement observes the
    metric rows it writes, so nothing reads them back.  Every relation
    stays in one partition, so no step shuffles: one task folds a
    micro-batch's few columns as fast as a shuffle would split them,
    at 200 docs and at 50 000 (`bench_evidence/sign_kernels.txt`).
    Replay: at-least-once
    redelivery REWRITES its own batch_id partition (the module-wide
    restatement contract), and the reader's natural-key dedup absorbs
    any historical appends."""
    from ..plans.quality import drift_feature_bins, psi_from_counts

    def write(batch_df: DataFrame, batch_id: int) -> list:
        spark = batch_df.sparkSession
        ref = spark.read.schema(DRIFT_REF_SCHEMA).parquet(ref_dir)
        # one partition on both sides: the aggregate and the join need
        # no exchange
        cur = (
            drift_feature_bins(batch_df.coalesce(1))
            .groupBy("feature", "bin")
            .agg(F.count("*").cast("long").alias("cur_cnt"))
        )
        # full outer on (feature, bin): a bin present in only one side
        # still contributes its smoothed term
        counts = (
            ref.coalesce(1)
            .join(cur, ["feature", "bin"], "full_outer")
            .select(
                "feature",
                "bin",
                F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
                F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
            )
            # eager: psi_from_counts reads its input twice
            .localCheckpoint()
        )
        obs = Observation()
        overwrite_partitions(
            psi_from_counts(counts.coalesce(1))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .observe(obs, F.collect_list(F.struct("feature", "psi")).alias("m")),
            metric_dir,
            ["batch_id"],
        )
        return sorted(obs.get["m"], key=lambda r: r.feature)

    return write


def read_drift_metrics(spark: SparkSession, metric_dir: str) -> DataFrame:
    """(batch_id, feature, psi), deduped by natural key (replay-safe),
    ordered by batch then feature — the drift dashboard relation."""
    return (
        spark.read.schema(DRIFT_METRIC_SCHEMA)
        .parquet(metric_dir)
        .dropDuplicates(["batch_id", "feature"])
        .select("batch_id", "feature", "psi")
        .orderBy("batch_id", "feature")
    )


# ---------------------------------------------------------------------------
# BM25 relevance screen at the ingest boundary (round 9)
# ---------------------------------------------------------------------------

BM25_SCORE_SCHEMA = "doc_id long, bm25 double, batch_id int"

#: the one statistics row `build_bm25_stats` freezes
BM25_STATS_SCHEMA = "n_docs bigint, sum_dl bigint, " + ", ".join(
    f"df{i} bigint" for i in range(len(BM25_TERMS))
)


def build_bm25_stats(docs: DataFrame, ref_dir: str) -> None:
    """Freeze the BM25 corpus statistics (N, Σdl, per-term df for the
    fixed query terms) from a reference corpus — the 'model' new
    batches are scored under, like the drift monitor's reference bins
    and the decontamination screen's frozen band index.  1 row."""
    from ..plans.llmdata import bm25_corpus_stats, bm25_per_doc

    bm25_corpus_stats(bm25_per_doc(docs)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(ref_dir)


def bm25_screen_writer(
    ref_dir: str, out_dir: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: score each incoming document's relevance to
    the fixed query terms under the FROZEN reference statistics and
    restate the batch's (doc_id, bm25) partition — the lexical
    relevance screen a domain-targeted ingest runs ("keep what looks
    like my domain"), the learn-then-apply twin of `bm25_topk`.

    Scoring rides `plans/llmdata.bm25_scored` VERBATIM (same fixed
    term order, same det6 floor), so the stream score under stats S
    equals the batch score under S by construction — pinned by test.

    Scale: per batch one explode→per-doc agg (map-side combine), a
    1-row broadcast of the frozen stats, and a partition restatement;
    replay-safe via dynamic partition overwrite."""
    from ..plans.llmdata import bm25_per_doc, bm25_scored

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stats = spark.read.schema(BM25_STATS_SCHEMA).parquet(ref_dir)
        scored = bm25_scored(bm25_per_doc(batch_df), stats).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        overwrite_partitions(scored, out_dir, ["batch_id"])

    return write


def read_bm25_scores(spark: SparkSession, out_dir: str) -> DataFrame:
    """(doc_id, bm25) across all screened batches, deduped by doc_id
    (replay-safe restatement + the reader rule)."""
    return (
        spark.read.schema(BM25_SCORE_SCHEMA)
        .parquet(out_dir)
        .dropDuplicates(["doc_id"])
        .select("doc_id", "bm25")
    )
