"""Streaming near-duplicate detection — MinHash-LSH at the ingest
boundary.

Extends the dedup family's batch operators (`operators/dedup.py`) to
the document-firehose case the reference's pipelines imply (SURVEY.md
§2.7: per-batch imperative processing via foreachRDD → foreachBatch):
each micro-batch is signed once (`sign_batch`), probed against the
*corpus-so-far* LSH band index, exact-verified, and then added to the
index.

State layout (two parquet tables, both partitioned by ``batch_id`` and
written with dynamic partition overwrite so an at-least-once replay
rewrites its own partition instead of duplicating index rows — the
same replay-safety contract as ``restatement_batch_writer``):

- ``<index_dir>/bands``: (doc_id, band, bh)  — the LSH probe keys
- ``<index_dir>/sigs``:  (doc_id, shingles)  — for exact verification
- ``<flags_dir>``:       (doc_a, doc_b, jaccard) near-dup pairs where
  ``doc_b`` is the incoming document and ``doc_a`` the earlier one
  (or the within-batch pair, doc_a < doc_b)

Scale: per batch, one signing pass over the batch (`sign_batch`,
map-only for small batches, an aggregate for large ones), then an
equi-join of the batch's 16 band keys per doc
against the band index, with the batch side broadcast so the index
streams through a map-side join; candidate volume tracks near-dup
density exactly as in the batch operator.  The verify reads the
``sigs`` store through a broadcast semi-join on the candidate ids, so
only candidate rows reach an exchange.  Both state tables are still
SCANNED in full on every batch: the band index is ~16 rows × 24 bytes
per corpus document, ~400 GB at 10⁹ docs, so at that scale the probe
must read only the batch's (band, bh) keys (row-group pruning or a
band-bucketed layout), which this layout does not offer yet.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    band_keys,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_rel,
    with_minhash_signature,
)
from ..sinks.files import overwrite_partitions

logger = logging.getLogger(__name__)

#: declared schemas of the index state (format v1: shingle strings)
BANDS_SCHEMA = "doc_id long, band int, bh long, batch_id int"
SIGS_SCHEMA = "doc_id long, shingles array<string>, batch_id int"
BENCH_BANDS_SCHEMA = "doc_id long, band int, bh long"
BENCH_SIGS_SCHEMA = "doc_id long, shingles array<string>"


def _read_or_none(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """Missing-path-tolerant state read, shared by the streaming
    index families (near-dup bands/sigs, the ANN code index)."""
    reader = spark.read.schema(schema) if schema else spark.read
    try:
        return reader.parquet(path)
    except Exception:  # AnalysisException: path does not exist yet
        return None


def retract_docs(
    spark: SparkSession, index_dir: str, doc_ids: list[int]
) -> int:
    """Takedown for the near-dup index: append doc_id tombstones at
    ``<index_dir>/tombstones``.  The retracted documents stop matching
    incoming batches on the very next micro-batch (the writer
    anti-joins pending tombstones when it probes the corpus-so-far);
    `compact_neardup` physically drops their band/sig rows and
    consumes the tombstones.  See `streaming/tombstones.py`."""
    from .tombstones import write_tombstones

    return write_tombstones(spark, f"{index_dir}/tombstones", doc_ids)


#: batches of at least this many documents are signed with the
#: explode+aggregate kernel (`minhash_signatures`), smaller ones with
#: the per-row form (`with_minhash_signature`); see `sign_batch`
SIGN_AGG_MIN_DOCS = 5_000


def sign_batch(
    docs: DataFrame, n_docs: int, text_col: str = "text"
) -> DataFrame:
    """The batch's signed relation ``(doc_id, shingles, sh_hashes,
    sig)``, persisted.  Both MinHash screens read it: the shingle
    strings feed the ``sigs`` state (format v1), the hashes feed the
    exact verify, the signature feeds the band keys.  The caller
    unpersists it.  ``doc_id`` must be unique within the batch, as for
    the verify.

    ``n_docs`` is the batch's size (an upper bound is enough) and
    picks the kernel; both give identical signatures.  The per-row
    form is map-only, but its 64 interpreted lambdas run in the
    batch's own partitions; the aggregate adds an exchange and a join
    back to the shingles and spreads the signing over the shuffle
    partitions.  Measured warm on a 4-core box
    (`bench_evidence/sign_kernels.txt`): at 200 docs the per-row form
    takes 0.6 s to the aggregate's 1.5 s; at 5 000 docs it wins over
    four partitions (1.6 s to 2.3 s) and loses in one (3.5 s to
    2.1 s); at 50 000 docs the aggregate wins 6.5 s to 9.1 s over
    eight partitions and 12 s to 34 s in two (one large file).

    The relation is filled here, every partition, by one write to the
    ``noop`` sink: the screens then plan their joins on its measured
    size (left unfilled, the benchmark screen's plan ran two more
    jobs), and the aggregate's shingles can be released."""
    sh = None
    if n_docs < SIGN_AGG_MIN_DOCS:
        signed = with_minhash_signature(docs, text_col).select(
            "doc_id", "shingles", "sh_hashes", "sig"
        )
    else:
        # read by the aggregate and by the join back: shingle once
        sh = (
            shingle_rel(docs, text_col)
            .withColumn(
                "sh_hashes", F.expr("transform(shingles, x -> xxhash64(x))")
            )
            .persist()
        )
        signed = sh.join(minhash_signatures(sh), "doc_id")
    signed = signed.persist()
    signed.write.format("noop").mode("overwrite").save()
    if sh is not None:
        sh.unpersist()
    return signed


def _signed_screen(
    screen: Callable[[DataFrame, int], None], text_col: str
) -> Callable[..., None]:
    """foreachBatch callable around a screen over the signed relation.
    Composed (`ingest.full_ingest_writer`), the caller passes
    ``signed=`` for a non-empty batch and owns its cache.  Standalone,
    the batch is counted (an empty batch writes nothing) and signed
    here."""

    def _fn(
        batch_df: DataFrame, batch_id: int, signed: DataFrame | None = None
    ) -> None:
        if signed is not None:
            screen(signed, batch_id)
            return
        n_docs = batch_df.count()
        if not n_docs:
            return
        signed = sign_batch(batch_df, n_docs, text_col)
        try:
            screen(signed, batch_id)
        finally:
            signed.unpersist()

    return _fn


def near_dup_batch_writer(
    index_dir: str,
    flags_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
) -> Callable[..., None]:
    """foreachBatch stage: flag near-dups of each micro-batch against
    the corpus-so-far, then fold the batch into the index.

    Within-batch pairs come from the same banded self-join as the
    batch operator and verify against the batch alone.  Batch-vs-corpus
    pairs probe the persisted band index and verify BIPARTITELY: the
    old side resolves from only the ``sigs`` rows of candidate docs (a
    broadcast semi-join on the candidate ids, one row per doc_id, which
    absorbs the `compact_neardup` kill-point state where a doc sits in
    both the base and a source partition), the new side from the
    batch.  Every candidate is exact-Jaccard-verified before flagging
    (probabilistic pruning, deterministic output — the dedup-family
    invariant).  Call as ``fn(batch_df, batch_id)``, or with
    ``signed=`` (see `_signed_screen`).
    """

    def screen(signed: DataFrame, batch_id: int) -> None:
        spark = signed.sparkSession
        bands_new = band_keys(signed)
        flags = jaccard_verify(lsh_candidate_pairs(signed), signed, threshold)
        cross = None
        bands_old = _read_or_none(spark, f"{index_dir}/bands", BANDS_SCHEMA)
        if bands_old is not None:
            from .tombstones import apply_tombstones, read_pending_tombstones

            # corpus-vs-batch candidates: old doc is doc_a, new doc is
            # doc_b.  A replayed batch excludes its own prior index
            # partition so it can't pair a doc with itself; retracted
            # docs stop matching at once (pending tombstones anti-join
            # the band side, compaction makes the drop physical later)
            bands_old = apply_tombstones(
                bands_old.where(F.col("batch_id") != batch_id),
                read_pending_tombstones(spark, f"{index_dir}/tombstones"),
                "doc_id",
            )
            # the batch side is broadcast: 16 rows per doc, measured
            # as fast as AQE's own choice at 200 docs and faster at
            # 50 000 (bench_evidence/sign_kernels.txt)
            cross = (
                bands_old.alias("a")
                .join(
                    F.broadcast(bands_new).alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    # a doc never pairs with itself — also shields a
                    # replay of an already-COMPACTED batch (whose rows
                    # now live in the base partition, out of reach of
                    # the batch_id exclusion) from emitting self-pairs
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
                # read twice below (candidate ids, verify pairs) and
                # computed once, by whichever read comes first
                .persist()
            )
            sigs_old = (
                spark.read.schema(SIGS_SCHEMA)
                .parquet(f"{index_dir}/sigs")
                .where(F.col("batch_id") != batch_id)
                .join(
                    F.broadcast(cross.select(F.col("doc_a").alias("doc_id"))),
                    "doc_id",
                    "left_semi",
                )
                # one row per doc: a kill-point compaction leaves a doc
                # in both the base and its source partition
                .dropDuplicates(["doc_id"])
            )
            flags = flags.unionAll(
                jaccard_verify(cross, sigs_old, threshold, signed_b=signed)
            )
        try:
            overwrite_partitions(
                flags.withColumn("batch_id", F.lit(batch_id)),
                flags_dir,
                ["batch_id"],
            )
        finally:
            if cross is not None:
                cross.unpersist()

        # fold the batch into the index (replay overwrites in place)
        overwrite_partitions(
            bands_new.withColumn("batch_id", F.lit(batch_id)),
            f"{index_dir}/bands",
            ["batch_id"],
        )
        overwrite_partitions(
            signed.select("doc_id", "shingles").withColumn(
                "batch_id", F.lit(batch_id)
            ),
            f"{index_dir}/sigs",
            ["batch_id"],
        )
        logger.info("batch %s: near-dup index updated", batch_id)

    return _signed_screen(screen, text_col)


def build_benchmark_index(
    spark: SparkSession,
    benchmark: DataFrame,
    index_dir: str,
    text_col: str = "text",
) -> None:
    """Sign and band the held-out benchmark suite ONCE — the frozen
    side of streaming fuzzy decontamination (the `build_ann_model`
    contract: benchmarks change rarely; re-building implies
    re-screening).  Writes ``<index_dir>/bench_bands`` (doc_id, band,
    bh) and ``<index_dir>/bench_sigs`` (doc_id, shingles).  Benchmark
    suites are tiny next to the corpus, so both relations broadcast
    at probe time."""
    from ..operators.dedup import band_keys as _bk

    sh = shingle_rel(benchmark, text_col)
    sh.persist()
    try:
        _bk(minhash_signatures(sh)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/bench_bands")
        sh.select("doc_id", "shingles").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/bench_sigs")
    finally:
        sh.unpersist()


def benchmark_screen_writer(
    index_dir: str,
    flags_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
) -> Callable[..., None]:
    """foreachBatch stage: streaming FUZZY DECONTAMINATION — flag each
    incoming document that near-duplicates a benchmark document, so
    contaminated docs are caught at the ingest boundary instead of
    after they land in training shards.  The streaming twin of
    `plans/llmdata.q_decontaminate_fuzzy` (`operators/dedup.
    minhash_cross_near_duplicates`): each batch is signed once, its
    band keys probe the FROZEN broadcast benchmark bands, candidates
    are exact-Jaccard verified, and flags restate the batch's own
    partition (replay-safe, like every writer in this module).

    Because the benchmark side is frozen, batches screen
    independently — the streamed flag fold equals the one-pass batch
    operator over the union of every ingested batch EXACTLY (no
    cross-batch state at all), which the tests pin.  Output rows:
    (doc_a = incoming doc, doc_b = benchmark doc, jaccard, batch_id).

    The verify is BIPARTITE, matching the batch twin: corpus and
    benchmark doc_id spaces may overlap (each side's ids only need to
    be unique within that side), so the band probe keeps self-id
    pairs and ``jaccard_verify`` resolves doc_a shingles from the
    batch and doc_b shingles from the frozen benchmark store — an
    incoming doc whose doc_id happens to collide with a benchmark
    doc_id is screened like any other.  Call as ``fn(batch_df,
    batch_id)``, or with ``signed=`` (see `_signed_screen`).
    """

    def screen(signed: DataFrame, batch_id: int) -> None:
        spark = signed.sparkSession
        bench_bands = spark.read.schema(BENCH_BANDS_SCHEMA).parquet(
            f"{index_dir}/bench_bands"
        )
        bench_sigs = spark.read.schema(BENCH_SIGS_SCHEMA).parquet(
            f"{index_dir}/bench_sigs"
        )
        pairs = (
            band_keys(signed)
            .alias("a")
            .join(
                F.broadcast(bench_bands).alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        flags = jaccard_verify(
            pairs, signed, threshold, signed_b=bench_sigs
        ).withColumn("batch_id", F.lit(int(batch_id)))
        overwrite_partitions(flags, flags_dir, ["batch_id"])
        logger.info("batch %s: benchmark screen flags written", batch_id)

    return _signed_screen(screen, text_col)


def compact_neardup(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """Fold the per-batch ``bands``/``sigs`` partitions of a streaming
    near-dup index into single base partitions (``batch_id=-1``) —
    without this, a long-running ingest accumulates one parquet
    partition per micro-batch that the probe join must enumerate
    (small-files pressure at 10⁹ docs, the problem ``compact-cms``
    solves for the sketch family).  Returns (band_rows, sig_rows).

    Tombstone-aware (see `retract_docs`): ONE snapshot of the pending
    doc_id tombstones is applied across BOTH state tables, then
    consumed once — a kill between the two compactions leaves the
    tombstones pending, which every reader keeps anti-joining, so the
    retraction stays effective and the next run converges.

    Reuses ``curation.compact_state`` verbatim: like the curation
    relations, index rows are unique per natural key — (doc_id, band)
    for bands, doc_id for sigs — not additive, so compaction is a
    pure distinct-rewrite, and the stage→promote→delete sequence is
    readable-correct at every kill point because the probe path
    dedups (the cross-join ``distinct`` for bands, the
    ``dropDuplicates([doc_id])`` sig fold in the writer).  Same
    operational rule as ``compact_cms``: only compact past the
    stream's redelivery horizon — a replayed batch whose rows were
    compacted into the base restates a fresh partition the base
    already covers (the readers absorb it; the next compaction folds
    it away), and its cross-probe is self-pair-guarded.
    """
    from .curation import compact_state
    from .tombstones import (
        delete_tombstone_files,
        pending_tombstone_files,
        read_tombstone_ids,
    )

    files = pending_tombstone_files(f"{index_dir}/tombstones")
    tombs = read_tombstone_ids(spark, files)
    out = (
        compact_state(spark, f"{index_dir}/bands", tombs, "doc_id"),
        compact_state(spark, f"{index_dir}/sigs", tombs, "doc_id"),
    )
    delete_tombstone_files(files)
    return out
