"""Streaming count-min sketch: fold per-batch grids into a persistent
CMS so heavy-hitter estimates stay queryable while the stream runs.

The CMS merges by elementwise ADD, so the stream state is just the
per-batch grids, parquet-partitioned by ``batch_id`` and written with
dynamic partition overwrite — an at-least-once replay rewrites its own
partition instead of double-counting (the ``neardup.py`` /
``restatement_batch_writer`` replay-safety contract).  Readers fold
all partitions with one ≤ d·w·|batches|-row groupBy — by mergeability
this equals the grid a single batch pass over the full history would
build, which the test asserts EXACTLY.

Scale: each micro-batch writes ≤ d·w rows regardless of batch size;
the reader's fold input grows only with batch COUNT (compact
periodically by rewriting the fold as a single batch_id if that ever
matters).  No per-key state store — the whole point of a sketch at
the ingest boundary.

Compaction is crash-safe through a staged-partition + intent
protocol.  The new base grid is first written to the STAGING
partition ``batch_id=-2`` (excluded from every read), with an intent
file recording the folded batch ids and the staged grid's content
hash; only then is the old base swapped out via directory renames and
the folded partitions deleted.  Whatever instant a kill lands on,
recovery can tell the state apart by hashing: a verified staging grid
is promoted, a verified promoted base finishes its deletes, anything
else is an aborted attempt whose inert staging is discarded — counts
are never lost and never double-counted.  (Round-4 review findings:
the earlier in-place base overwrite could destroy the old base
mid-commit, and a failed delete with the intent already removed
silently re-enabled double-counting.)

Promotion is two atomic renames through a reserved ASIDE partition
(``batch_id=-3``, excluded from every read like staging): old base →
aside, staging → base.  At every instant an atomically-listed
directory therefore holds exactly one durable grid for the fold —
either the old base (pre-swap), the staged fold standing in for it
(mid-swap; the intent file routes readers to it), or the new base
(post-swap) — so a concurrent ``read_cms`` never undercounts.  The
only residual race is a reader whose two hash probes straddle a
rename (each probe is consistent, the PAIR is not); ``read_cms``
re-probes a few times before falling back, making that window a
retry, not a wrong answer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import cms_cells
from ..sinks.files import overwrite_partitions

_INTENT = "_COMPACT_INTENT.json"
BASE_ID = -1  # the compacted base grid
STAGING_ID = -2  # compaction staging, excluded from reads
OLD_ID = -3  # old base set aside mid-promotion, excluded from reads


def cms_batch_writer(
    state_dir: str, key_col: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: reduce the batch to its CMS grid and
    restate the batch's own partition."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        cells = cms_cells(batch_df.select(key_col), key_col).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        overwrite_partitions(cells, state_dir, ["batch_id"])

    return write


def _grid_hash(rows) -> str:
    """Order-independent content hash of (d, b, cnt) grid rows — THE
    protocol hash; both the intent writer and recovery use this one
    function so the two sides can never drift."""
    return hashlib.sha256(str(sorted(rows)).encode()).hexdigest()[:16]


#: the CMS grid's (key..., value) column tuple — the default for the
#: additive-state machinery below, which round 8 generalized so the
#: histogram family rides the identical intent protocol
_CMS_COLS = ("d", "b", "cnt")


def _partition_hash(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    cols: tuple[str, ...] = _CMS_COLS,
) -> str:
    """Content hash of one batch partition (≤ d·w rows — cheap)."""
    p = os.path.join(state_dir, f"batch_id={batch_id}")
    if not os.path.isdir(p):
        return "empty"
    try:
        rows = [
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(p).select(*cols).collect()
        ]
    except Exception:  # partial/corrupt staging from a mid-write kill
        return "unreadable"
    return _grid_hash(rows)


def _read_intent(state_dir: str) -> dict | None:
    p = os.path.join(state_dir, _INTENT)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _delete_partitions(state_dir: str, ids: list[int]) -> bool:
    """Best-effort delete; True only if every partition is really
    gone (the intent must survive a failed delete, or the surviving
    partition would be double-counted once the intent vanishes)."""
    ok = True
    for bid in ids:
        p = os.path.join(state_dir, f"batch_id={bid}")
        shutil.rmtree(p, ignore_errors=True)
        ok = ok and not os.path.isdir(p)
    return ok


def _resolve_intent(
    spark: SparkSession,
    state_dir: str,
    cols: tuple[str, ...] = _CMS_COLS,
) -> None:
    """Finish or discard an interrupted compaction (see module
    docstring for the state machine)."""
    intent = _read_intent(state_dir)
    if intent is None:
        return
    ids = [int(i) for i in intent.get("ids", [])]
    want = intent.get("folded_hash")
    base = os.path.join(state_dir, f"batch_id={BASE_ID}")
    staging = os.path.join(state_dir, f"batch_id={STAGING_ID}")
    aside = os.path.join(state_dir, f"batch_id={OLD_ID}")
    if _partition_hash(spark, state_dir, STAGING_ID, cols) == want:
        # staged fold is durable: promote it (aside-rename protocol —
        # atomic renames only, never a reader-visible delete window)
        try:
            if os.path.isdir(base):
                os.rename(base, aside)
            os.rename(staging, base)
        except OSError:
            return  # rename blocked (permissions?); keep intent, retry
    elif _partition_hash(spark, state_dir, BASE_ID, cols) != want:
        # neither staged nor promoted: the attempt aborted before the
        # staging write completed — restore an aside base if a freak
        # mid-swap kill left one (staging must then have rotted on
        # disk), discard the staging, old state stands
        if not os.path.isdir(base) and os.path.isdir(aside):
            os.rename(aside, base)
        shutil.rmtree(staging, ignore_errors=True)
        if os.path.isdir(base):
            shutil.rmtree(aside, ignore_errors=True)
        os.remove(os.path.join(state_dir, _INTENT))
        return
    # promoted (now or earlier): drop the set-aside old base (its
    # counts live in the promoted fold) and finish the deletes
    shutil.rmtree(aside, ignore_errors=True)
    if _delete_partitions(state_dir, ids):
        os.remove(os.path.join(state_dir, _INTENT))


def _stale_folded_ids(
    spark: SparkSession,
    state_dir: str,
    cols: tuple[str, ...] = _CMS_COLS,
) -> list[int]:
    """Batch ids already folded into a durable grid (staged or
    promoted) that still sit on disk — the reader must exclude them."""
    intent = _read_intent(state_dir)
    if intent is None:
        return []
    want = intent.get("folded_hash")
    if (
        _partition_hash(spark, state_dir, STAGING_ID, cols) == want
        or _partition_hash(spark, state_dir, BASE_ID, cols) == want
    ):
        return [int(i) for i in intent.get("ids", [])]
    return []


def read_cms(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold every batch's grid into the current CMS: (d, b, cnt).

    Crash-consistent and read-only: the staging partition is always
    excluded; if an interrupted compaction left a durable fold behind
    (per the intent file), the partitions it already folded are
    excluded too — but then the STAGED grid stands in for the base it
    was about to replace, so the fold stays exact whichever side of
    the promotion the crash fell on.
    """
    df = spark.read.parquet(state_dir)
    intent = _read_intent(state_dir)
    if intent is not None:
        exclude = _intent_exclusions(spark, state_dir, intent)
    else:
        exclude = [STAGING_ID, OLD_ID]
    df = df.where(~F.col("batch_id").isin(exclude))
    return df.groupBy("d", "b").agg(F.sum("cnt").alias("cnt"))


def _intent_exclusions(
    spark: SparkSession,
    state_dir: str,
    intent: dict,
    cols: tuple[str, ...] = _CMS_COLS,
) -> list[int]:
    """Which batch_id partitions a reader must exclude while an
    intent file is present.

    The two hash probes are each consistent but the PAIR can straddle
    a promotion rename (base probe before the swap, staging probe
    after) and match neither — so on a mismatch, re-probe.  But a
    GENUINELY aborted attempt (staging never became durable) also
    matches neither hash and is the common lingering case; burning the
    full retry budget (~40 collect jobs + 1 s of sleeps) on EVERY read
    of such state is pure waste (round-5 review finding).  A rename in
    flight changes what at least one probe sees between iterations, so
    two consecutive probe pairs returning the IDENTICAL non-matching
    values prove the state is stable, not mid-rename — short-circuit
    to the aborted-intent exclusion (old state stands, inert dirs
    excluded)."""
    want = intent.get("folded_hash")
    ids = [int(i) for i in intent.get("ids", [])]
    prev = None
    for _ in range(20):
        bh = _partition_hash(spark, state_dir, BASE_ID, cols)
        if bh == want:
            # promoted, deletes unfinished: base replaces the ids
            return [*ids, STAGING_ID, OLD_ID]
        sh = _partition_hash(spark, state_dir, STAGING_ID, cols)
        if sh == want:
            # staged but not yet promoted: the staging partition IS
            # the fold of (ids + old base) — read it instead
            return [*ids, BASE_ID, OLD_ID]
        if (bh, sh) == prev:
            break  # stable non-matching state: aborted, not mid-swap
        prev = (bh, sh)
        time.sleep(0.05)
    return [STAGING_ID, OLD_ID]


def compact_cms(spark: SparkSession, state_dir: str) -> int:
    """Fold the accumulated per-batch grids into a single base grid
    (partition ``batch_id=-1``), dropping the per-batch partitions —
    the read-side fold input goes from d·w·|batches| rows back to
    ≤ d·w.  Returns the number of cells in the compacted grid.

    Correctness: the CMS merge is associative, so pre-folding history
    commutes with the reader's fold — `read_cms` returns the identical
    grid before and after (asserted in tests).

    Safe while the stream runs: the set of batch partitions to fold
    is SNAPSHOT up front; only the snapshot partitions are deleted —
    a batch the live stream lands during compaction is neither
    consumed nor removed, just left for the next compaction.

    Crash-safe via the staged-partition + intent protocol (module
    docstring): stage the fold to ``batch_id=-2``, record intent
    (ids + content hash), promote by rename, delete, remove intent —
    every kill point is recovered by `_resolve_intent` on the next
    compaction, and `read_cms` stays exact in the meantime.

    Replay interaction (unchanged, and the one remaining caveat):
    compaction consumes historical batch partitions, so only compact
    past the stream's redelivery horizon (e.g. the checkpoint's
    committed offset) — a replay of an ALREADY-COMPACTED batch_id
    would otherwise double-count into the base grid.

    State lives on a local filesystem path (the repo's sink contract);
    promotion and deletes use local fs ops.
    """
    # schema mirrors cms_cells exactly (d: lit int32, b: 60-bit
    # portable hash mod width -> bigint, cnt: count -> bigint) so the
    # promoted base partition is schema-identical to batch partitions
    return _compact_additive(
        spark, state_dir, ("d", "b"), "d int, b bigint, cnt bigint"
    )


def _compact_additive(
    spark: SparkSession,
    state_dir: str,
    key_cols: tuple[str, ...],
    schema: str,
) -> int:
    """The staged-partition + intent compaction for ADDITIVE
    (sum-merged) state, generic over the key columns — `compact_cms`'s
    protocol verbatim with (key..., cnt) parametrized, so the
    histogram family (`compact_hist`) rides the identical state
    machine and kill-point guarantees."""
    cols = (*key_cols, "cnt")
    if not os.path.isdir(state_dir):
        return 0

    _resolve_intent(spark, state_dir, cols)
    if _read_intent(state_dir) is not None:
        # recovery could not finish (e.g. a partition refused to
        # delete): don't stack a second attempt on top
        raise RuntimeError(
            f"unresolved compaction intent in {state_dir}; "
            "fix the blocking partition and re-run"
        )

    # an orphan aside dir (kill between promote-rename and aside
    # cleanup, intent already cleared) holds counts the promoted base
    # already owns — discard it before snapshotting, never fold it
    shutil.rmtree(
        os.path.join(state_dir, f"batch_id={OLD_ID}"), ignore_errors=True
    )
    ids = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(state_dir)
        if name.startswith("batch_id=")
        and name not in (f"batch_id={STAGING_ID}", f"batch_id={OLD_ID}")
    )
    if not ids:
        return 0
    folded = (
        spark.read.parquet(state_dir)
        .where(F.col("batch_id").isin(ids))
        .groupBy(*key_cols)
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _stage_promote_delete(
        spark, state_dir, ids, folded, schema, cols
    )


def _stage_promote_delete(
    spark: SparkSession,
    state_dir: str,
    ids: list[int],
    folded: DataFrame,
    schema: str,
    cols: tuple[str, ...],
) -> int:
    """The staged-partition + intent tail shared by `_compact_additive`
    and `rebuild_additive`: materialize ``folded`` as the new base
    grid, record intent, promote via atomic renames, delete exactly
    the snapshot ``ids`` — every kill point recovered by
    `_resolve_intent`, readers exact throughout."""
    rows = [tuple(r[c] for c in cols) for r in folded.collect()]
    n = len(rows)
    folded_hash = _grid_hash(rows)

    # stage the fold OUTSIDE the read path (batch_id=-2 is excluded
    # from every read), then record intent, then promote
    staging = os.path.join(state_dir, f"batch_id={STAGING_ID}")
    shutil.rmtree(staging, ignore_errors=True)
    spark.createDataFrame(rows, schema).coalesce(
        1
    ).write.mode("overwrite").parquet(staging)

    intent_path = os.path.join(state_dir, _INTENT)
    tmp_intent = intent_path + ".tmp"
    with open(tmp_intent, "w") as fh:
        json.dump(
            {
                "ids": [bid for bid in ids if bid != BASE_ID],
                "folded_hash": folded_hash,
            },
            fh,
        )
    os.replace(tmp_intent, intent_path)

    # promote via two atomic renames (module docstring: a reader's
    # atomically-listed view always holds exactly one durable grid)
    base = os.path.join(state_dir, f"batch_id={BASE_ID}")
    aside = os.path.join(state_dir, f"batch_id={OLD_ID}")
    if os.path.isdir(base):
        os.rename(base, aside)
    os.rename(staging, base)
    shutil.rmtree(aside, ignore_errors=True)
    if _delete_partitions(
        state_dir, [bid for bid in ids if bid != BASE_ID]
    ):
        os.remove(intent_path)
    return n


# ---------------------------------------------------------------------------
# Streaming Bloom filter — bit_or fold, same replay-safe partition
# contract as the CMS grids
# ---------------------------------------------------------------------------


def bloom_batch_writer(
    state_dir: str, fp_col: str = "fp"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: reduce the batch's fingerprints to their
    ≤ BLOOM_BITS/32-row (word, bits) bitmap and restate the batch's
    own partition.  Bloom bitmaps merge by bit_or (idempotent AND
    associative — even a double-fold cannot corrupt membership, unlike
    CMS addition), so the reader's fold equals the one-pass bitmap."""
    from ..operators.sketches import bloom_cells

    def write(batch_df: DataFrame, batch_id: int) -> None:
        cells = bloom_cells(batch_df, fp_col).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        overwrite_partitions(cells, state_dir, ["batch_id"])

    return write


def read_bloom(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold every batch's bitmap into the corpus-so-far Bloom filter:
    (word, bits).  Probe with `operators.sketches.bloom_probe` — the
    stream-side membership screen for the dedup ingest boundary."""
    return (
        spark.read.schema("word long, bits long, batch_id int")
        .parquet(state_dir)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def compact_bloom(spark: SparkSession, state_dir: str) -> int:
    """Fold the accumulated per-batch Bloom bitmaps into a single
    base partition (``batch_id=-1``), dropping the per-batch
    partitions; returns the compacted word count.

    Crash-safety needs NONE of the CMS machinery (no intent file, no
    content hashes, no read-side exclusions or re-probes) because
    bit_or is IDEMPOTENT as well as associative: a reader folding any
    crash-state combination of {source partitions, staged fold, set-
    aside old base, promoted base} computes the same membership bits —
    duplicate copies cannot double-count (`_restate_base`).
    `read_bloom` needs no changes (it already folds every partition,
    staging and aside included).

    Safe while the stream runs, like `compact_cms`: only the
    snapshot's partitions are deleted — a batch landing mid-compaction
    is neither consumed nor removed (its bits are in its own
    partition, which the fold-union keeps correct).
    """
    return _restate_base(
        spark,
        state_dir,
        lambda ids: spark.read.parquet(state_dir)
        .where(F.col("batch_id").isin(ids))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits")),
        done=lambda ids: ids in ([], [BASE_ID]),
    )


def _restate_base(
    spark: SparkSession,
    state_dir: str,
    fold: Callable[[list[int]], DataFrame],
    done: Callable[[list[int]], bool] = lambda ids: False,
) -> int:
    """Replace the snapshot partitions of an IDEMPOTENT-fold state dir
    (Bloom bit_or, KMV min-k, rows unique per natural key behind a
    deduping reader) with one base partition (``batch_id=-1``) holding
    ``fold(ids)`` — rows without a batch_id column, folded from the
    snapshot ``ids`` or rebuilt from elsewhere.  Returns the base's row
    count.  ``done(ids)`` says the state is already in its final shape;
    the base is then counted and left as it is.

    The sequence: snapshot every partition but a stale staging (its
    rows duplicate sources that were never deleted), stage the fold
    as ``batch_id=-2``, rename the old base aside, promote the
    staging, delete the snapshot's sources and the aside.  Source
    partitions are deleted strictly AFTER the staged fold is durably
    promoted, and the old base is renamed aside (never deleted) until
    the new base exists, so no row ever exists solely in driver
    memory; any kill leaves a combination of copies that an idempotent
    reader folds to the same answer, and the next call simply refolds
    it.  A partition the live stream lands after the snapshot is
    neither consumed nor deleted.

    The staging is a plain parquet write, which creates the directory
    even for zero rows (a dynamic-partition overwrite of an empty
    frame writes no partition): a takedown that retracts every row
    must still promote an empty base.  It keeps the fold's own
    partitioning, so a corpus-sized compaction writes in parallel."""
    if not os.path.isdir(state_dir):
        return 0
    staging = os.path.join(state_dir, f"batch_id={STAGING_ID}")
    base = os.path.join(state_dir, f"batch_id={BASE_ID}")
    aside = os.path.join(state_dir, f"batch_id={OLD_ID}")
    ids = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(state_dir)
        if name.startswith("batch_id=")
        and name != f"batch_id={STAGING_ID}"
    )
    if done(ids):
        return spark.read.parquet(base).count() if BASE_ID in ids else 0
    shutil.rmtree(staging, ignore_errors=True)
    fold(ids).write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    if os.path.isdir(base):
        shutil.rmtree(aside, ignore_errors=True)
        os.rename(base, aside)
    os.rename(staging, base)
    for bid in ids:
        if bid == BASE_ID:
            continue
        shutil.rmtree(
            os.path.join(state_dir, f"batch_id={bid}"),
            ignore_errors=True,
        )
    shutil.rmtree(aside, ignore_errors=True)
    return n


# ---------------------------------------------------------------------------
# KMV distinct-count sketch — the mergeable production form
# ---------------------------------------------------------------------------

#: matches plans/sketches.KMV_K (not imported: plans -> operators ->
#: streaming must stay acyclic); the estimator arithmetic below is the
#: q_kmv_distinct recipe verbatim, which a pinned test asserts.
KMV_K = 256

KMV_STATE_SCHEMA = "event_type string, h long, batch_id int"


def kmv_batch_writer(
    state_dir: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = KMV_K,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: reduce the batch to its per-group bottom-k
    DISTINCT portable hashes — the KMV sketch state (Bar-Yossef et
    al. 2002) — and restate the batch's own partition.

    Merge-equals-direct is exact, not approximate: any hash among the
    global k smallest is k-smallest within every batch that saw it,
    so the fold's rank-k hash equals the one-pass rank-k hash, and
    when fewer than k distinct hashes exist globally every one is in
    some batch's state — `read_kmv`'s estimate is IDENTICAL to
    computing `q_kmv_distinct` over the concatenated batches (pinned
    by test).  Replay-safe two ways: dynamic partition overwrite
    restates the partition, and the reader's distinct absorbs the
    same (group, h) row landing in several batches.

    State is ≤ k rows per group per batch; compaction needs no new
    machinery — rows are unique per (group, h) natural key and the
    reader dedups, so `curation.compact_state` applies as-is.
    """
    from ..operators.sampling import _portable_hash

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        hashed = batch_df.select(
            F.col(group_col).alias("event_type"),
            _portable_hash(F.col(key_col), "kmv0").alias("h"),
        ).distinct()
        w = Window.partitionBy("event_type").orderBy("h")
        state = (
            hashed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(
                "event_type", "h", F.lit(int(batch_id)).alias("batch_id")
            )
        )
        overwrite_partitions(state, state_dir, ["batch_id"])

    return write


def read_kmv(
    spark: SparkSession, state_dir: str, k: int = KMV_K
) -> DataFrame:
    """Fold every batch's bottom-k state into the corpus-so-far KMV
    estimate per group: (event_type, n_kept, hk, est_users) with
    est = n if n < k (the sample IS the distinct set — exact) else
    floor((k-1)·2^60 / h_k + 0.5) — the Beyer et al. 2007 unbiased
    form, identical arithmetic to `plans/sketches.q_kmv_distinct`.

    Fold cost is sketch-sized (≤ k·|batches| rows per group), never
    raw events; `n_kept` is capped at k so the exact/estimate branch
    sees the same value the one-pass form would.
    """
    from pyspark.sql.window import Window

    hashed = (
        spark.read.schema(KMV_STATE_SCHEMA)
        .parquet(state_dir)
        .select("event_type", "h")
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    per = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.floor(
            F.lit(float(k - 1))
            * F.lit(float(1 << 60))
            / F.col("hk").cast("double")
            + F.lit(0.5)
        ).cast("bigint")
    )
    return per.select(
        "event_type",
        "n_kept",
        "hk",
        est.cast("bigint").alias("est_users"),
    )


def read_kmv_jaccard(
    spark: SparkSession, state_dir: str, k: int = KMV_K
) -> DataFrame:
    """Pairwise audience-overlap estimates from the STORED KMV state —
    the streaming twin of `plans/sketches.q_kmv_jaccard`'s estimator
    half: fold each group's per-batch bottom-k partitions to the
    corpus-so-far bottom-k, then run the union-sample Jaccard
    (J ≈ |M ∩ A ∩ B| / |M|, M = bottom-k of the sketch union) on the
    ≤|groups|-row sketch relation.  This is the POINT of mergeable
    sketches: overlap between any two streams' audiences without ever
    joining raw ids — the same state `read_kmv` estimates
    cardinalities from.  Output: (type_a, type_b, est_jaccard det6),
    pinned EQUAL to the batch query's estimate column over the same
    ingested rows."""
    from pyspark.sql.window import Window

    hashed = (
        spark.read.schema(KMV_STATE_SCHEMA)
        .parquet(state_dir)
        .select("event_type", "h")
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    bk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    return (
        bk.alias("a")
        .join(
            bk.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .selectExpr(
            "a.event_type AS type_a",
            "b.event_type AS type_b",
            f"slice(array_sort(array_union(a.hs, b.hs)), 1, {k}) AS m",
            "a.hs AS ha",
            "b.hs AS hb",
        )
        .selectExpr(
            "type_a",
            "type_b",
            "CAST(FLOOR(size(array_intersect(m,"
            " array_intersect(ha, hb)))"
            " / CAST(size(m) AS DOUBLE) * 1e6 + 0.5) AS DOUBLE) / 1e6"
            " AS est_jaccard",
        )
        .orderBy("type_a", "type_b")
    )


HIST_STATE_SCHEMA = "bin int, cnt bigint, batch_id int"


def hist_batch_writer(
    state_dir: str, value_col: str = "value"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: reduce the batch to its fixed-bin histogram
    counts (`plans/sketches.hist_bin_counts` — static bins, so states
    merge by plain sum) and restate the batch's own partition.

    ADDITIVE state, like the CMS grids and unlike the id-keyed
    families: a crash-duplicated partition would double-count, which
    the dynamic-partition-overwrite restatement prevents for replays.
    State is ≤ HIST_BINS rows per batch; `compact_hist` folds the
    partitions under the same staged+intent protocol as `compact_cms`
    (sum-fold — the idempotent-reader distinct rewrite would be wrong
    for additive rows).
    """
    from ..plans.sketches import hist_bin_counts

    def write(batch_df: DataFrame, batch_id: int) -> None:
        counts = hist_bin_counts(
            batch_df.select(F.col(value_col).alias("value"))
        ).withColumn("batch_id", F.lit(int(batch_id)))
        overwrite_partitions(counts, state_dir, ["batch_id"])

    return write


def read_histogram(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold every batch's bin counts into the corpus-so-far histogram
    — (bin, cnt) by plain sum.  Feed to
    `plans/sketches.histogram_quantiles` for the quantile view; the
    fold is pinned EXACTLY equal to the one-pass batch histogram
    (static bins make merge lossless, not approximate).
    Crash-consistent like `read_cms`: staging/aside partitions are
    excluded, and a durable mid-compaction fold stands in for the
    partitions it already consumed."""
    df = spark.read.schema(HIST_STATE_SCHEMA).parquet(state_dir)
    intent = _read_intent(state_dir)
    if intent is not None:
        exclude = _intent_exclusions(
            spark, state_dir, intent, ("bin", "cnt")
        )
    else:
        exclude = [STAGING_ID, OLD_ID]
    return (
        df.where(~F.col("batch_id").isin(exclude))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_hist(spark: SparkSession, state_dir: str) -> int:
    """Fold the per-batch histogram partitions into a single base —
    `compact_cms`'s staged+intent protocol on the (bin, cnt) schema
    (additive state: sum-fold, reader-exact at every kill point).
    Same operational rule: compact past the redelivery horizon."""
    return _compact_additive(
        spark, state_dir, ("bin",), "bin int, cnt bigint"
    )


# ---------------------------------------------------------------------------
# Sketch REBUILD after retraction — the additive-state takedown answer
# ---------------------------------------------------------------------------
#
# Additive sketches (Bloom bits, CMS counts, histogram bins) and the
# KMV bottom-k cannot delete a document's contribution (SCALING.md
# "Retraction"); the production answer is a periodic REBUILD from a
# retraction-capable base relation (id-keyed rows, tombstone-filtered
# by the caller — `maintenance.rebuild_sketches` wires that up).  A
# rebuild is a compaction whose new base grid comes from the base
# relation instead of from folding the old partitions:
#
# - snapshot the existing partition ids FIRST, so a batch the live
#   stream lands mid-rebuild is neither consumed nor deleted — it
#   folds alongside the rebuilt base exactly like it folds alongside
#   a compacted one (the idempotent-reader protocol unchanged);
# - the additive families ride `_stage_promote_delete` (staging +
#   intent + atomic renames), so readers stay exact at every kill
#   point and a crashed rebuild is recovered by the next
#   compaction/rebuild's `_resolve_intent`;
# - the id-keyed/idempotent families (Bloom bit_or, KMV min-k) use
#   the `_restate_base` durability sequence — duplicates during the
#   window cannot corrupt, deletes finish the swap.
#
# Horizon contract (the caller's, same as compaction's): the base
# relation must cover every document in the snapshot partitions —
# i.e. rebuild from the same state family the stream feeds (curation
# fingerprints, versioned corpus), past the redelivery horizon.  The
# retracted document's contribution disappears at promote+delete —
# the same instant compaction physically drops tombstoned id-keyed
# rows.


def rebuild_additive(
    spark: SparkSession,
    state_dir: str,
    key_cols: tuple[str, ...],
    schema: str,
    cells: DataFrame,
) -> int:
    """Replace an ADDITIVE state dir's entire content with ``cells``
    (the grid rebuilt from the base relation; no batch_id column).
    Same preamble + staged/intent/promote tail as `_compact_additive`.
    """
    cols = (*key_cols, "cnt")
    os.makedirs(state_dir, exist_ok=True)
    _resolve_intent(spark, state_dir, cols)
    if _read_intent(state_dir) is not None:
        raise RuntimeError(
            f"unresolved compaction intent in {state_dir}; "
            "fix the blocking partition and re-run"
        )
    shutil.rmtree(
        os.path.join(state_dir, f"batch_id={OLD_ID}"), ignore_errors=True
    )
    ids = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(state_dir)
        if name.startswith("batch_id=")
        and name not in (f"batch_id={STAGING_ID}", f"batch_id={OLD_ID}")
    )
    folded = cells.groupBy(*key_cols).agg(F.sum("cnt").alias("cnt"))
    return _stage_promote_delete(
        spark, state_dir, ids, folded, schema, cols
    )


def rebuild_idempotent(
    spark: SparkSession, state_dir: str, state: DataFrame
) -> int:
    """Replace an IDEMPOTENT-fold state dir's content with ``state``
    (rebuilt rows; no batch_id column) — `_restate_base` with the
    fold swapped for the external rebuild.  A kill at any point leaves
    a fold-correct combination (duplicates cannot corrupt bit_or /
    min-k / distinct readers); the retracted contribution is gone once
    the deletes finish, and a rebuild from an empty base promotes an
    empty base."""
    os.makedirs(state_dir, exist_ok=True)
    return _restate_base(spark, state_dir, lambda ids: state)
