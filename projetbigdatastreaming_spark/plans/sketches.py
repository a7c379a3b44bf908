"""Mergeable-sketch operators: count-min-sketch heavy hitters and
HLL sketch rollup via union.

Why sketches are a first-class scale primitive here: at 100 TB the
only aggregation states that survive are ones with a FIXED size that
merge associatively — a count-min sketch is a d×w integer grid merged
by elementwise add, an HLL sketch is a register array merged by max.
Both therefore ride Spark's partial-aggregation machinery (map-side
combine per partition, one tiny shuffle of sketch state), and — the
part a plain groupBy can't do — previously materialized per-day /
per-source sketches roll up to coarser grains WITHOUT rescanning the
raw data.

The reference has no sketch surface (its one KPI query is exact,
``IndicateursStreaming.scala:139-184``); this extends the north-star
curation toolkit the way production pipelines do: CMS for ad-hoc
frequency probes over high-cardinality keys, HLL for distinct-user
rollups across time grains.

Determinism/oracle strategy: the CMS is built from the portable
md5-prefix hash (``operators/sampling.py::_portable_hash``) so DuckDB
replays the ENTIRE sketch bit-for-bit — estimates, collisions and
all — giving a full-value oracle, not a tolerance row.  The HLL query
uses Spark's Datasketches implementation (engine-specific by design),
so it follows the ``approx_distinct_check`` pattern: the output is
the exact-side-checkable rollup structure plus a within-tolerance
boolean that a drifting sketch flips to red.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..cache import persist_scoped
from ..catalog import load_table
from ..operators.sampling import _portable_hash
from ..operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_cells,
    cms_point_estimate,
)
from .registry import QuerySpec

# ---------------------------------------------------------------------------
# heavy_hitters_cms — count-min sketch, fully oracle-replayed
# ---------------------------------------------------------------------------

CMS_TOPK = 15


def q_heavy_hitters_cms(spark, sf_dir):
    """Count-min sketch over ``events.user_id``: build the d×w grid,
    then point-estimate the top-k users and compare against exact
    counts.

    Scale plan: the grid build explodes each row to d=4 (depth,
    bucket) cells but the groupBy's map-side combine collapses every
    partition to ≤ d·w = 2 048 rows before the shuffle — sketch state
    moved, not data.  The candidate set here is the exact top-k (the
    verification baseline; in production the candidates are an ad-hoc
    probe list and the exact pass is skipped entirely — that is the
    point of the sketch).  Estimates join the grid with a broadcast of
    the ≤2 048-row cells relation; ``est >= exact`` is the CMS
    one-sided error guarantee and is asserted per row.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = cms_cells(ev, "user_id")
    cand = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(CMS_TOPK)
    )
    est = cms_point_estimate(cells, cand.select("user_id"), "user_id")
    return (
        cand.join(est, "user_id")
        .select(
            "user_id",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("no_undercount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
    )


_DUCK_CMS_HASH = (
    "CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),"
    " 'cms' || CAST(d AS VARCHAR))), 1, 15)) AS BIGINT)"
)

SQL_HEAVY_HITTERS_CMS = f"""
WITH ds AS (SELECT unnest(range({CMS_DEPTH})) AS d),
cells AS (
  SELECT d, {_DUCK_CMS_HASH} % {CMS_WIDTH} AS b, COUNT(*) AS cnt
  FROM events CROSS JOIN ds
  GROUP BY 1, 2),
cand AS (
  SELECT user_id, COUNT(*) AS exact_cnt
  FROM events
  GROUP BY user_id
  ORDER BY exact_cnt DESC, user_id ASC
  LIMIT {CMS_TOPK}),
probes AS (
  SELECT user_id, exact_cnt, d, {_DUCK_CMS_HASH} % {CMS_WIDTH} AS b
  FROM cand CROSS JOIN ds),
est AS (
  SELECT p.user_id, p.exact_cnt, MIN(c.cnt) AS est_cnt
  FROM probes p JOIN cells c ON p.d = c.d AND p.b = c.b
  GROUP BY 1, 2)
SELECT user_id, exact_cnt, est_cnt,
       est_cnt >= exact_cnt AS no_undercount
FROM est
ORDER BY exact_cnt DESC, user_id ASC
"""


# ---------------------------------------------------------------------------
# hll_rollup_union — Datasketches HLL: daily sketches union to total
# ---------------------------------------------------------------------------

HLL_LG_K = 12  # 2^12 registers → ~1.6% rsd; tolerance below is ±5%


def q_hll_rollup_union(spark, sf_dir):
    """Distinct-user rollup from MERGED daily HLL sketches: build one
    sketch per (event_type, day), union the daily sketches per
    event_type, and check the unioned estimate against the exact
    distinct count.

    This is the pre-aggregation pattern a 100 TB pipeline runs on: the
    daily job materializes per-day sketch state (here the first
    groupBy), and every coarser grain — weekly, monthly, all-time —
    derives from sketch UNION without touching raw events again.  The
    second aggregation's input is |event_type|·|days| sketch rows of
    ~2^12 registers each, independent of event volume.

    Oracle pattern: Datasketches registers are engine-specific, so the
    checkable output is the rollup structure (exact n_days, exact
    distinct) plus the ±5% tolerance boolean (≥3σ at lgK=12); a
    drifting or mis-merged sketch turns the row red
    (``approx_distinct_check`` precedent).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_daily_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_daily_sketches",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


SQL_HLL_ROLLUP_UNION = """
SELECT event_type,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_daily_sketches,
       COUNT(DISTINCT user_id) AS exact_users,
       true AS within_tol
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# sample_bottomk_mergeable — bottom-k hash sample: merge equals direct
# ---------------------------------------------------------------------------

BK_K = 8


def q_sample_bottomk_mergeable(spark, sf_dir):
    """Mergeable uniform sample: the bottom-k distinct users by
    portable hash, per event_type — computed the MERGEABLE way (per-day
    bottom-k samples, then bottom-k of the union of daily samples).

    The bottom-k sketch's defining property: merging partial bottom-ks
    is EXACTLY the global bottom-k (any globally-k-smallest element is
    k-smallest within its own day), so unlike CMS/HLL there is no
    approximation to tolerate — the oracle computes the global
    bottom-k directly from raw events and the values must be
    identical.  That makes this the strongest correctness pin of the
    mergeable-summary family: a broken merge produces a DIFFERENT
    sample, not a slightly-off estimate.

    Scale plan: the daily stage is a per-(event_type, day) WindowGroup
    top-k (per-partition limit before the exchange); the merge stage
    re-ranks |types|·|days|·k rows — sketch-sized input, independent
    of event volume.  The production use: daily jobs persist their k
    user samples; any coarser grain re-merges samples, never raw data.
    """
    from pyspark.sql.window import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .distinct()
    )
    h = _portable_hash(F.col("user_id"), "bk0")
    daily = (
        ev.withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("event_type", "day").orderBy(
                    h.asc(), F.col("user_id").asc()
                )
            ),
        )
        .where(F.col("__rk") <= BK_K)
        .select("event_type", "user_id")
        .distinct()
    )
    merged = (
        daily.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    h.asc(), F.col("user_id").asc()
                )
            ),
        )
        .where(F.col("rank") <= BK_K)
        .select("event_type", "rank", "user_id")
    )
    return merged.orderBy("event_type", "rank")


_DUCK_BK_HASH = (
    "CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),"
    " 'bk0')), 1, 15)) AS BIGINT)"
)

#: the oracle computes the GLOBAL bottom-k directly — merge-equals-
#: direct is the property under test
SQL_SAMPLE_BOTTOMK_MERGEABLE = f"""
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
r AS (
  SELECT event_type, user_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY {_DUCK_BK_HASH} ASC, user_id ASC)
           AS rank
  FROM u)
SELECT event_type, rank, user_id
FROM r
WHERE rank <= {BK_K}
ORDER BY event_type, rank
"""


from ..operators.sketches import BLOOM_BITS, BLOOM_K  # noqa: E402


def q_dedup_bloom(spark, sf_dir):
    """Bloom-filter membership screen at the dedup ingest boundary
    (Bloom 1970; the Broder/Mitzenmacher survey's canonical dedup
    use): the corpus-so-far (doc_id % 10 != 0) folds into a
    {BLOOM_BITS}-bit / {BLOOM_K}-hash bitmap — 8 KB regardless of
    corpus size — and the incoming batch (doc_id % 10 = 0) probes it.
    One row per incoming doc: ``bloom_hit`` (all k bits set —
    possibly seen) and ``exact_dup`` (fingerprint really in the
    corpus), so the driver row pins BOTH the no-false-negative
    guarantee (bloom_hit >= exact_dup always) and the exact
    false-positive outcomes of this hash family on this corpus.

    Portable: bit positions come from the md5 60-bit hash idiom;
    the bitmap is bit_or over 32-bit-word shifts (shift < 2^31, so
    no sign-bit divergence anywhere).

    Scale plan: the bitmap is a ≤{BLOOM_BITS // 32}-row hash-agg
    broadcast back (THE point of a Bloom screen: membership state is
    8 KB, vs the anti-join's corpus-wide fingerprint shuffle in
    `dedup_incremental` — probe first, anti-join only the hits);
    probes are a map-side broadcast join + per-doc min.  Mergeable
    across shards/batches by further bit_or, like the CMS grids.
    """
    from ..functions.text import fingerprint
    from ..operators.sketches import bloom_cells, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", fingerprint("text").alias("fp"))
    hist = d.where("doc_id % 10 != 0")
    inc = d.where("doc_id % 10 = 0")
    bitmap = bloom_cells(hist)
    agg = bloom_probe(inc, bitmap)
    hist_fps = hist.select("fp").distinct().withColumn("e", F.lit(1))
    return (
        agg.join(hist_fps, "fp", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("e"), F.lit(0)).cast("int").alias(
                "exact_dup"
            ),
        )
        .orderBy("doc_id")
    )


SQL_DEDUP_BLOOM = rf"""
WITH d AS (
  SELECT doc_id,
         substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                1, 16) AS fp
  FROM documents),
hist AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
inc AS (SELECT * FROM d WHERE doc_id % 10 = 0),
hpos AS (
  SELECT fp,
         CAST(CAST(concat('0x', substr(md5(fp || 'bl' || t.i), 1, 15))
                   AS BIGINT) % {BLOOM_BITS} AS INTEGER) AS pos
  FROM hist CROSS JOIN range(0, {BLOOM_K}) t(i)),
bitmap AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
  FROM hpos GROUP BY 1),
ipos AS (
  SELECT doc_id, fp,
         CAST(CAST(concat('0x', substr(md5(fp || 'bl' || t.i), 1, 15))
                   AS BIGINT) % {BLOOM_BITS} AS INTEGER) AS pos
  FROM inc CROSS JOIN range(0, {BLOOM_K}) t(i)),
probed AS (
  SELECT i.doc_id, i.fp,
         CASE WHEN b.bits IS NOT NULL
                   AND ((b.bits >> (i.pos % 32)) & 1) = 1
              THEN 1 ELSE 0 END AS h
  FROM ipos i LEFT JOIN bitmap b ON i.pos // 32 = b.word),
agg AS (
  SELECT doc_id, fp, MIN(h) AS bloom_hit FROM probed
  GROUP BY doc_id, fp)
SELECT a.doc_id, CAST(a.bloom_hit AS INTEGER) AS bloom_hit,
       CAST(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END
            AS INTEGER) AS exact_dup
FROM agg a
LEFT JOIN (SELECT DISTINCT fp FROM hist) h USING (fp)
ORDER BY a.doc_id
"""


def q_dedup_incremental_bloom(spark, sf_dir):
    """`dedup_incremental` with the Bloom screen WIRED IN as the
    production composition (the form `q_dedup_bloom`'s docstring
    promises): probe first, exact-check only the hits.  The screen
    must not change the answer — the oracle is the SAME relation as
    `dedup_incremental` (admitted = within-batch winners not in the
    corpus) — only the shuffle volume, which the plan test pins.

    Pipeline (same batch/corpus split as `dedup_incremental`):

    1. corpus fingerprints fold into the 8 KB bitmap
       (map-side explode + a ≤{words}-row hash-agg);
    2. the batch probes the broadcast bitmap map-side;
    3. ``bloom_hit = 0`` rows are DEFINITELY new (no-false-negative
       guarantee) — admitted with no corpus join at all;
    4. only the hits are exact-checked, and even that never shuffles
       the corpus: the corpus semi-joins the BROADCAST hit
       fingerprints (map-side), the matched-fp relation that comes
       back is dup-count-sized, and the hits anti-join THAT.

    Scale plan: the corpus crosses no full-width exchange anywhere —
    two map-only passes (bitmap positions, semi probe) plus
    bounded-row aggs; every real exchange is batch- or dup-sized.
    vs `dedup_incremental`, whose anti-join shuffles every corpus
    fingerprint per batch.  The forced broadcasts are the batch's
    hit fingerprints (FP-rate-bounded: ~|dups| + ~0.4%% of |batch| at
    these parameters); if a huge batch overflowed the broadcast
    threshold, dropping the hint degrades to shuffling only the hit
    subset — still never the corpus.

    Bench honesty (r07 rows, sf0.1/sf1): this form reads SLOWER than
    its parent at toy scale — the screen costs three extra bounded
    jobs (bitmap broadcast, hit-fps broadcast, matched broadcast),
    each ~0.2-0.3 s of FIXED local-mode latency, while the corpus
    shuffle it eliminates is only a few MB there.  The crossover is
    where a corpus-wide fingerprint exchange stops being free; the
    plan test (no SortMergeJoin, corpus never exchanged) pins the
    property the wall-clock can't show at sf1.
    """
    from ..functions.text import fingerprint
    from ..operators.sketches import bloom_cells, bloom_probe

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )
    corpus = docs.where(F.col("doc_id") % 10 < 8).select("fp")
    batch = docs.where(F.col("doc_id") % 10 >= 8)

    # persisted: probed feeds THREE consumers (the miss branch, the
    # hit branch, and — through hit_fps — the semi-join's broadcast
    # side); without the cache the whole probe subtree INCLUDING the
    # corpus bitmap build re-runs per consumer.  State is
    # batch-sized.
    probed = persist_scoped(
        "dedup_bloom_probed", bloom_probe(batch, bloom_cells(corpus))
    )
    definitely_new = probed.where(F.col("bloom_hit") == 0)
    hits = probed.where(F.col("bloom_hit") == 1)

    hit_fps = hits.select("fp").distinct()
    matched = (
        corpus.join(F.broadcast(hit_fps), "fp", "left_semi").distinct()
    )
    new_from_hits = hits.join(F.broadcast(matched), "fp", "left_anti")

    return (
        definitely_new.select("doc_id", "fp")
        .unionAll(new_from_hits.select("doc_id", "fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


q_dedup_incremental_bloom.__doc__ = q_dedup_incremental_bloom.__doc__.format(
    words=BLOOM_BITS // 32
)


KMV_K = 256


def q_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count estimation per event
    type (Bar-Yossef et al. 2002; the Beyer et al. 2007 unbiased
    form): keep the k smallest distinct 60-bit hashes of the key;
    if fewer than k exist the sample IS the distinct set (exact),
    else est = (k-1) · 2^60 / h_k.  The deterministic-hash
    alternative to the HLL rollup: the portable md5 hash makes the
    WHOLE estimator replayable, so the driver row checks the estimate
    VALUE, not a tolerance boolean (`dedup_minhash_est` precedent —
    sketches whose randomness is a fixed hash get full-value
    oracles).  ±3σ at k={KMV_K} is ~19%, asserted as `within_tol`.

    Scale plan: one (event_type, hash) distinct agg (map-side
    partials), then a per-type k-smallest — an event_type-PARTITIONED
    window over the distinct-hash relation (bounded by distinct
    cardinality, never raw events).  The mergeable production form is
    `streaming/sketches.kmv_batch_writer`/`read_kmv`: per-shard
    bottom-k state whose fold is pinned VALUE-equal to this direct
    estimate, replay-safe and compactable via the curation protocol.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    hashed = ev.select(
        "event_type",
        _portable_hash(F.col("user_id"), "kmv0").alias("h"),
    ).distinct()
    from pyspark.sql import Window

    # split the two per-type statistics so neither sorts the full
    # distinct-hash relation through |types| tasks: the count is a
    # plain hash-agg, and the k-th-smallest rides a rank window
    # FILTERED to rn <= k — Spark's WindowGroupLimit then keeps only
    # each map task's local top-k before the exchange, so the 5
    # per-type sort tasks receive k·n_tasks rows, never the
    # 100M-distinct-users relation (the round-10 low-cardinality-
    # window lesson applied to rank-limits)
    counts = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_distinct_hashes")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("hk"))
    )
    per = counts.join(kth, "event_type")
    est = F.when(
        F.col("n_distinct_hashes") < KMV_K, F.col("n_distinct_hashes")
    ).otherwise(
        # floor(x + 0.5), not ROUND(): engine ROUND semantics differ
        # on doubles near half boundaries (the DSIR det6 precedent)
        F.floor(
            F.lit(float(KMV_K - 1))
            * F.lit(float(1 << 60))
            / F.col("hk").cast("double")
            + F.lit(0.5)
        ).cast("bigint")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        per.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            est.cast("bigint").alias("est_users"),
            (
                F.abs(est - F.col("exact_users"))
                <= 0.19 * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


_DUCK_KMV_HASH = (
    "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || 'kmv0'),"
    " 1, 15)) AS BIGINT)"
)

SQL_KMV_DISTINCT = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {_DUCK_KMV_HASH} AS h FROM events),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed),
per AS (
  SELECT event_type, COUNT(*) AS n_distinct_hashes,
         MAX(CASE WHEN rn = {KMV_K} THEN h END) AS hk
  FROM ranked GROUP BY event_type),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY event_type),
est AS (
  SELECT p.event_type, e.exact_users,
         CAST(CASE WHEN p.n_distinct_hashes < {KMV_K}
                   THEN p.n_distinct_hashes
                   ELSE CAST(FLOOR(0.5 + {KMV_K - 1}.0 * {float(1 << 60)}
                             / CAST(p.hk AS DOUBLE)) AS BIGINT)
              END AS BIGINT) AS est_users
  FROM per p JOIN exact e USING (event_type))
SELECT event_type,
       CAST(exact_users AS BIGINT) AS exact_users,
       est_users,
       abs(est_users - exact_users) <= 0.19 * exact_users AS within_tol
FROM est
ORDER BY event_type
"""


# the screen must not change the answer: the oracle IS
# dedup_incremental's (imported lazily to dodge a circular import —
# llmdata imports nothing from here, but keep the edge one-way)
from .llmdata import SQL_DEDUP_INCREMENTAL  # noqa: E402

# ---------------------------------------------------------------------------
# quantile_histogram — fixed-bin mergeable quantiles
# ---------------------------------------------------------------------------

HIST_BINS = 50
HIST_WIDTH = 10.0
HIST_QS = (500, 900, 990)  # milli-quantiles: p50 / p90 / p99


def hist_bin_counts(values) -> "DataFrame":  # noqa: F821
    """(bin, cnt) fixed-bin histogram of a ``value`` column — the
    mergeable state: bins are STATIC (width {HIST_WIDTH}, top bin
    clamps), so per-partition / per-batch counts merge by plain sum;
    this is what rides map-side combine at 100 TB and what the
    streaming twin persists per batch."""
    return (
        values.select(
            F.least(
                F.lit(HIST_BINS - 1),
                F.floor(F.col("value") / HIST_WIDTH),
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantiles(counts) -> "DataFrame":
    """Quantile estimates from a folded (bin, cnt) histogram: for each
    q, the UPPER EDGE of the first bin whose cumulative count reaches
    ceil(q·n) — integer-exact targets (no float cumulative sums), so
    the oracle replays the identical bins.  Everything below operates
    on the ≤{HIST_BINS}-row counts relation: the bounded self-join
    cumulative and the 3-row quantile probe never touch raw data."""
    spark = counts.sparkSession
    cum = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(F.sum(F.col("b.cnt")).alias("cum"))
    )
    n = counts.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(q)) for q in HIST_QS])
        ).alias("q_milli")
    )
    target = qs.crossJoin(n).select(
        "q_milli",
        F.expr("CAST((q_milli * n_total + 999) DIV 1000 AS BIGINT)").alias(
            "target"
        ),
        "n_total",
    )
    return (
        target.join(cum, F.col("cum") >= F.col("target"))
        .groupBy("q_milli", "n_total")
        .agg(F.min("bin").alias("est_bin"))
        .select(
            "q_milli",
            "est_bin",
            ((F.col("est_bin") + 1) * F.lit(HIST_WIDTH)).alias("est_hi"),
            "n_total",
        )
        .orderBy("q_milli")
    )


def q_quantile_histogram(spark, sf_dir):
    """Fixed-bin histogram quantiles over ``events.value`` — the
    mergeable-by-construction quantile sketch (the Prometheus /
    monitoring-histogram method): {HIST_BINS} static bins of width
    {HIST_WIDTH}, estimate = upper edge of the first bin whose
    cumulative count reaches ceil(q·n).  Completes the mergeable
    summary quartet (CMS frequencies, HLL distincts, KMV distincts,
    bottom-k samples) with quantiles: unlike percentile_approx's
    engine-specific GK sketch (`approx_quantile_check`), the fixed-bin
    state is deterministic, so the estimate VALUE itself is
    oracle-checked, and per-batch states merge by plain sum
    (`streaming/sketches.hist_batch_writer` is the live twin, pinned
    fold==batch).  Output (q_milli, est_bin, est_hi, n_total); error
    bound = one bin width by construction.

    Scale plan: one map-side-combined hash-agg over {HIST_BINS}
    static bins (the ONLY pass over raw data); the cumulative
    self-join and quantile probe run on the ≤{HIST_BINS}-row counts
    relation — bounded BNLJs over KB-sized state."""
    return histogram_quantiles(
        hist_bin_counts(
            load_table(spark, sf_dir, "events").select("value")
        )
    )


for _f in (hist_bin_counts, histogram_quantiles, q_quantile_histogram):
    _f.__doc__ = _f.__doc__.replace("{HIST_BINS}", str(HIST_BINS)).replace(
        "{HIST_WIDTH}", str(HIST_WIDTH)
    )

SQL_QUANTILE_HISTOGRAM = f"""
WITH binned AS (
  SELECT LEAST({HIST_BINS - 1},
               CAST(FLOOR(value / {HIST_WIDTH}) AS INT)) AS bin
  FROM events),
counts AS (SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM counts),
cum AS (
  SELECT a.bin, SUM(b.cnt) AS cum
  FROM counts a JOIN counts b ON b.bin <= a.bin
  GROUP BY a.bin),
qs AS (SELECT unnest([{", ".join(map(str, HIST_QS))}]) AS q_milli),
t AS (
  SELECT CAST(q_milli AS INT) AS q_milli,
         (q_milli * n_total + 999) // 1000 AS target, n_total
  FROM qs, n)
SELECT q_milli, CAST(MIN(c.bin) AS INT) AS est_bin,
       CAST((MIN(c.bin) + 1) * {HIST_WIDTH} AS DOUBLE) AS est_hi,
       n_total
FROM t JOIN cum c ON c.cum >= t.target
GROUP BY q_milli, n_total
ORDER BY q_milli
"""


# ---------------------------------------------------------------------------
# kmv_jaccard — set operations ON the sketch: audience overlap
# (round 10)
# ---------------------------------------------------------------------------


def q_kmv_jaccard(spark, sf_dir):
    """Pairwise audience overlap between event types, estimated from
    KMV sketches — the set-OPERATION side of `kmv_distinct` (Beyer et
    al. 2007 §4; the theta-sketch idea): the bottom-k hash sample of
    A∪B is itself a uniform sample of the union, so
    J(A,B) ≈ |M ∩ A ∩ B| / |M| with M = bottom-k of the two sketches'
    union — overlap analytics from two 2-KB sketches instead of a
    user-level join.  Reported next to the EXACT Jaccard (same
    one-pass distinct relation) with a ±0.10 tolerance flag
    (σ ≈ √(J(1−J)/k) ≈ 0.03 at k=256).

    Determinism: the hash is the portable md5 formula, so the
    estimate VALUE itself is oracle-replayed (the `kmv_distinct` /
    `dedup_minhash_est` rule — fixed-hash sketches get full-value
    oracles, not tolerance-only rows).

    Scale plan: one distinct hash-agg, per-type bottom-k via the
    rn≤k rank window (WindowGroupLimit prunes to per-task top-k
    before the exchange), then ALL pair math on the ≤|types|-row
    sketch relation (array ops over ≤2k-element lists; the pair grid
    is an allowlisted tiny BNLJ).  The exact side is one
    user-keyed equi-join of the distinct relation — the thing the
    sketch path exists to avoid at 10⁹ users, kept here as the
    oracle's measuring stick.
    """
    from pyspark.sql import Window

    from ..operators.sampling import _portable_hash

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    hashed = ev.select(
        "event_type",
        _portable_hash(F.col("user_id"), "kmv0").alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    bk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    pairs = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.hs").alias("ha"),
            F.col("b.hs").alias("hb"),
        )
        .withColumn(
            "m",
            F.expr(
                f"slice(array_sort(array_union(ha, hb)), 1, {KMV_K})"
            ),
        )
        .withColumn(
            "est_j",
            F.expr(
                "size(array_intersect(m, array_intersect(ha, hb)))"
                " / CAST(size(m) AS DOUBLE)"
            ),
        )
        .select("type_a", "type_b", "est_j")
    )
    du = ev.distinct()
    inter = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("ni"))
    )
    sizes = du.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    det6 = "CAST(FLOOR(({expr}) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    return (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .join(
            sizes.selectExpr("event_type AS type_a", "n AS na"), "type_a"
        )
        .join(
            sizes.selectExpr("event_type AS type_b", "n AS nb"), "type_b"
        )
        .selectExpr(
            "type_a",
            "type_b",
            det6.format(expr="est_j") + " AS est_jaccard",
            det6.format(
                expr="COALESCE(ni, 0)"
                " / CAST(na + nb - COALESCE(ni, 0) AS DOUBLE)"
            )
            + " AS exact_jaccard",
            "abs(est_j - COALESCE(ni, 0)"
            " / CAST(na + nb - COALESCE(ni, 0) AS DOUBLE)) <= 0.10"
            " AS within_tol",
        )
        .orderBy("type_a", "type_b")
    )


SQL_KMV_JACCARD = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {_DUCK_KMV_HASH} AS h FROM events),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed),
bk AS (
  SELECT event_type, list(h ORDER BY h) AS hs
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.hs AS ha, b.hs AS hb,
         list_sort(list_distinct(list_concat(a.hs, b.hs)))[1:{KMV_K}]
           AS m
  FROM bk a JOIN bk b ON a.event_type < b.event_type),
est AS (
  SELECT type_a, type_b,
         len(list_filter(m, x -> list_contains(ha, x)
                                 AND list_contains(hb, x)))
           / CAST(len(m) AS DOUBLE) AS est_j
  FROM pairs),
du AS (SELECT DISTINCT event_type, user_id FROM events),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS ni
  FROM du x JOIN du y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM du GROUP BY 1)
SELECT e.type_a, e.type_b,
       CAST(FLOOR(e.est_j * 1e6 + 0.5) AS DOUBLE) / 1e6 AS est_jaccard,
       CAST(FLOOR((COALESCE(i.ni, 0)
                   / CAST(sa.n + sb.n - COALESCE(i.ni, 0) AS DOUBLE))
                  * 1e6 + 0.5) AS DOUBLE) / 1e6 AS exact_jaccard,
       abs(e.est_j - COALESCE(i.ni, 0)
           / CAST(sa.n + sb.n - COALESCE(i.ni, 0) AS DOUBLE)) <= 0.10
         AS within_tol
FROM est e
LEFT JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
JOIN sizes sa ON sa.event_type = e.type_a
JOIN sizes sb ON sb.event_type = e.type_b
ORDER BY e.type_a, e.type_b
"""


def q_kmv_set_diff(spark, sf_dir):
    """Audience set-DIFFERENCE estimation per event-type pair from
    KMV/theta sketches (the Beyer et al. 2007 / theta-sketch A-NOT-B
    operation): with M = bottom-k of A∪B, every h ∈ M is
    membership-testable against both sketches (h ≤ θ_M ≤ θ_A, θ_B),
    so |A∖B| ≈ Û · |{h ∈ M : h∈A, h∉B}| / |M| with Û the KMV union
    estimate — "how many users clicked but never purchased" from two
    2-KB sketches instead of a user-level anti-join.  Both directions
    reported next to the exact differences with a ±15%-of-union
    tolerance flag.

    Determinism: the portable md5 hash makes the estimate VALUES
    oracle-replayed (the `kmv_distinct` fixed-hash rule); when the
    union fits under k the sketch IS the union and the estimate
    equals the exact count.

    Scale plan: identical to `kmv_jaccard` — one distinct hash-agg,
    per-type bottom-k via the WindowGroupLimit-pruned rank window,
    then all set math on the ≤|types|-row sketch relation; the exact
    side keeps the user-keyed equi-join as the measuring stick."""
    from pyspark.sql import Window

    from ..operators.sampling import _portable_hash

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    hashed = ev.select(
        "event_type",
        _portable_hash(F.col("user_id"), "kmv0").alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    bk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    est_u = (
        f"CASE WHEN size(u) < {KMV_K} THEN CAST(size(u) AS BIGINT)"
        f" ELSE CAST(FLOOR({KMV_K - 1}.0 * {float(1 << 60)}"
        # get() is 0-based and NULL-safe out of bounds (ANSI-safe,
        # matching DuckDB's m[k] semantics in the unreached branch)
        f" / CAST(get(m, {KMV_K - 1}) AS DOUBLE) + 0.5) AS BIGINT)"
        " END"
    )
    cnt = (
        "size(filter(m, x -> array_contains({ina}, x)"
        " AND NOT array_contains({outb}, x)))"
    )
    est_d = (
        "CAST(FLOOR(CAST(u_est AS DOUBLE) * {c}"
        " / CAST(size(m) AS DOUBLE) + 0.5) AS BIGINT)"
    )
    pairs = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.hs").alias("ha"),
            F.col("b.hs").alias("hb"),
        )
        .withColumn("u", F.expr("array_sort(array_union(ha, hb))"))
        .withColumn("m", F.expr(f"slice(u, 1, {KMV_K})"))
        .withColumn("u_est", F.expr(est_u))
        .withColumn(
            "est_diff_ab",
            F.expr(est_d.format(c=cnt.format(ina="ha", outb="hb"))),
        )
        .withColumn(
            "est_diff_ba",
            F.expr(est_d.format(c=cnt.format(ina="hb", outb="ha"))),
        )
    )
    du = ev.distinct()
    inter = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("ni"))
    )
    sizes = du.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .join(
            sizes.selectExpr("event_type AS type_a", "n AS na"), "type_a"
        )
        .join(
            sizes.selectExpr("event_type AS type_b", "n AS nb"), "type_b"
        )
        .selectExpr(
            "type_a",
            "type_b",
            "est_diff_ab",
            "CAST(na - COALESCE(ni, 0) AS BIGINT) AS exact_diff_ab",
            "est_diff_ba",
            "CAST(nb - COALESCE(ni, 0) AS BIGINT) AS exact_diff_ba",
            "ABS(est_diff_ab - (na - COALESCE(ni, 0)))"
            " <= 0.15 * (na + nb - COALESCE(ni, 0))"
            " AND ABS(est_diff_ba - (nb - COALESCE(ni, 0)))"
            " <= 0.15 * (na + nb - COALESCE(ni, 0)) AS within_tol",
        )
        .orderBy("type_a", "type_b")
    )


SQL_KMV_SET_DIFF = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {_DUCK_KMV_HASH} AS h FROM events),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed),
bk AS (
  SELECT event_type, list(h ORDER BY h) AS hs
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.hs AS ha, b.hs AS hb,
         list_sort(list_distinct(list_concat(a.hs, b.hs))) AS u
  FROM bk a JOIN bk b ON a.event_type < b.event_type),
withm AS (
  SELECT *, u[1:{KMV_K}] AS m,
         CASE WHEN len(u) < {KMV_K} THEN CAST(len(u) AS BIGINT)
              ELSE CAST(FLOOR({KMV_K - 1}.0 * {float(1 << 60)}
                   / CAST(m[{KMV_K}] AS DOUBLE) + 0.5) AS BIGINT)
         END AS u_est
  FROM pairs),
est AS (
  SELECT type_a, type_b,
         CAST(FLOOR(CAST(u_est AS DOUBLE)
              * len(list_filter(m, x -> list_contains(ha, x)
                                AND NOT list_contains(hb, x)))
              / CAST(len(m) AS DOUBLE) + 0.5) AS BIGINT)
           AS est_diff_ab,
         CAST(FLOOR(CAST(u_est AS DOUBLE)
              * len(list_filter(m, x -> list_contains(hb, x)
                                AND NOT list_contains(ha, x)))
              / CAST(len(m) AS DOUBLE) + 0.5) AS BIGINT)
           AS est_diff_ba
  FROM withm),
du AS (SELECT DISTINCT event_type, user_id FROM events),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS ni
  FROM du x JOIN du y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM du GROUP BY 1)
SELECT e.type_a, e.type_b,
       e.est_diff_ab,
       CAST(sa.n - COALESCE(i.ni, 0) AS BIGINT) AS exact_diff_ab,
       e.est_diff_ba,
       CAST(sb.n - COALESCE(i.ni, 0) AS BIGINT) AS exact_diff_ba,
       ABS(e.est_diff_ab - (sa.n - COALESCE(i.ni, 0)))
         <= 0.15 * (sa.n + sb.n - COALESCE(i.ni, 0))
       AND ABS(e.est_diff_ba - (sb.n - COALESCE(i.ni, 0)))
         <= 0.15 * (sa.n + sb.n - COALESCE(i.ni, 0)) AS within_tol
FROM est e
LEFT JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
JOIN sizes sa ON sa.event_type = e.type_a
JOIN sizes sb ON sb.event_type = e.type_b
ORDER BY e.type_a, e.type_b
"""


_AMS_E = 64  #: independent ±1 estimators (std of mean ≈ F2·√(2/E) ≈ 18%)


def q_ams_f2(spark, sf_dir):
    """AMS "tug-of-war" sketch (Alon, Matias & Szegedy 1996)
    estimating the second frequency moment F₂ = Σ c_k² of
    ``l_partkey`` — the self-join-size estimate a cost-based
    optimizer wants before committing to a join strategy.  Each of
    the 64 estimators hashes every key to ±1 and sums c_k·s_j(k);
    E[Z²] = F₂ exactly, and averaging 64 independent Z² gives ≈18%
    relative std.  The deterministic md5 sign hash makes the whole
    estimator replayable, so the driver row checks the estimate
    VALUE, not just a tolerance boolean (the `kmv_distinct`
    precedent); ±3σ is asserted as `within_tol`.

    Determinism: Z_j and the exact F₂ are integer sums; Z² and c²
    exceed int64 once totals pass ~3·10⁹ rows, so squares ride
    DECIMAL(18,0)² → DECIMAL(37,0) (hugeint on DuckDB); one double
    division at the end, 6-dp rounded.

    Scale plan: the raw table collapses FIRST to per-key counts (one
    hash-agg — the only full-table pass); the ×64 estimator explode
    runs on the BOUNDED distinct-key relation, so sketch width
    multiplies |keys|, never |rows|.  The estimator fold is a 64-row
    agg; exact and estimate single-row relations meet in a 1×1
    scalar cross join (plan-audit BNLJ allowlist, the tpch_q11
    shape).  The per-key counts are map-side-combinable, so the
    shuffle moves |keys| rows per task.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    keys = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    exact = keys.agg(
        F.sum(
            F.col("c").cast("decimal(18,0)") * F.col("c").cast("decimal(18,0)")
        )
        .cast("bigint")
        .alias("exact_f2")
    )
    signed = keys.select(
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_E - 1))).alias("j"),
        F.col("l_partkey"),
    ).select(
        "j",
        (
            F.col("c")
            * (
                F.lit(1)
                - F.lit(2)
                * (
                    _portable_hash(
                        F.concat_ws("#", "l_partkey", "j"), "ams"
                    )
                    % 2
                )
            )
        ).alias("cz"),
    )
    z = signed.groupBy("j").agg(F.sum("cz").cast("bigint").alias("z"))
    est = z.agg(
        F.sum(
            F.col("z").cast("decimal(18,0)") * F.col("z").cast("decimal(18,0)")
        ).alias("zz")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .selectExpr(
            "exact_f2",
            f"CAST(FLOOR(CAST(zz AS DOUBLE) / {_AMS_E} * 1e6 + 0.5)"
            " AS DOUBLE) / 1e6 AS ams_est",
            f"CAST(FLOOR((CAST(zz AS DOUBLE) / {_AMS_E}"
            " - CAST(exact_f2 AS DOUBLE)) / CAST(exact_f2 AS DOUBLE)"
            " * 1e6 + 0.5) AS DOUBLE) / 1e6 AS rel_err",
            # |est − F2| ≤ 0.55·F2 (≈3σ at E=64), exact integers:
            # |zz − E·f2| ≤ 0.55·E·f2  ⇔  20·|zz − E·f2| ≤ 11·E·f2
            f"20 * ABS(zz - {_AMS_E} * exact_f2)"
            f" <= 11 * {_AMS_E} * exact_f2 AS within_tol",
        )
    )


_DUCK_AMS_SIGN = (
    "(1 - 2 * (CAST(concat('0x', substr(md5(concat("
    "CAST(l_partkey AS VARCHAR), '#', CAST(j AS VARCHAR), 'ams'))"
    ", 1, 15)) AS BIGINT) % 2))"
)

SQL_AMS_F2 = f"""
WITH keys AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1),
exact AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2 FROM keys),
signed AS (
  SELECT j, c * {_DUCK_AMS_SIGN} AS cz
  FROM keys CROSS JOIN (SELECT unnest(range({_AMS_E})) AS j) js),
z AS (
  SELECT j, CAST(SUM(cz) AS BIGINT) AS z FROM signed GROUP BY 1),
est AS (
  SELECT SUM(z * z) AS zz FROM z)
SELECT exact_f2,
       CAST(FLOOR(CAST(zz AS DOUBLE) / {_AMS_E} * 1e6 + 0.5)
         AS DOUBLE) / 1e6 AS ams_est,
       CAST(FLOOR((CAST(zz AS DOUBLE) / {_AMS_E}
         - CAST(exact_f2 AS DOUBLE)) / CAST(exact_f2 AS DOUBLE)
         * 1e6 + 0.5) AS DOUBLE) / 1e6 AS rel_err,
       20 * ABS(zz - {_AMS_E} * exact_f2)
         <= 11 * {_AMS_E} * exact_f2 AS within_tol
FROM est CROSS JOIN exact
"""


_AMS_SPLIT = "1998-01-01"


def q_ams_join_size(spark, sf_dir):
    """AMS inner-product join-size estimation (Alon, Gibbons, Matias
    & Szegedy 1999): |R ⋈ S| on l_partkey where R = lineitem shipped
    before {split} and S = the rest — the two-relation generalization
    of `ams_f2` and the actual optimizer question ("how big is this
    join going to be?") answered from two independently-buildable
    sketches: E[Z_R·Z_S] = Σ_k c_R(k)·c_S(k) exactly, under the SAME
    sign hash on both sides.

    Determinism: both per-side counts come from ONE scan (conditional
    sums per key); the sign hash is the deterministic md5 idiom, so
    the estimate is replayable and fully value-checked.  Z products
    and the exact inner product ride DECIMAL past int64.  The ±3σ-ish
    band uses the AMS variance bound Var ≤ 2·F₂(R)·F₂(S)/E — the
    tolerance compares doubles built from exact integers through one
    shared expression, identical in both engines.

    Scale plan: identical to `ams_f2` — one hash-agg to the distinct-
    key relation, ×{E} explode on THAT (never on raw rows), a {E}-row
    estimator fold, and 1-row relations meeting in allowlisted scalar
    cross joins.  In production the two sides' sketches build
    independently (each is a {E}-value additive vector — mergeable,
    streamable) and the estimate never touches either table again.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_shipdate") < F.lit(_AMS_SPLIT)).alias("in_r"),
    )
    keys = li.groupBy("l_partkey").agg(
        F.sum(F.col("in_r").cast("bigint")).alias("cr"),
        F.sum((~F.col("in_r")).cast("bigint")).alias("cs"),
    )
    exact = keys.agg(
        F.sum(
            F.col("cr").cast("decimal(18,0)")
            * F.col("cs").cast("decimal(18,0)")
        )
        .cast("bigint")
        .alias("exact_join_size")
    )
    f2s = keys.agg(
        F.sum(
            F.col("cr").cast("decimal(18,0)")
            * F.col("cr").cast("decimal(18,0)")
        ).alias("f2r"),
        F.sum(
            F.col("cs").cast("decimal(18,0)")
            * F.col("cs").cast("decimal(18,0)")
        ).alias("f2s"),
    )
    signed = keys.select(
        "cr",
        "cs",
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_E - 1))).alias("j"),
        F.col("l_partkey"),
    ).select(
        "j",
        (
            F.lit(1)
            - F.lit(2)
            * (
                _portable_hash(
                    F.concat_ws("#", "l_partkey", "j"), "amsj"
                )
                % 2
            )
        ).alias("s"),
        "cr",
        "cs",
    )
    z = signed.groupBy("j").agg(
        F.sum(F.col("cr") * F.col("s")).cast("bigint").alias("zr"),
        F.sum(F.col("cs") * F.col("s")).cast("bigint").alias("zs"),
    )
    est = z.agg(
        F.sum(
            F.col("zr").cast("decimal(18,0)")
            * F.col("zs").cast("decimal(18,0)")
        ).alias("zz")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(f2s))
        .selectExpr(
            "exact_join_size",
            f"CAST(FLOOR(CAST(zz AS DOUBLE) / {_AMS_E} * 1e6 + 0.5)"
            " AS DOUBLE) / 1e6 AS ams_est",
            f"CAST(FLOOR((CAST(zz AS DOUBLE) / {_AMS_E}"
            " - CAST(exact_join_size AS DOUBLE))"
            " / CAST(exact_join_size AS DOUBLE)"
            " * 1e6 + 0.5) AS DOUBLE) / 1e6 AS rel_err",
            # |est − exact| ≤ 3·sqrt(2·F2R·F2S/E), doubles from exact
            # integers through one shared expression tree
            f"ABS(CAST(zz AS DOUBLE) / {_AMS_E}"
            " - CAST(exact_join_size AS DOUBLE))"
            " <= 3.0 * SQRT(2.0 * CAST(f2r AS DOUBLE)"
            f" * CAST(f2s AS DOUBLE) / {_AMS_E}) AS within_tol",
        )
    )


_DUCK_AMSJ_SIGN = (
    "(1 - 2 * (CAST(concat('0x', substr(md5(concat("
    "CAST(l_partkey AS VARCHAR), '#', CAST(j AS VARCHAR), 'amsj'))"
    ", 1, 15)) AS BIGINT) % 2))"
)

SQL_AMS_JOIN_SIZE = f"""
WITH keys AS (
  SELECT l_partkey,
         CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '{_AMS_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '{_AMS_SPLIT}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS cs
  FROM lineitem GROUP BY 1),
exact AS (
  SELECT CAST(SUM(cr * cs) AS BIGINT) AS exact_join_size FROM keys),
f2s AS (
  SELECT SUM(cr * cr) AS f2r, SUM(cs * cs) AS f2s FROM keys),
signed AS (
  SELECT j, {_DUCK_AMSJ_SIGN} AS s, cr, cs
  FROM keys CROSS JOIN (SELECT unnest(range({_AMS_E})) AS j) js),
z AS (
  SELECT j, CAST(SUM(cr * s) AS BIGINT) AS zr,
         CAST(SUM(cs * s) AS BIGINT) AS zs
  FROM signed GROUP BY 1),
est AS (
  SELECT SUM(zr * zs) AS zz FROM z)
SELECT exact_join_size,
       CAST(FLOOR(CAST(zz AS DOUBLE) / {_AMS_E} * 1e6 + 0.5)
         AS DOUBLE) / 1e6 AS ams_est,
       CAST(FLOOR((CAST(zz AS DOUBLE) / {_AMS_E}
         - CAST(exact_join_size AS DOUBLE))
         / CAST(exact_join_size AS DOUBLE)
         * 1e6 + 0.5) AS DOUBLE) / 1e6 AS rel_err,
       ABS(CAST(zz AS DOUBLE) / {_AMS_E}
         - CAST(exact_join_size AS DOUBLE))
         <= 3.0 * SQRT(2.0 * CAST(f2r AS DOUBLE)
         * CAST(f2s AS DOUBLE) / {_AMS_E}) AS within_tol
FROM est CROSS JOIN exact CROSS JOIN f2s
"""


REGISTRY: dict[str, QuerySpec] = {
    "ams_f2": QuerySpec(q_ams_f2, SQL_AMS_F2),
    "ams_join_size": QuerySpec(q_ams_join_size, SQL_AMS_JOIN_SIZE),
    "kmv_jaccard": QuerySpec(q_kmv_jaccard, SQL_KMV_JACCARD),
    "kmv_set_diff": QuerySpec(q_kmv_set_diff, SQL_KMV_SET_DIFF),
    "quantile_histogram": QuerySpec(
        q_quantile_histogram, SQL_QUANTILE_HISTOGRAM
    ),
    "dedup_bloom": QuerySpec(q_dedup_bloom, SQL_DEDUP_BLOOM),
    "dedup_incremental_bloom": QuerySpec(
        q_dedup_incremental_bloom, SQL_DEDUP_INCREMENTAL
    ),
    "kmv_distinct": QuerySpec(q_kmv_distinct, SQL_KMV_DISTINCT),
    "heavy_hitters_cms": QuerySpec(q_heavy_hitters_cms, SQL_HEAVY_HITTERS_CMS),
    "hll_rollup_union": QuerySpec(q_hll_rollup_union, SQL_HLL_ROLLUP_UNION),
    "sample_bottomk_mergeable": QuerySpec(
        q_sample_bottomk_mergeable, SQL_SAMPLE_BOTTOMK_MERGEABLE
    ),
}
