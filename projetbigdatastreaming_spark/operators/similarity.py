"""Embedding similarity search over `embeddings(vec_id, embedding
array<float>, label)` (north-star).

Two paths:
- **brute-force cosine top-k** — exact baseline; the query side is tiny
  (broadcast), the corpus side streams, so it's a map-only job at any
  scale: no shuffle until the final per-query top-k (TakeOrdered-sized).
- **LSH-bucketed ANN** — random-hyperplane signatures restrict the
  corpus side to matching buckets before the exact re-rank.  The
  hyperplanes are derived deterministically from a portable md5
  formula, so results are reproducible run-to-run AND by the DuckDB
  oracle (both ANN paths are fully oracle-checked, not rows-only).

All arithmetic is double-precision via higher-order functions
(zip_with/aggregate) — JVM codegen, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import persist_scoped

#: cosine(a, b) over array<double> columns, sequential left-fold sums —
#: deterministic and reproducible in any engine.
def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.aggregate(
        F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nb = F.aggregate(
        F.zip_with(b, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / F.sqrt(na * nb)


def _as_double(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def _norm(col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(col, col, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (qid, vec_id, cos_sim) — k rows per query, ties broken by
    vec_id, self-matches excluded.

    Scale: queries (a handful of vectors) broadcast; corpus scanned
    once; per-query top-k via window row_number — with k·|Q| rows kept
    per partition before the final exchange.
    """
    from pyspark.sql.window import Window

    # norms computed ONCE per side (not per pair): the pair scoring is
    # a single dot-product fold, cutting per-pair array work by 3×
    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                _dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "vec_id", "cos_sim", "rk")
        .orderBy("qid", "rk")
    )


def cosine_pairs_above(embeddings: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine >= threshold (embedding near-dup detection).

    Brute-force form — the exact baseline the LSH path approximates.
    Output: (vec_a, vec_b, cos_sim), vec_a < vec_b.
    """
    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            ).alias("__cos_raw"),
        )
        # filter on the UNROUNDED cosine (matches the oracle's predicate
        # placement); round only in the output projection
        .where(F.col("__cos_raw") >= threshold)
        .select(
            "vec_a", "vec_b", F.round("__cos_raw", 4).alias("cos_sim")
        )
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed approximate nearest neighbors (the scale path)
# ---------------------------------------------------------------------------

# Recall is data-dependent: on clustered real-world embeddings,
# sign-LSH candidates concentrate in the query's bucket; on the
# near-uniform synthetic fixture (max pairwise cosine ≈ 0.51) measured
# recall@10 is ~0.26 with these parameters — each table scans ~1/64 of
# the corpus, so 8 tables ≈ 12% of brute-force cost.  cosine_topk is
# the exact baseline; this is the knob for trading recall vs scan cost.
N_PLANES = 6  # 6-bit signatures → 64 buckets (bucket ≈ corpus/64 per table)
N_SIG_TABLES = 8  # independent tables to boost recall


def plane_weights(dims: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1),
    indexed [table][plane][dim].

    Derived from md5 of "t,p,d" — a PORTABLE formula (identical in
    Python, Spark SQL, and DuckDB), so the whole LSH path is
    oracle-checkable.  Computed driver-side (N_SIG_TABLES × N_PLANES ×
    dims hashes, microseconds for any realistic dims) and shipped as a
    one-row broadcast relation — a data-plane constant, NOT a generated
    expression tree, so production embedding dims (768–3072) cost
    nothing at plan time.
    """
    import hashlib

    def w(t: int, p: int, d: int) -> float:
        h = hashlib.md5(f"{t},{p},{d}".encode()).hexdigest()[:15]
        return int(h, 16) / 2**59 - 1.0

    return [
        [[w(t, p, d) for d in range(dims)] for p in range(N_PLANES)]
        for t in range(N_SIG_TABLES)
    ]


def with_signatures(embeddings: DataFrame, dims: int) -> DataFrame:
    """Adds `sigs` = array of N_SIG_TABLES sign-signature bucket ids
    (N_PLANES bits each), computed in ONE map-only pass against the
    broadcast plane table — no shuffle, no per-table re-scan.
    """
    spark = embeddings.sparkSession
    plane_row = spark.createDataFrame(
        [(plane_weights(dims),)], "planes array<array<array<double>>>"
    )
    return (
        embeddings.crossJoin(F.broadcast(plane_row))
        .withColumn(
            "sigs",
            F.expr(
                f"""
                transform(sequence(0, {N_SIG_TABLES - 1}), t ->
                  aggregate(sequence(0, {N_PLANES - 1}), 0L, (acc, p) ->
                    acc + CASE WHEN aggregate(
                            zip_with(embedding, planes[t][p],
                                     (x, w) -> x * w),
                            0D, (a, x) -> a + x) >= 0
                          THEN shiftleft(1L, p) ELSE 0L END))
                """
            ),
        )
        .drop("planes")
    )


def near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    dims: int = 64,
) -> DataFrame:
    """Embedding near-duplicate pairs AT SCALE: sign-LSH bucket
    self-join for candidate discovery, exact cosine verification.

    The scale path that `cosine_pairs_above` (the O(n²) oracle
    baseline) approximates from below: only pairs sharing a
    (table, bucket) cell are scored, so cost is Σ bucket², not n².
    Output: (vec_a, vec_b, cos_sim) with vec_a < vec_b and unrounded
    cosine >= threshold; recall < 1 by design (a pair landing in no
    common bucket is never considered), but fully deterministic — the
    DuckDB oracle replays the identical md5-plane signatures, so the
    result is exactly reproducible.

    The (vec_id, t, sig) relation feeds both sides of the self-join;
    it is cached (~24 bytes × 8 rows per vector) so the signature pass
    runs once.
    """
    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    tall = persist_scoped(
        "emb_lsh_tall_sigs",
        with_signatures(emb.select("vec_id", "embedding"), dims).select(
            "vec_id", F.posexplode("sigs").alias("t", "sig")
        ),
    )
    pairs = (
        tall.alias("a")
        .join(
            tall.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            ).alias("__cos_raw"),
        )
        .where(F.col("__cos_raw") >= threshold)
        .select(
            "vec_a", "vec_b", F.round("__cos_raw", 4).alias("cos_sim")
        )
        .orderBy("vec_a", "vec_b")
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    4×-storage-cut (float32 → int8) that makes a 100 TB embedding
    store a 25 TB one: scale = 127 / max|x| per vector, q_i =
    round(x_i · scale).

    Map-only, pure higher-order expressions (one pass per vector; no
    shuffle, no Python).  Emits the quantized array PLUS a scalar
    digest (n_dims, sum/min/max of q) so correctness is checkable
    without array-typed output; callers that only verify drop the
    array column.  Vectors that are all-zero quantize to scale NULL
    and q NULL (nothing to reconstruct).
    """
    emb = _as_double(embeddings)
    max_abs = F.array_max(F.transform(F.col("embedding"), F.abs))
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs)
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x * F.col("scale")).cast("int"),
    )
    return (
        emb.withColumn("scale", scale)
        .withColumn("q", q)
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale_q6"),
            F.size("embedding").alias("n_dims"),
            F.aggregate(
                "q", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("q_sum"),
            F.array_min("q").alias("q_min"),
            F.array_max("q").alias("q_max"),
            "q",
        )
    )


#: argmax-cosine fold over a broadcast `__cents` array<struct(list_id,
#: cvec, cnrm)> row: returns struct(lid, s) — nearest list and its
#: 4dp-rounded cosine.  Rounding makes the comparison engine-portable;
#: ties fall to the FIRST (lowest) list_id because the fold keeps acc
#: on non-strict improvement and __cents is sorted ascending.
_ARGMAX_CENT_EXPR = """
aggregate(
  transform(__cents, c -> struct(
    c.list_id AS lid,
    round(aggregate(zip_with(embedding, c.cvec,
                             (x, y) -> x * y),
                    0D, (a, x) -> a + x) / (nrm * c.cnrm),
          4) AS s)),
  struct(CAST(-1 AS BIGINT) AS lid,
         CAST(-1.7976931348623157E308 AS DOUBLE) AS s),
  (acc, e) -> CASE WHEN e.s > acc.s THEN e ELSE acc END
)
"""


def ivf_assign(embeddings: DataFrame, n_lists: int = 16) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest of
    n_lists centroids.

    Centroids: the n_lists corpus vectors with the smallest portable
    md5-derived hash60(vec_id) — a deterministic uniform pseudo-random
    sample that needs NO corpus count and NO global sort:
    orderBy(hash).limit compiles to TakeOrderedAndProject
    (per-partition top-n_lists, one tiny merge), and the md5 formula is
    reproducible in the DuckDB oracle.  A production build would
    k-means-refine these, which only changes centroid quality, not the
    operator shape.

    Assignment is map-only: the n_lists centroids are collapsed into a
    single array<struct> row, broadcast, and each corpus row computes
    its argmax-cosine list via higher-order functions — the corpus is
    never shuffled and never leaves whole-stage codegen.  (The previous
    form — unpartitioned row_number window + driver-side count() +
    groupBy(vec_id) re-agg — moved the whole corpus to one partition
    and shuffled every embedding: fatal at 100 TB.)

    Returns (assigned, centroids): assigned = (vec_id, embedding, nrm,
    list_id); centroids = (list_id, cvec, cnrm).
    """
    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cents = (
        emb.orderBy(
            F.expr(
                "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT)"
            ),
            "vec_id",
        )
        .limit(n_lists)
        .select(
            F.col("vec_id").alias("list_id"),
            F.col("embedding").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )
    # One row holding all centroids, sorted by list_id so the argmax
    # fold below tie-breaks deterministically (first/lowest list wins).
    cent_row = cents.agg(
        F.sort_array(
            F.collect_list(F.struct("list_id", "cvec", "cnrm"))
        ).alias("__cents")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", F.expr(f"({_ARGMAX_CENT_EXPR}).lid"))
        .select("vec_id", "embedding", "nrm", "list_id")
    )
    return assigned, cents.select("list_id", "cvec", "cnrm")


def kmeans_refine(
    embeddings: DataFrame, n_lists: int = 16
) -> tuple[DataFrame, DataFrame]:
    """One Lloyd iteration over ``ivf_assign``'s hash-sampled seeds:
    recompute each list's centroid as the per-dimension member mean,
    then reassign every vector to its nearest REFINED centroid — the
    k-means refinement step that turns the deterministic seed sample
    into data-adapted IVF lists.

    Deterministic cross-engine: refined centroid components are
    per-(list, dim) means rounded to 6 dp (both engines average
    identical doubles — float32→float64 widening is exact), and the
    reassignment reuses the 4dp-rounded argmax fold.

    Scale plan: the member-mean pass is posexplode (map-side flatten)
    + one (list, dim) hash-agg — n_lists × dims groups; the refined
    centroids collapse into one broadcast row exactly like the seeds,
    so reassignment is again map-only over the corpus.  Nothing
    shuffles an embedding twice.

    Returns (best, cents1): best = (vec_id, list_id, cos_sim) under
    the refined centroids; cents1 = (list_id, cvec, cnrm).
    """
    assigned, _ = ivf_assign(embeddings, n_lists)
    flat = assigned.select(
        "list_id", F.posexplode("embedding").alias("pos", "val")
    )
    per_dim = flat.groupBy("list_id", "pos").agg(
        F.round(F.avg("val"), 6).alias("cval")
    )
    cents1 = (
        per_dim.groupBy("list_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cval"))),
                lambda c: c["cval"],
            ).alias("cvec")
        )
        .select("list_id", "cvec", _norm(F.col("cvec")).alias("cnrm"))
    )
    cent_row = cents1.agg(
        F.sort_array(
            F.collect_list(F.struct("list_id", "cvec", "cnrm"))
        ).alias("__cents")
    )
    best = (
        assigned.select("vec_id", "embedding", "nrm")
        .crossJoin(F.broadcast(cent_row))
        .withColumn("__best", F.expr(_ARGMAX_CENT_EXPR))
        .select(
            "vec_id",
            F.col("__best.lid").alias("list_id"),
            F.col("__best.s").alias("cos_sim"),
        )
    )
    return best, cents1


def ann_topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe closest inverted lists
    per query, exact cosine re-rank inside them.  Scans ~nprobe/n_lists
    of the corpus per query.  Output schema matches cosine_topk.
    Deterministic end-to-end (md5-hash centroids, rounded comparisons,
    list_id/vec_id tie-breaks) — reproducible by the DuckDB oracle."""
    from pyspark.sql.window import Window

    assigned, cents = ivf_assign(embeddings, n_lists)
    q = assigned.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("__sim"), F.asc("list_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "qid", "qvec", "qnrm", "list_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                4,
            ).alias("__sim"),
        )
        .withColumn("__rk", F.row_number().over(wq))
        .where(F.col("__rk") <= nprobe)
        .select("qid", "qvec", "qnrm", "list_id")
    )
    cands = assigned.join(F.broadcast(probes), "list_id").where(
        F.col("vec_id") != F.col("qid")
    )
    scored = cands.select(
        "qid",
        "vec_id",
        F.round(
            _dot(F.col("qvec"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm")),
            4,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "vec_id", "cos_sim", "rk")
        .orderBy("qid", "rk")
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: one signature pass, a (table, bucket)
    equi-join for candidate discovery, exact cosine re-rank inside the
    candidate set.  Output schema matches cosine_topk
    (qid, vec_id, cos_sim, rk); recall < 1 by design.

    Scale shape: signatures are computed once per corpus row (map-only,
    broadcast plane table); the candidate join carries only
    (vec_id, table, sig) — embeddings are re-attached to the
    bucket-sized candidate set afterwards, so wide vectors never ride
    through the 8× table expansion.  Deterministic end-to-end (md5
    planes, rounded re-rank, vec_id tie-break) — the DuckDB oracle
    reproduces the exact result.
    """
    from pyspark.sql.window import Window

    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    # (vec_id, t, sig): 8 small rows per vector, no embedding payload
    tall = with_signatures(emb.select("vec_id", "embedding"), dims).select(
        "vec_id", F.posexplode("sigs").alias("t", "sig")
    )
    q_tall = tall.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("t").alias("qt"),
        F.col("sig").alias("qsig"),
    )
    cand_ids = (
        tall.join(
            F.broadcast(q_tall),
            (F.col("t") == F.col("qt"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id")
        .distinct()
    )
    q_emb = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(F.broadcast(cand_ids), "vec_id")
        .join(F.broadcast(q_emb), "qid")
        .select(
            "qid",
            "vec_id",
            F.round(
                _dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "vec_id", "cos_sim", "rk")
        .orderBy("qid", "rk")
    )


def jl_sign_matrix(out_dims: int, in_dims: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix from
    the repo's portable md5 idiom (Achlioptas 2001: Rademacher ±1
    entries give the same distance-preservation guarantee as Gaussian
    ones, database-friendly).  A pure function of (j, d), so Spark,
    DuckDB, and any future engine share the identical matrix without
    shipping state."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"jl-{j}-{d}".encode()).hexdigest()[:2], 16
            )
            % 2
            == 0
            else -1
            for d in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    out_dims: int = 16,
    in_dims: int = 64,
) -> DataFrame:
    """Exact top-k cosine over Johnson-Lindenstrauss-PROJECTED
    embeddings (d → out_dims via a fixed ±1 sign matrix) — the
    training-free alternative to `matryoshka_topk`'s learned prefix:
    any embedding model gets the dims/d bandwidth cut, at the JL
    distortion bound instead of an MRL training guarantee.

    Scale: the projection is a map-side fold (out_dims · d
    multiply-adds per vector, whole-stage codegen, no Python); the
    cosine scaling by 1/√out_dims cancels, so raw ±1 sums feed
    `cosine_topk` unchanged.  Same plan shape as `cosine_topk`
    downstream: broadcast queries, one corpus scan, per-query top-k.
    """
    rows = jl_sign_matrix(out_dims, in_dims)
    r_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{v}D" for v in row) + ")"
            for row in rows
        )
        + ")"
    )
    proj = F.expr(
        f"transform({r_sql}, r -> aggregate("
        "zip_with(r, embedding, (s, x) -> s * x), 0D, (a, b) -> a + b))"
    )
    projected = _as_double(embeddings).select(
        "vec_id", proj.alias("embedding")
    )
    return cosine_topk(projected, query_ids, k)


def matryoshka_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dims: int = 16,
) -> DataFrame:
    """Exact top-k cosine over MATRYOSHKA-TRUNCATED embeddings: only
    the first `dims` dimensions participate (MRL-style nested
    representations — the cheap first-pass of a two-stage retrieval
    where full-dim rescoring happens on the shortlist).

    Same contract and plan as `cosine_topk`; the truncation is a
    map-side `slice`, so the scan moves dims/d of the vector bytes
    through the scoring join — at production dims (e.g. 64 of 1024)
    that is a 16x cut in the broadcast and fold width.
    """
    truncated = _as_double(embeddings).select(
        "vec_id", F.slice("embedding", 1, dims).alias("embedding")
    )
    return cosine_topk(truncated, query_ids, k)


def pq_codes(embeddings: DataFrame, m: int = 4, k: int = 8) -> DataFrame:
    """Product quantization (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each D-dim vector into ``m``
    sub-vectors and quantize each against a ``k``-entry per-subspace
    codebook; a vector compresses to one base-``k`` code (packed into
    a single BIGINT here) — the memory layout ANN shortlists rescore
    against.  Output per vector: the packed ``code`` and ``err_q4``,
    the summed squared-L2 reconstruction error as an exact integer
    (sum of per-subspace ``round(d * 1e4)``, immune to float
    summation-order drift across engines).

    Codebooks: the k hash-smallest corpus vectors' sub-slices — the
    `ivf_assign` seeding scheme (deterministic, no corpus count, no
    global sort; `orderBy(hash).limit(k)` is TakeOrderedAndProject).
    cid = rank in hash order, assigned by sort_array over one
    collected ≤k-row struct (no unpartitioned Window).  A production
    build k-means-refines each subspace codebook, which changes
    centroid quality, not operator shape.

    Scale plan: one ≤k-row broadcast; assignment is a map-only
    higher-order-function fold per subspace (the corpus is never
    shuffled and never leaves codegen); per-subspace distances are
    rounded to 4 dp before the argmin so both engines compare
    identical doubles (ties -> lowest cid: strict-< fold over the
    cid-ascending codebook array).
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")
    weights = ", ".join(str(k**i) for i in range(m))
    return (
        _pq_picked(emb, m, k)
        .select(
            "vec_id",
            F.expr(
                f"aggregate(zip_with(__picks, array({weights}),"
                " (p, w) -> CAST(p.cid AS BIGINT) * w),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("code"),
            F.expr(
                "aggregate(__picks, CAST(0 AS BIGINT),"
                " (a, p) -> a + CAST(round(p.d * 10000) AS BIGINT))"
            ).alias("err_q4"),
        )
        .orderBy("vec_id")
    )


def _pq_sub(m: int) -> str:
    return f"(size(embedding) DIV {m})"


def _pq_subdist(m: int) -> str:
    """Raw squared-L2 between the mi-th sub-slices of `embedding` and
    a codebook entry `c.cvec` (sequential left-fold sum)."""
    sub = _pq_sub(m)
    return f"""aggregate(zip_with(
                    slice(embedding, mi * {sub} + 1, {sub}),
                    slice(c.cvec,   mi * {sub} + 1, {sub}),
                    (x, y) -> (x - y) * (x - y)),
                  0D, (a, x) -> a + x)"""


def _pq_cent_row(emb: DataFrame, k: int) -> DataFrame:
    """The 1-row broadcastable codebook: `__cents` = array<struct(cid,
    cvec)>, cid ascending in hash order of the k seed vectors."""
    h = (
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    seeds = emb.orderBy(F.expr(h), "vec_id").limit(k)
    return seeds.select(
        F.expr(h).alias("h"), "vec_id", F.col("embedding").alias("cvec")
    ).agg(
        F.expr(
            "transform(sort_array(collect_list(struct(h, vec_id, cvec))),"
            " (c, i) -> struct(CAST(i AS INT) AS cid, c.cvec AS cvec))"
        ).alias("__cents")
    )


def _pq_picks_expr(m: int) -> str:
    """Per subspace, the argmin codebook entry as struct(cid, d) with
    d the 4dp-rounded squared-L2 (ties -> lowest cid via strict-<
    fold over the cid-ascending ``__cents`` array)."""
    return f"""
    transform(sequence(0, {m - 1}), mi ->
      aggregate(
        transform(__cents, c -> struct(
          c.cid AS cid,
          round({_pq_subdist(m)}, 4) AS d)),
        struct(CAST(-1 AS INT) AS cid, CAST(1E300 AS DOUBLE) AS d),
        (acc, e) -> CASE WHEN e.d < acc.d THEN e ELSE acc END))
    """


def _pq_picked(emb: DataFrame, m: int, k: int) -> DataFrame:
    """emb + `__picks` under a codebook seeded from emb itself."""
    return emb.crossJoin(F.broadcast(_pq_cent_row(emb, k))).withColumn(
        "__picks", F.expr(_pq_picks_expr(m))
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_top: int = 10,
    m: int = 4,
    k: int = 8,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the second half of
    Jégou et al. 2011: queries stay UNquantized; each query
    precomputes an m×k table of integer sub-distances to every
    codebook entry, and a corpus vector's distance is just m table
    lookups summed over its code digits.  At 100 TB this is the point
    of PQ: the scan touches 4 small ints per vector instead of 64
    floats, and the table build is O(m·k) per query.

    Determinism: table entries are exact ints (round(d·1e4)), so ADC
    scores are exact integer sums — no float ordering anywhere; ties
    break on vec_id.  Returns (qid, vec_id, adc_q4, rk), rk ≤ k_top.

    Scale plan: corpus codes from the map-only `_pq_picked` fold; the
    ≤|queries|-row table relation broadcasts into one BNLJ against
    the code scan; per-query top-k is a qid-PARTITIONED window (never
    global).
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")
    codes = _pq_picked(emb, m, k).select(
        "vec_id", F.expr("transform(__picks, p -> p.cid)").alias("cids")
    )
    tab = f"""
    transform(sequence(0, {m - 1}), mi ->
      transform(__cents, c ->
        CAST(round({_pq_subdist(m)} * 10000) AS BIGINT)))
    """
    qtab = (
        emb.where(F.col("vec_id").isin([int(q) for q in query_ids]))
        .crossJoin(F.broadcast(_pq_cent_row(emb, k)))
        .select(F.col("vec_id").alias("qid"), F.expr(tab).alias("tab"))
    )
    from pyspark.sql import Window

    scored = (
        codes.join(F.broadcast(qtab), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(cids, tab,"
                " (cid, row) -> element_at(row, cid + 1)),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("adc_q4"),
        )
    )
    w = Window.partitionBy("qid").orderBy("adc_q4", "vec_id")
    return (
        scored.withColumn(
            "rk", F.row_number().over(w).cast("int")
        )
        .where(F.col("rk") <= k_top)
        .orderBy("qid", "rk")
    )


def l2_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth `pq_adc_topk` is
    measured against.  Same shape as `cosine_topk`: tiny broadcast
    query side, map-only scoring over the corpus scan, per-query
    top-k.  Distances as exact ints (round(d·1e4)); ties -> vec_id.
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")
    q = emb.where(F.col("vec_id").isin([int(i) for i in query_ids])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    from pyspark.sql import Window

    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(
                "CAST(round(aggregate(zip_with(embedding, qe,"
                " (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"
                " * 10000) AS BIGINT)"
            ).alias("d_q4"),
        )
    )
    w = Window.partitionBy("qid").orderBy("d_q4", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .orderBy("qid", "rk")
    )


def pq_refine(
    embeddings: DataFrame, m: int = 4, k: int = 8
) -> DataFrame:
    """One Lloyd iteration over the PQ codebooks: recompute every
    (subspace, codebook-entry) as the per-dimension mean of its
    assigned sub-vectors, then reassign — the training step that turns
    the hash-seeded codebooks into data-adapted ones (Jégou et al.
    2011 train exactly this way, k-means per subspace).  Returns the
    refined cell profile: (mi, cid, n_vecs, sum_d_q4) with the
    per-cell member count and the exact-integer total quantization
    error under the REFINED codebooks.

    Deterministic cross-engine: refined components are per-(mi, cid,
    pos) means rounded to 6 dp (the `kmeans_refine` recipe); the
    reassignment reuses the 4dp-round + lowest-cid-tie argmin.  A cell
    that attracts no members simply drops out of its subspace's
    codebook for the reassignment pass — both engines group only
    present cells.

    Scale plan: the member-mean pass is two map-side explodes + one
    (mi, cid, pos) hash-agg (m·k·sub_dim groups); the refined
    codebooks collapse into ONE broadcast row exactly like the seeds,
    so reassignment is again map-only — no embedding shuffles, ever.
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")
    sub = _pq_sub(m)
    picked = _pq_picked(emb, m, k)
    asg = picked.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), mi -> struct("
                f"__picks[mi].cid AS cid,"
                f" slice(embedding, mi * {sub} + 1, {sub}) AS sv))"
            )
        ).alias("mi", "x"),
    )
    flat = asg.select(
        "mi",
        F.col("x.cid").alias("cid"),
        F.posexplode("x.sv").alias("pos", "val"),
    )
    per_dim = flat.groupBy("mi", "cid", "pos").agg(
        F.round(F.avg("val"), 6).alias("cval")
    )
    refc = per_dim.groupBy("mi", "cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cval"))),
            lambda c: c["cval"],
        ).alias("cv")
    )
    permis = refc.groupBy("mi").agg(
        F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias(
            "entries"
        )
    )
    cb_row = permis.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(mi, entries))),"
            " x -> x.entries)"
        ).alias("__cbs")
    )
    picks2 = f"""
    transform(sequence(0, {m - 1}), mi ->
      aggregate(
        transform(element_at(__cbs, mi + 1), c -> struct(
          c.cid AS cid,
          round(aggregate(zip_with(
                    slice(embedding, mi * {sub} + 1, {sub}),
                    c.cv, (x, y) -> (x - y) * (x - y)),
                  0D, (a, x) -> a + x), 4) AS d)),
        struct(CAST(-1 AS INT) AS cid, CAST(1E300 AS DOUBLE) AS d),
        (acc, e) -> CASE WHEN e.d < acc.d THEN e ELSE acc END))
    """
    return (
        emb.crossJoin(F.broadcast(cb_row))
        .select(
            "vec_id", F.posexplode(F.expr(picks2)).alias("mi", "p")
        )
        .groupBy("mi", F.col("p.cid").alias("cid"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(
                F.expr("CAST(round(p.d * 10000) AS BIGINT)")
            ).cast("bigint").alias("sum_d_q4"),
        )
        .orderBy("mi", "cid")
    )


def ivfpq_model(
    embeddings: DataFrame, n_lists: int = 16, k: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Train the IVFADC model from a corpus: (cents, cb) where cents
    is the (list_id, cvec, cnrm) IVF centroid relation (`ivf_assign`
    seeding) and cb is the 1-row broadcastable shared RESIDUAL
    codebook (`_pq_cent_row` over x − c(list(x)) residuals).  Both
    are bounded (n_lists / k rows) and persistable — the streaming
    ingest index trains once and encodes every later batch under the
    same frozen model, exactly like a production IVFPQ build."""
    cents, cb, _ = _ivfpq_model_resid(embeddings, n_lists, k)
    return cents, cb


def _ivfpq_model_resid(
    embeddings: DataFrame, n_lists: int, k: int, cache_resid: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Model training plus the residual relation it was derived from,
    so `ivfpq_topk` can reuse the assignment/residual fold for its
    codes instead of re-deriving the corpus-wide map work a second
    time.

    ``cache_resid`` scope-persists the residual relation: its lineage
    (centroid TakeOrdered → broadcast → argmax assign → centroid
    join → subtract) is referenced by BOTH the codebook aggregate
    (a broadcast build) and the code fold — without the cache the
    whole corpus map chain executes twice per materialization (not
    memoized, so every run still recomputes from parquet)."""
    assigned, cents = ivf_assign(embeddings, n_lists)
    resid = _ivfpq_residuals(assigned, cents)
    if cache_resid:
        resid = persist_scoped("ivfpq_resid", resid)
    cb = _pq_cent_row(resid.select("vec_id", "embedding"), k)
    return cents, cb, resid


def _cent_row_from(cents: DataFrame) -> DataFrame:
    """Collapse a (list_id, cvec, cnrm) centroid relation into the
    1-row broadcastable `__cents` form `ivf_assign` builds inline."""
    return cents.agg(
        F.sort_array(
            F.collect_list(F.struct("list_id", "cvec", "cnrm"))
        ).alias("__cents")
    )


def _assign_to(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-only IVF routing of (vec_id, embedding) against an
    EXTERNAL centroid relation — `ivf_assign`'s argmax fold, with the
    model supplied instead of seeded from the input (the frozen-model
    path the streaming index needs).  Returns (vec_id, embedding,
    nrm, list_id)."""
    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    return (
        emb.crossJoin(F.broadcast(_cent_row_from(cents)))
        .withColumn("list_id", F.expr(f"({_ARGMAX_CENT_EXPR}).lid"))
        .select("vec_id", "embedding", "nrm", "list_id")
    )


def _ivfpq_residuals(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, list_id, embedding=residual) — map-side broadcast
    join on list_id + zip_with subtraction; the corpus never moves."""
    return assigned.join(F.broadcast(cents), "list_id").select(
        "vec_id",
        "list_id",
        F.expr("zip_with(embedding, cvec, (x, y) -> x - y)").alias(
            "embedding"
        ),
    )


def _codes_from_residuals(
    resid: DataFrame, cb: DataFrame, m: int
) -> DataFrame:
    """(vec_id, list_id, cids) from a residual relation + codebook —
    the shared tail of `ivfpq_encode` and `ivfpq_topk`."""
    return (
        resid.crossJoin(F.broadcast(cb))
        .withColumn("__picks", F.expr(_pq_picks_expr(m)))
        .select(
            "vec_id",
            "list_id",
            F.expr("transform(__picks, p -> p.cid)").alias("cids"),
        )
    )


def ivfpq_encode(
    embeddings: DataFrame, cents: DataFrame, cb: DataFrame, m: int = 4
) -> DataFrame:
    """Encode vectors under a FROZEN IVFADC model: route to lists,
    subtract the list centroid, PQ-code the residual.  Map-only under
    the two broadcasts; output (vec_id, list_id, cids) — m small ints
    per vector, the memory layout the ADC scan reads."""
    assigned = _assign_to(embeddings, cents)
    return _codes_from_residuals(
        _ivfpq_residuals(assigned, cents), cb, m
    )


def ivfpq_search(
    codes: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    k_top: int = 10,
    nprobe: int = 4,
    m: int = 4,
) -> DataFrame:
    """ADC search of (vec_id, embedding) queries against an encoded
    corpus: probe the nprobe closest lists per query, residualize the
    query against each probed centroid, build the per-(query, list)
    m×k integer distance table, and scan only those lists' codes via
    a broadcast equi-join on list_id.  Output (qid, vec_id, adc_q4,
    rk ≤ k_top); self-matches excluded."""
    from pyspark.sql import Window

    q = _as_double(queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.desc("__sim"), F.asc("list_id")
    )
    qres = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "qvec",
            "list_id",
            "cvec",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                4,
            ).alias("__sim"),
        )
        .withColumn("__rk", F.row_number().over(wq))
        .where(F.col("__rk") <= nprobe)
        .select(
            "qid",
            "list_id",
            F.expr("zip_with(qvec, cvec, (x, y) -> x - y)").alias(
                "embedding"
            ),
        )
    )
    tab = f"""
    transform(sequence(0, {m - 1}), mi ->
      transform(__cents, c ->
        CAST(round({_pq_subdist(m)} * 10000) AS BIGINT)))
    """
    qtab = qres.crossJoin(F.broadcast(cb)).select(
        "qid", "list_id", F.expr(tab).alias("tab")
    )
    scored = (
        codes.alias("v")
        .join(
            F.broadcast(qtab).alias("t"),
            (F.col("v.list_id") == F.col("t.list_id"))
            & (F.col("v.vec_id") != F.col("t.qid")),
        )
        .select(
            "qid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(cids, tab,"
                " (cid, row) -> element_at(row, cid + 1)),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("adc_q4"),
        )
    )
    w = Window.partitionBy("qid").orderBy("adc_q4", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k_top)
        .orderBy("qid", "rk")
    )


def bq_adc_search(
    codes: DataFrame,
    packed: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    k_top: int = 10,
    shortlist: int = 50,
    m: int = 4,
) -> DataFrame:
    """Two-stage search over an ENCODED corpus: binary-quantized
    Hamming shortlist (stage 1, `bq_search` over the stored sign-bit
    words) then ADC rescore of ONLY the shortlist's codes (stage 2).
    BQ replaces IVF's nprobe as the candidate generator — candidates
    can come from ANY inverted list, so recall is no longer bounded
    by the probe — while the float math never runs at all: stage 2
    reads m small ints per candidate against per-(query, list)
    integer distance tables, built only for the ≤|Q|·shortlist
    (query, list) pairs the shortlist actually touches.

    Inputs are the persisted index relations (the streaming ANN
    index's state families): ``codes`` (vec_id, list_id, cids),
    ``packed`` (vec_id, words), plus (vec_id, embedding) queries and
    the frozen model (cents, cb).  Output (qid, vec_id, adc_q4,
    rk ≤ k_top); deterministic (integer Hamming + integer ADC,
    vec_id ties), so DuckDB replays it.

    Scale plan: stage 1 is the `bq_search` shape (packed scan, tiny
    broadcast queries, WindowGroupLimit); stage 2 semi-filters the
    code index by the BROADCAST shortlist — the corpus codes are
    filtered in place, never shuffled — and every model/table
    relation stays a bounded broadcast."""
    from pyspark.sql import Window

    packed_q = bq_pack(queries).select(
        F.col("vec_id").alias("qid"), F.col("words").alias("qwords")
    )
    # persist the two TINY intermediates (≤|Q|·shortlist rows): `cand`
    # feeds BOTH the table branch (via `needed`) and the score branch —
    # without the cache the corpus-wide Hamming scan and the code scan
    # in its lineage re-run once per branch (3x the corpus read at
    # scale).  Scoped persist: bq_ann_ingest_writer
    # calls this every micro-batch, so each invocation must free the
    # previous one's blocks instead of waiting on the ContextCleaner.
    short = persist_scoped(
        "bq_adc_short",
        bq_search(packed, packed_q, shortlist).select("qid", "vec_id"),
    )
    cand = persist_scoped(
        "bq_adc_cand",
        codes.join(F.broadcast(short), "vec_id").select(
            "qid", "vec_id", "list_id", "cids"
        ),
    )
    # ADC tables only for the (query, list) pairs the shortlist
    # touches — ≤ |Q|·shortlist rows, usually far fewer
    needed = cand.select("qid", "list_id").distinct()
    q = _as_double(queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    qres = (
        needed.join(F.broadcast(cents), "list_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "list_id",
            F.expr("zip_with(qvec, cvec, (x, y) -> x - y)").alias(
                "embedding"
            ),
        )
    )
    tab = f"""
    transform(sequence(0, {m - 1}), mi ->
      transform(__cents, c ->
        CAST(round({_pq_subdist(m)} * 10000) AS BIGINT)))
    """
    qtab = qres.crossJoin(F.broadcast(cb)).select(
        "qid", "list_id", F.expr(tab).alias("tab")
    )
    scored = (
        cand.alias("v")
        .join(
            F.broadcast(qtab).alias("t"),
            (F.col("v.qid") == F.col("t.qid"))
            & (F.col("v.list_id") == F.col("t.list_id")),
        )
        .select(
            F.col("v.qid").alias("qid"),
            "vec_id",
            F.expr(
                "aggregate(zip_with(cids, tab,"
                " (cid, row) -> element_at(row, cid + 1)),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("adc_q4"),
        )
    )
    w = Window.partitionBy("qid").orderBy("adc_q4", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k_top)
        .orderBy("qid", "rk")
    )


def bq_ivfpq_rerank_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_top: int = 10,
    n_lists: int = 16,
    m: int = 4,
    k: int = 8,
    shortlist: int = 50,
) -> DataFrame:
    """One-pass batch twin of the two-stage index search: train the
    IVFADC model, encode + BQ-pack the corpus, then `bq_adc_search`.
    The composition a user runs ad hoc; the streaming ingest index
    (`streaming/annindex.bq_ann_ingest_writer`) maintains the same
    two relations incrementally and is pinned stream/batch-equal.

    The four index relations — model (cents 16 rows, cb 1 row) and
    encoded corpus (codes, packed words) — are scoped-persisted: they
    are the STORED STATE in the production streaming index, but as
    lazy plans every downstream action re-derived them from scratch
    (the codebook's lineage alone is a full corpus assign+residual
    pass, so one search paid ~4 corpus passes).
    Persisting here restores the index semantics the operator's
    signature (prebuilt relations into `bq_adc_search`) already
    promises."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    cents, cb, resid = _ivfpq_model_resid(emb, n_lists, k)
    # memoize=True: inputs are immutable fixture parquet, so a
    # re-invocation with the same corpus + params reuses the built
    # index instead of re-training (the search intermediates inside
    # bq_adc_search stay evict-scoped — they're what a re-search must
    # actually recompute)
    cents = persist_scoped("bq_ivfpq_cents", cents, memoize=True)
    cb = persist_scoped("bq_ivfpq_cb", cb, memoize=True)
    codes = persist_scoped(
        "bq_ivfpq_codes", _codes_from_residuals(resid, cb, m), memoize=True
    )
    packed = persist_scoped("bq_ivfpq_packed", bq_pack(emb), memoize=True)
    queries = emb.where(
        F.col("vec_id").isin([int(i) for i in query_ids])
    )
    return bq_adc_search(
        codes, packed, queries, cents, cb, k_top, shortlist, m
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_top: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    m: int = 4,
    k: int = 8,
) -> DataFrame:
    """IVFADC — the composed IVF-PQ index of Jégou et al. 2011 §IV,
    the actual 100 TB ANN architecture this family builds toward:
    an IVF coarse quantizer routes each vector to one inverted list,
    and product quantization encodes the RESIDUAL x − c(list(x))
    (residuals concentrate around 0, so the same code budget buys
    much finer cells than PQ on raw vectors); a query probes its
    nprobe closest lists and ADC-scans only those lists' codes.

    Train-encode-search composition (each piece reusable standalone —
    the streaming ingest index persists the model and encodes batch
    by batch): `ivfpq_model` (broadcastable centroids + shared
    residual codebook, hash-seeded — Jégou's IVFADC shares one PQ
    codebook across lists), `ivfpq_encode` (map-only routing +
    residual + code fold), `ivfpq_search` (per-(query, list) integer
    ADC tables, broadcast equi-join probe on list_id).  Deterministic
    end-to-end, so the DuckDB oracle replays it.

    Scale plan: the corpus never leaves its partitions — assignment,
    residual (zip_with after a broadcast join on list_id), and code
    fold are all map-side under broadcast ≤n_lists/≤k-row state; the
    list probe is a broadcast equi-JOIN on list_id (the inverted-
    list read: only ~nprobe/n_lists of the code scan survives it,
    and codes are m small ints per vector, not D floats); per-query
    top-k is a qid-partitioned window (WindowGroupLimit).  The
    broadcast sides are the centroid row, the codebook row, and the
    |Q|·nprobe-row query-table relation.
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")
    cents, cb, resid = _ivfpq_model_resid(
        emb, n_lists, k, cache_resid=True
    )
    codes = _codes_from_residuals(resid, cb, m)
    queries = emb.where(
        F.col("vec_id").isin([int(i) for i in query_ids])
    )
    return ivfpq_search(codes, queries, cents, cb, k_top, nprobe, m)


#: bits packed per word in the binary-quantized layout: 63, not 64 —
#: bit 63 is the sign bit, and BOTH engines' BIGINT shift/sum
#: semantics stay trivially exact when it is never set (the same
#: no-sign-bit-divergence rule the Bloom bitmap uses with 32-bit
#: words).
BQ_WORD_BITS = 63


def bq_pack(embeddings: DataFrame) -> DataFrame:
    """Binary quantization: each embedding becomes ceil(d/63) BIGINT
    words of sign bits (bit i of word w = 1 iff e[63w + i] >= 0) —
    the 32×-compression layout modern vector stores use as a
    first-pass filter (a 64-dim float32 vector becomes 16 bytes).
    Map-only fold; output (vec_id, words array<bigint>)."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    words = f"""
    transform(sequence(0, (size(embedding) - 1) DIV {BQ_WORD_BITS}),
      w -> aggregate(
             sequence(0, {BQ_WORD_BITS - 1}),
             CAST(0 AS BIGINT),
             (acc, i) -> CASE
               WHEN get(embedding, w * {BQ_WORD_BITS} + i) >= 0D
               THEN acc + shiftleft(CAST(1 AS BIGINT), i)
               ELSE acc END))
    """
    return emb.select("vec_id", F.expr(words).alias("words"))


def bq_search(
    packed: DataFrame, packed_q: DataFrame, k: int = 10
) -> DataFrame:
    """Hamming top-k of packed queries against a packed corpus:
    distance = popcount(xor) summed over words — integer-exact, so
    both engines rank identical values (ties -> vec_id).  ``packed``
    is (vec_id, words); ``packed_q`` is (qid, qwords) — the streaming
    ANN index calls this against its persisted ``bqwords`` state.
    Output (qid, vec_id, hamming, rk ≤ k); self-matches excluded.

    Scale plan: the corpus side is scanned once touching ceil(d/63)
    longs per vector; the query side is a tiny broadcast; per-query
    top-k is a qid-partitioned WindowGroupLimit."""
    from pyspark.sql import Window

    scored = (
        packed.crossJoin(F.broadcast(packed_q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(words, qwords,"
                " (x, y) -> bit_count(x ^ y)),"
                " 0, (a, x) -> a + x)"
            ).cast("int").alias("hamming"),
        )
    )
    w = Window.partitionBy("qid").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .orderBy("qid", "rk")
    )


def bq_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Hamming top-k over the binary-quantized corpus — `bq_pack`
    both sides, then `bq_search`.  Output (qid, vec_id, hamming,
    rk ≤ k).

    Scale plan: the corpus is packed map-side and scanned once
    touching ceil(d/63) longs per vector instead of d floats; the
    query side is a tiny broadcast; per-query top-k is a
    qid-partitioned WindowGroupLimit.  The quality gauge against the
    exact float top-k is `emb_bq_recall` — binary quantization's
    whole trade is scan bytes for recall, which that row makes
    visible."""
    packed = bq_pack(embeddings)
    # the broadcast side packs ONLY the |Q| filtered rows: filtering
    # BEFORE bq_pack keeps the query-side lineage an In(vec_id)-pushed
    # scan of |Q| rows rather than a full corpus pack that Catalyst
    # must prune (plan-pinned by test_bq_query_side_scan_is_pruned)
    q = bq_pack(
        embeddings.where(
            F.col("vec_id").isin([int(i) for i in query_ids])
        )
    ).select(
        F.col("vec_id").alias("qid"), F.col("words").alias("qwords")
    )
    return bq_search(packed, q, k)


def bq_rerank_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """The two-stage production retrieval pattern: binary-quantized
    Hamming SHORTLIST (cheap scan over ceil(d/63) longs per vector)
    followed by exact cosine RERANKING of only the shortlist —
    recall approaches exact search while the float math touches
    shortlist·|Q| vectors instead of the corpus.

    Deterministic end-to-end: the shortlist is `bq_topk`'s integer
    ranking (vec_id ties), the rescore is the 4dp-rounded cosine with
    vec_id ties — both fully oracle-replayable.  Output matches
    `cosine_topk`: (qid, vec_id, cos_sim, rk ≤ k).

    Scale plan: stage 1 is the `bq_topk` shape (packed scan, tiny
    broadcast queries, qid-partitioned WindowGroupLimit); stage 2
    joins the ≤|Q|·shortlist-row shortlist BROADCAST against the
    embedding scan (map-side — the corpus is filtered, not shuffled),
    then rescores and group-limits.  The only full-width work after
    stage 1 is one more corpus scan projecting (vec_id, embedding).
    """
    from pyspark.sql import Window

    emb = _as_double(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    short = bq_topk(embeddings, query_ids, shortlist).select(
        "qid", "vec_id"
    )
    q = emb.where(
        F.col("vec_id").isin([int(i) for i in query_ids])
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    rescored = (
        emb.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "vec_id",
            F.round(
                _dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .orderBy("qid", "rk")
    )
