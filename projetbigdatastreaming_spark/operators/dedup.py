"""Deduplication operators over a document corpus (north-star).

Four strategies, each a pure DataFrame composition (no Python UDFs —
everything stays in whole-stage codegen):

- **exact**: md5 fingerprint of normalized text → hash groupBy.
- **MinHash + LSH**: word-shingles → k minhash signatures → banded
  bucket join for candidates → exact-Jaccard verification.  The LSH
  band join replaces the O(n²) all-pairs comparison with an equi-join
  on (band, band_hash) — the only scalable shape at 10⁹ documents.
- **SimHash**: 60-bit portable simhash → pigeonhole block join for
  candidates (hamming ≤ k ⟹ at least one of k+1 blocks equal) →
  exact hamming verification via xor + bit_count.
- **n-gram Jaccard**: the exact verifier exposed as its own operator.

Candidate pruning (LSH/banding) is engine-internal and probabilistic;
every emitted pair is *verified* with the exact measure, so the output
is deterministic given the data — which is what the DuckDB brute-force
oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist_scoped
from ..catalog import spread
from ..functions.text import fingerprint, word_shingles

# MinHash/LSH parameters: 64 signatures in 16 bands × 4 rows.
# P(candidate | jaccard=j) = 1-(1-j^4)^16: j=0.9 → miss ≈ 4e-8,
# j=0.5 → 0.64, j=0.3 → 0.12 — sharp knee right of the 0.8 threshold.
N_HASHES = 64
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS


def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """One row per distinct content fingerprint: the kept (minimum)
    doc_id and the number of copies.  Exact dedup = keep `keep_doc_id`,
    drop the rest.
    """
    return (
        docs.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def with_minhash_signature(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds `shingles` (distinct word 3-grams) and `sig`
    (array<bigint> of N_HASHES minhash values).  Per-row computation
    only — no shuffle.

    Cost shape: each shingle *string* is hashed exactly once
    (`sh_hashes`); the N_HASHES per-seed values then come from
    xxhash64 over (base_hash, seed) — two-long input, a few ns — so the
    per-document cost is O(|shingles| · (1 string hash + N cheap
    hashes)) instead of O(|shingles| · N string hashes).  That single
    change took the sf0.1 all-corpus signature pass from ~190 s to
    seconds on 32 cores.
    """
    sig = F.expr(
        f"""
        transform(sequence(0, {N_HASHES - 1}),
          s -> aggregate(sh_hashes,
                         cast(9223372036854775807 as bigint),
                         (acc, h) -> least(acc, xxhash64(h, s))))
        """
    )
    return (
        docs.withColumn("shingles", word_shingles(text_col))
        .withColumn("sh_hashes", F.expr("transform(shingles, x -> xxhash64(x))"))
        .withColumn("sig", sig)
    )


def shingle_rel(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, shingles) — the distinct word-3-gram relation, map-only
    (no shuffle).  Kept as the STREAMING STATE format (the near-dup
    index's ``sigs`` partitions persist shingle strings); the batch
    pipeline uses ``shingle_hash_rel`` and ships 8-byte hashes instead
    (guide §2.3)."""
    return docs.select("doc_id", word_shingles(text_col).alias("shingles"))


def shingle_hash_rel(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh_hashes array<bigint>) — the distinct word-3-gram
    relation in HASH SPACE.  Round 15: every downstream decision
    (minhash signature mins, band keys, the exact set-Jaccard verify)
    depends only on shingle IDENTITY, never on shingle text, so the
    pipeline's unit becomes ``xxhash64(shingle)`` — 8 bytes/shingle
    through every cache fill, exchange and intersect/union instead of
    a ~25-byte string (guide §2.3 "shuffle keys, not payloads"; §8's
    lightweight-proxy rule).

    Cost shape — WHOLE-STAGE CODEGEN end to end (guide §1.2/§4: the
    r14 form evaluated three interpreted lambda passes per document —
    build shingle strings, distinct them as strings, hash them —
    measured 6.6 s of the 7.5 s kernel at the 500 k-doc point): the
    3-gram triples come from ONE ``arrays_zip`` of three shifted
    slices (a single codegen expression, no per-element lambda), are
    exploded through a codegen Generate, joined+hashed by codegen
    ``concat_ws``/``xxhash64`` projections, and deduped by the
    ``collect_set`` aggregate.  When the input is already hash-
    partitioned on doc_id (``spread(by="doc_id")``), the aggregate
    rides that exchange — no extra shuffle.

    Hash values are identical to the r14 ``sh_hashes`` column
    (xxhash64 of the same concat_ws-joined shingle string), so
    signatures, band keys and the candidate set are bit-identical;
    the verify's |∩|/|∪| over hash sets equals the string-set Jaccard
    up to 64-bit collisions (~1e-16 per compared pair; oracle-verified
    exact on the fixtures).  ``collect_set`` array order is execution-
    dependent, which every consumer is insensitive to (min aggregate,
    band-slice over the separately-built ``sig``, set intersect/union
    sizes)."""
    toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("toks")
    )
    zipped = F.expr(
        """
        CASE WHEN size(toks) >= 3
             THEN arrays_zip(slice(toks, 1, size(toks) - 2),
                             slice(toks, 2, size(toks) - 2),
                             slice(toks, 3, size(toks) - 2))
             ELSE array(named_struct('0', concat_ws(' ', toks),
                                     '1', CAST(NULL AS STRING),
                                     '2', CAST(NULL AS STRING)))
        END
        """
    )
    ex = toks.select("doc_id", F.explode(zipped).alias("s"))
    hashed = ex.select(
        "doc_id",
        F.xxhash64(
            # concat_ws skips NULLs, so the short-doc row hashes
            # exactly concat_ws(' ', toks) — the word_shingles
            # fallback value
            F.expr("concat_ws(' ', s.`0`, s.`1`, s.`2`)")
        ).alias("h"),
    )
    return hashed.groupBy("doc_id").agg(
        F.collect_set("h").alias("sh_hashes")
    )


def _hashed(rel: DataFrame) -> DataFrame:
    """(doc_id, sh_hashes) from either shingle form: pass-through for
    ``shingle_hash_rel`` output, one hashing ``transform`` for a
    string ``shingle_rel`` (the streaming state format)."""
    if "sh_hashes" in rel.columns:
        return rel.select("doc_id", "sh_hashes")
    return rel.select(
        "doc_id",
        F.expr("transform(shingles, x -> xxhash64(x))").alias("sh_hashes"),
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>) minhash signatures from a
    ``shingle_hash_rel`` / ``shingle_rel`` relation — the CODEGEN form
    of the signature pass (round 14, guide §1.2 "per-task work"):
    explode each doc's shingle hashes and take N_HASHES
    ``min(xxhash64(h, s))`` aggregate columns in one
    whole-stage-codegen hash aggregate, then re-assemble the array on
    the one-row-per-doc output.

    Identical values to the higher-order-function fold it replaces
    (min over the same xxhash64(h, s) per seed — order-insensitive),
    but the HOF form evaluates 64 interpreted ``aggregate`` lambdas
    per document: measured at the 50 k-doc scale point, 51.6 s
    (cold-interpreter; ~4.7 s JIT-warm) vs 1.44 s for this form — the
    basket_lift lesson (HOF lambda generation is interpreted, hash-agg
    is codegen) applied to the dedup family's shared kernel.

    One new exchange vs the per-row form: the partial aggregate
    collapses to one row per doc per task BEFORE the shuffle (each
    doc's shingles live in one task), so the exchange carries exactly
    the signature relation itself — doc_id + N_HASHES longs, the same
    ~0.5 KB/doc the old form persisted."""
    ex = _hashed(sh).select(
        "doc_id", F.explode("sh_hashes").alias("h")
    )
    aggs = [
        F.min(F.expr(f"xxhash64(h, {s})")).alias(f"__s{s}")
        for s in range(N_HASHES)
    ]
    return (
        ex.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(
                *[F.col(f"__s{s}") for s in range(N_HASHES)]
            ).alias("sig"),
        )
    )


def band_keys(signed: DataFrame) -> DataFrame:
    """(doc_id, band, bh) LSH probe keys — N_BANDS keys per signed
    doc.  Shared by the self-join (`lsh_candidate_pairs`), the
    bipartite join (`minhash_cross_near_duplicates`), and the
    streaming ingest index (`streaming/neardup.py`)."""
    return signed.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                transform(sequence(0, {N_BANDS - 1}),
                  b -> named_struct(
                         'band', b,
                         'bh', xxhash64(concat_ws(',',
                                 slice(sig, b * {ROWS_PER_BAND} + 1,
                                       {ROWS_PER_BAND})), b)))
                """
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bh")


def lsh_candidate_pairs(signed: DataFrame) -> DataFrame:
    """LSH banding: explode each doc into N_BANDS (band, band_hash)
    keys, self-join on the key.  Returns distinct candidate
    (doc_a, doc_b) with doc_a < doc_b.

    Scale: the join is a plain equi-join on the band key; with AQE,
    skewed buckets (e.g. boilerplate-heavy corpora) are split at
    runtime.  Bucket sizes stay bounded because identical band-hash
    means 4 identical minhashes — a strong similarity signal.
    """
    bands = band_keys(signed)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    signed: DataFrame,
    threshold: float,
    signed_b: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard for each candidate pair; keeps pairs
    with jaccard >= threshold.  Output: (doc_a, doc_b, jaccard).

    ``signed_b`` makes the verify BIPARTITE: ``doc_a`` resolves its
    shingles from ``signed`` and ``doc_b`` from ``signed_b``, so the
    two sides may use overlapping doc_id spaces (each side's ids only
    need to be unique within that side).

    Round 15: the intersect/union runs over the 8-byte shingle HASHES
    (``_hashed``), not the shingle strings — distinct shingles have
    distinct hashes (64-bit, ~1e-16 collision odds per compared pair;
    exact-equal on every fixture SF vs the string-set oracle), so
    |∩| and |∪| are unchanged while the two join exchanges and the
    per-pair set operations ship/compare longs instead of ~25-byte
    strings (guide §2.3)."""
    sh = _hashed(signed)
    sh_b = _hashed(signed_b if signed_b is not None else signed)
    return (
        pairs.join(
            sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "sh_hashes", "sh_a"
            ),
            "doc_a",
        )
        .join(
            sh_b.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sh_hashes", "sh_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("__jaccard_raw"),
        )
        # filter on the UNROUNDED value (matches the oracle's predicate
        # placement); round only in the output projection
        .where(F.col("__jaccard_raw") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("__jaccard_raw", 4).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    docs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs, exact-verified.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >=
    threshold.  Every pair is exact-verified, so (up to the ~1e-7 LSH
    miss probability at j≥0.9) this equals the brute-force all-pairs
    answer the oracle computes.

    The one cached relation is the hash-space shingle relation
    (``shingle_hash_rel``, ~0.9 KB/doc of longs), spread on doc_id so
    it caches even at billions of documents (MEMORY_AND_DISK spills).
    It feeds the signature aggregate and both sides of the verify
    join; the signatures stay lazy codegen on top of it, because a
    second cache level measured slower than the one extra signature
    aggregate the band join's two sides pay.
    """
    sh = persist_scoped(
        "minhash_shingles", shingle_hash_rel(spread(docs, by="doc_id"))
    )
    sigs = minhash_signatures(sh)
    return jaccard_verify(lsh_candidate_pairs(sigs), sh, threshold)


def minhash_cross_near_duplicates(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Bipartite MinHash-LSH near-dups between a training corpus and
    a benchmark set — FUZZY decontamination: where the n-gram screen
    (`plans/llmdata.q_decontaminate`) catches verbatim leakage, this
    catches near-verbatim/lightly-edited benchmark copies (the fuzzy
    pass production pipelines run next to the exact one).  Output:
    (doc_a=corpus doc, doc_b=benchmark doc, jaccard >= threshold),
    every candidate exact-Jaccard-verified.

    Scale plan — and why this is NOT `minhash_near_duplicates` on the
    union: the benchmark side is a fixed, tiny suite (thousands of
    docs against a 10⁹-doc corpus), so its band keys BROADCAST and
    the candidate step is a map-side broadcast-hash-join probe of the
    corpus bands — the corpus never enters a band self-join (which
    would also waste work on corpus-corpus pairs decontamination
    doesn't ask about).  The verify join touches only candidate ids.

    Id spaces: the two sides are fully independent relations — ids
    only need to be unique WITHIN each side.  A corpus doc and a
    benchmark doc that happen to share an id are different documents
    and are compared like any other cross pair (the verify resolves
    doc_a against the corpus signatures and doc_b against the
    benchmark's — `jaccard_verify(signed_b=...)`).
    """
    sha = persist_scoped(
        "minhash_cross_sh_a", shingle_hash_rel(spread(corpus, by="doc_id"))
    )
    shb = persist_scoped("minhash_cross_sh_b", shingle_hash_rel(benchmark))
    siga = minhash_signatures(sha)
    sigb = minhash_signatures(shb)
    ka = band_keys(siga).alias("a")
    kb = band_keys(sigb).alias("b")
    pairs = (
        ka.join(
            F.broadcast(kb),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return jaccard_verify(pairs, sha, threshold, signed_b=shb)


def duplicate_clusters(
    docs: DataFrame, threshold: float = 0.8, max_iterations: int = 20
) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the
    dedup endgame: transitively-linked documents form ONE cluster, so
    a corpus keeps exactly one representative per component (pairwise
    drops alone under-delete chains a~b~c where a≁c).

    Pregel-style iterative min-label propagation: every doc starts
    labeled with itself; each round takes the min of its own and its
    neighbors' labels; converges in O(graph diameter) rounds, which for
    near-dup graphs is tiny (duplicate clusters are dense).  Each round
    is one shuffle (join + min-agg) — the same shape GraphX/GraphFrames
    use — cached under one scoped key, so a round reads the previous
    round's cache and the loop never recomputes history.  A round
    flags the labels it lowered; the convergence check is a driver-side
    probe for any flag on the cached round.  At extreme diameters,
    periodic checkpointing would bound plan growth; `max_iterations`
    bounds it here.

    Deterministic (min over an unordered set), so the DuckDB oracle
    reproduces it with a recursive min-reachability CTE.

    Output: (doc_id, cluster_id = min doc_id in component,
    cluster_size), non-singleton members only, ordered by doc_id.
    """
    pairs = minhash_near_duplicates(docs, threshold).select("doc_a", "doc_b")
    edges = persist_scoped(
        "dedup_cluster_edges",
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ),
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("neighbor_label"))
        )
        labels = persist_scoped(
            "dedup_cluster_labels",
            labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce("neighbor_label", "label"),
                ).alias("label"),
                F.coalesce(
                    F.col("neighbor_label") < F.col("label"), F.lit(False)
                ).alias("lowered"),
            ),
        )
        if labels.where("lowered").limit(1).count() == 0:
            break
    sizes = labels.groupBy("label").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            "doc_id", F.col("label").alias("cluster_id"), "cluster_size"
        )
        .orderBy("doc_id")
    )


def minhash_dedup_drops(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Greedy near-dup dedup decision: drop every doc that has a
    near-duplicate with a smaller doc_id.  Output: (drop_doc_id,
    kept_doc_id = smallest such partner)."""
    pairs = minhash_near_duplicates(docs, threshold)
    return (
        pairs.groupBy(F.col("doc_b").alias("drop_doc_id"))
        .agg(F.min("doc_a").alias("kept_doc_id"))
        .orderBy("drop_doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed int64 in every engine
HAMMING_MAX = 3
N_BLOCKS = HAMMING_MAX + 1  # pigeonhole: ≤3 differing bits ⟹ ≥1 equal block
BLOCK_BITS = SIMHASH_BITS // N_BLOCKS


#: SWAR packing: each 64-bit accumulator sums FIELDS_PER_ACC bit-counts
#: in fields FIELD_BITS apart, so the agg needs SIMHASH_BITS /
#: FIELDS_PER_ACC = 20 sum columns instead of 60.  Field capacity
#: bounds tokens per doc at 2^FIELD_BITS - 1 = 1,048,575 (≈4 MB of
#: text) — beyond that, chunk first (doc_chunking).
FIELD_BITS = 20
FIELDS_PER_ACC = 64 // (FIELD_BITS + 1)  # 3 counters per long
_FIELD_MASK = sum(1 << (FIELD_BITS * k) for k in range(FIELDS_PER_ACC))
_N_ACCS = SIMHASH_BITS // FIELDS_PER_ACC  # 20


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document, portable across engines.

    Token hash = first 15 md5 hex chars (md5 is identical everywhere);
    bit i of the simhash is the sign of sum over tokens of
    (bit i of token hash ? +1 : -1) — equivalently, bit i is set iff
    2 * count(tokens with bit i) >= n_tokens.  Duplicate tokens weight
    the vote, as in the original Charikar construction.

    Shape: explode tokens → hash once per token → ONE hash aggregation
    with 20 SWAR-packed sum columns (each `sum((h >> j) & mask)`
    accumulates 3 branchless bit-counters in 20-bit fields of a single
    long; whole-stage codegen, map-side partials) → unpack + majority
    vote.  Packing cuts the agg width 3× vs one conditional sum per
    bit, which shrinks both the codegen constant and the shuffle rows
    (doc_id + 21 longs).  Callers only use (doc_id, simhash)
    downstream.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("t")
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    acc_sums = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(_FIELD_MASK))).alias(
            f"s{j}"
        )
        for j in range(_N_ACCS)
    ]
    counts = hashed.groupBy("doc_id").agg(
        F.count("*").alias("__n"), *acc_sums
    )
    # unpack + majority vote as ONE compact higher-order expression over
    # the accumulator array instead of a 60-term column tree: runs on
    # post-agg rows only (one per doc), and keeps the Catalyst tree —
    # and therefore plan/codegen time — small (measured ~1.4 s less
    # cold-start than the unrolled form, identical output).
    arr = F.array(*[F.col(f"s{j}") for j in range(_N_ACCS)])
    unpack = f"""
      aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc, b) ->
        acc + CASE WHEN
          (shiftright(__accs[b % {_N_ACCS}],
                      {FIELD_BITS} * CAST(b / {_N_ACCS} AS INT))
             & {(1 << FIELD_BITS) - 1}) * 2 >= __n
        THEN shiftleft(1L, b) ELSE 0L END)
    """
    return counts.withColumn("__accs", arr).select(
        "doc_id", F.expr(unpack).alias("simhash")
    )


def simhash_near_duplicates(
    docs: DataFrame, max_hamming: int = HAMMING_MAX
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Candidates come from a pigeonhole block join (any of 4 15-bit
    blocks equal — a necessary condition for hamming ≤ 3, so no true
    pair is missed); each candidate is verified exactly with
    xor + bit_count.  Output: (doc_a, doc_b, hamming).

    The (doc_id, simhash) relation feeds both sides of the block
    self-join; it is cached (16 bytes/doc) so the hash pass runs
    once.
    """
    hashed = persist_scoped(
        "simhash_hashes",
        with_simhash(spread(docs, by="doc_id")).select("doc_id", "simhash"),
    )
    blocks = hashed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"""
                transform(sequence(0, {N_BLOCKS - 1}),
                  i -> named_struct('blk', i,
                         'bv', shiftright(simhash, i * {BLOCK_BITS})
                               & {(1 << BLOCK_BITS) - 1}))
                """
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.blk", "bk.bv")
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
