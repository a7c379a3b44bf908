"""North-star LLM-training-data queries over `documents` / `embeddings`:
text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
and embedding similarity search — each paired with a DuckDB brute-force
oracle where the semantics are SQL-expressible.

The engine-side implementations use LSH candidate pruning (scalable);
every emitted pair is exact-verified, so outputs match the oracle's
all-pairs scan on deterministic data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import persist_scoped
from ..catalog import load_table
from ..functions.text import (
    STOPWORDS,
    fingerprint,
    language_id,
    quality_score,
    token_count_bpe,
    token_count_ws,
    winnow_fingerprints,
)
from ..operators import dedup, sampling, similarity
from .registry import QuerySpec

#: fixed query vectors for the top-k searches (first five vec_ids)
QUERY_VEC_IDS = [0, 1, 2, 3, 4]
TOPK = 10
COSINE_PAIR_THRESHOLD = 0.45
JACCARD_THRESHOLD = 0.8


# -- text analysis ----------------------------------------------------------

def q_text_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) and content
    fingerprint (md5 of normalized text)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_ws("text").alias("n_tokens_ws"),
        token_count_bpe("text").alias("n_tokens_bpe"),
        fingerprint("text").alias("fp"),
    )


SQL_TEXT_STATS = r"""
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
            AS BIGINT) AS n_tokens_bpe,
       substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
         AS fp
FROM documents
"""


def _sw_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


def q_language_id(spark, sf_dir):
    """Heuristic stopword-ratio language ID vs the labeled lang column."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", language_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


SQL_LANGUAGE_ID = f"""
WITH r AS (
  SELECT doc_id, lang,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('en')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_en,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('fr')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_fr,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('es')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_es,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('de')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_de
  FROM documents)
SELECT lang,
       CASE WHEN r_en > 0 AND r_en >= greatest(r_fr, r_es, r_de) THEN 'en'
            WHEN r_fr > 0 AND r_fr >= greatest(r_es, r_de) THEN 'fr'
            WHEN r_es > 0 AND r_es >= r_de THEN 'es'
            WHEN r_de > 0 THEN 'de'
            ELSE 'und' END AS lang_pred,
       COUNT(*) AS n
FROM r
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_quality_score(spark, sf_dir):
    """Composite quality score (length / word-length / punctuation)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("quality")
    )


SQL_QUALITY_SCORE = """
WITH m AS (
  SELECT doc_id,
         len(str_split(text, ' ')) AS n_tok,
         greatest(len(str_split(text, ' ')), 1) AS n_tok_g,
         list_aggregate(list_transform(str_split(text, ' '),
                                       t -> length(t)), 'sum') AS sum_len,
         (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
           AS n_bad,
         greatest(length(text), 1) AS len_g
  FROM documents)
SELECT doc_id,
       CAST((CASE WHEN n_tok BETWEEN 10 AND 1000 THEN 40
                  WHEN n_tok BETWEEN 3 AND 2000 THEN 20
                  ELSE 0 END)
            + (CASE WHEN sum_len >= 3 * n_tok_g
                     AND sum_len <= 10 * n_tok_g THEN 30 ELSE 10 END)
            + (CASE WHEN 10 * n_bad < len_g THEN 30
                    WHEN 10 * n_bad < 3 * len_g THEN 15
                    ELSE 0 END) AS DOUBLE) / CAST(100 AS DOUBLE) AS quality
FROM m
"""


# -- dedup ------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicate_groups(
        load_table(spark, sf_dir, "documents")
    ).orderBy("keep_doc_id")


SQL_DEDUP_EXACT = r"""
SELECT substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
         AS fp,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_doc_id
"""

#: DuckDB word-3-gram shingle set (list comprehension; <3-word docs
#: fall back to the whole text, matching word_shingles()).
_DUCK_SHINGLES = """
  SELECT doc_id,
         CASE WHEN len(str_split(text, ' ')) >= 3
              THEN list_distinct([
                     str_split(text,' ')[i] || ' ' ||
                     str_split(text,' ')[i+1] || ' ' ||
                     str_split(text,' ')[i+2]
                     for i in range(1, len(str_split(text,' ')) - 1)])
              ELSE [text] END AS sh
  FROM documents
"""


def q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    ).orderBy("doc_a", "doc_b")


SQL_MINHASH_PAIRS = f"""
WITH sh AS ({_DUCK_SHINGLES})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# -- MinHash estimator quality (engine-portable signature) ------------------

_MH_P = 2_147_483_647  # 2^31 - 1: products of two <2^31 values fit in int64
_MH_SEEDS = 64


def _mh_const(tag: str, s: int) -> int:
    import hashlib as _hl

    v = int(_hl.md5(f"{tag}{s}".encode()).hexdigest()[:15], 16) % _MH_P
    return v or 1


_MH_A = [_mh_const("mh-a", s) for s in range(_MH_SEEDS)]
_MH_B = [_mh_const("mh-b", s) for s in range(_MH_SEEDS)]


def q_dedup_minhash_est(spark, sf_dir):
    """MinHash ESTIMATOR quality, fully engine-portable: for every
    exact-near-dup pair, the fraction of agreeing minhash components
    (the estimator a production pipeline trusts instead of exact
    Jaccard) next to the exact Jaccard it estimates.

    The production operator (`dedup_minhash_pairs`) uses xxhash64
    signatures, which DuckDB cannot replay — its oracle checks the
    exact-verified OUTPUT instead.  This query pins the ESTIMATOR
    itself by building the signature from portable primitives: shingle
    base = md5-prefix mod (2^31-1), per-seed hash = (a_s·base + b_s)
    mod (2^31-1) with md5-derived constants — pure int64 arithmetic
    both engines compute bit-identically, so est_j hash-matches.
    est_j = k/64 is an exact binary fraction (no knife edge); exact_j
    is an integer ratio.

    Scale plan: signatures are per-row higher-order expressions over
    the shingle array (no shuffle); the pair set reuses the verified
    near-dup output, so the estimator audit adds one map-side pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", dedup.word_shingles("text").alias("sh")
    )
    bases = F.expr(
        "transform(sh, x -> cast(conv(substring(md5(x), 1, 15), 16, 10)"
        f" as bigint) % {_MH_P})"
    )
    def _seed_min(s: int):
        # single-arg lambda: a two-arg lambda would make transform()
        # bind the array INDEX to the second parameter
        return F.array_min(
            F.transform(
                F.col("bases"),
                lambda h: (h * _MH_A[s] + _MH_B[s]) % _MH_P,
            )
        )

    sig = F.array(*[_seed_min(s) for s in range(_MH_SEEDS)])
    signed = sh.select(
        "doc_id",
        "sh",
        bases.alias("bases"),
    ).select("doc_id", "sh", sig.alias("sig"))

    a = signed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = signed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    exact_j = inter / union.cast("double")
    agree = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .where(exact_j >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(exact_j, 4).alias("exact_j"),
            F.round(agree / F.lit(float(_MH_SEEDS)), 4).alias("est_j"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _sql_dedup_minhash_est() -> str:
    sig_terms = ", ".join(
        f"list_min(list_transform(bases, h -> (h * {_MH_A[s]}"
        f" + {_MH_B[s]}) % {_MH_P}))"
        for s in range(_MH_SEEDS)
    )
    agree_terms = " + ".join(
        f"CASE WHEN a.sig[{s + 1}] = b.sig[{s + 1}] THEN 1 ELSE 0 END"
        for s in range(_MH_SEEDS)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
based AS (
  SELECT doc_id, sh,
         list_transform(sh, x ->
           CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)
             % {_MH_P}) AS bases
  FROM sh),
sigs AS (
  SELECT doc_id, sh, [{sig_terms}] AS sig
  FROM based)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4)
         AS exact_j,
       ROUND(({agree_terms}) / {float(_MH_SEEDS)}, 4) AS est_j
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


SQL_DEDUP_MINHASH_EST = _sql_dedup_minhash_est()


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the near-dup graph (transitive
    closure of `dedup_minhash_pairs`) — iterative min-label
    propagation; the oracle replays it as a recursive
    min-reachability CTE over the brute-force pair set."""
    return dedup.duplicate_clusters(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT l.doc_id, l.cluster_id, c.cluster_size
FROM lab l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM lab GROUP BY cluster_id) c USING (cluster_id)
ORDER BY l.doc_id
"""


def q_minhash_drops(spark, sf_dir):
    return dedup.minhash_dedup_drops(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


SQL_MINHASH_DROPS = f"""
WITH sh AS ({_DUCK_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD})
SELECT doc_b AS drop_doc_id, MIN(doc_a) AS kept_doc_id
FROM pairs
GROUP BY doc_b
ORDER BY drop_doc_id
"""


def q_ngram_jaccard_bruteforce(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard (the non-LSH baseline) — same
    output as the MinHash path, computed without candidate pruning."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", dedup.word_shingles("text").alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def q_char_ngram_pairs(spark, sf_dir):
    """Character 5-gram Jaccard near-dup pairs (the shingle-level
    complement to word 3-grams — robust to tokenization differences).
    Exact all-pairs baseline; the LSH path reuses the same shingles via
    with_minhash_signature on a char-shingle column."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.expr(
            """
            array_distinct(transform(
              sequence(1, greatest(length(text) - 4, 1)),
              i -> substr(text, i, 5)))
            """
        ).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


SQL_CHAR_NGRAM_PAIRS = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([text[i : i + 4]
                        for i in range(1, greatest(length(text) - 4, 1) + 1)])
           AS sh
  FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
ORDER BY doc_a, doc_b
"""


def q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_duplicates(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_a", "doc_b")


SQL_SIMHASH_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
  FROM tok),
bits AS (
  SELECT doc_id, r.range AS b,
         SUM(CASE WHEN (h >> CAST(r.range AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM h, range({dedup.SIMHASH_BITS}) r
  GROUP BY doc_id, r.range),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s >= 0
                       THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


# -- embedding similarity ---------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, TOPK
    )


SQL_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))})),
scored AS (
  SELECT q.qid, e.vec_id,
         ROUND(list_cosine_similarity(q.qvec,
               CAST(e.embedding AS DOUBLE[])), 4) AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
ranked AS (
  SELECT qid, vec_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rk
  FROM scored)
SELECT qid, vec_id, cos_sim, rk
FROM ranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


#: kNN weak-labeling parameters: every 50th vector is "unlabeled",
#: labels come from the 3 nearest labeled neighbors' majority
KNN_QUERY_MOD = 50
KNN_K = 3


def q_emb_knn_label(spark, sf_dir):
    """Weak labeling by retrieval — the kNN classifier over the
    embedding space (Fix & Hodges 1951, the workhorse of
    label-propagation and pseudo-labeling passes): every 50th vector
    plays "unlabeled", gets the majority label of its 3 nearest
    LABELED neighbors by cosine, and is scored against its held-out
    true label.  The output is both the prediction table and the
    audit (accuracy is the aggregate downstream dashboards read).

    Determinism: cosine rounds to 4 dp BEFORE ranking (the
    `emb_cosine_topk` rule), neighbor ties break on vec_id, vote ties
    on the smaller label.

    Scale plan: this is the EXACT kernel — labeled corpus scanned
    once, query side broadcast, per-query top-k via a rank window
    (WindowGroupLimit prunes map-side).  The broadcast query side
    grows with the corpus here (2%), so at lake scale the scorer
    swaps for the BQ-shortlist + rescore path
    (`emb_bq_ivfpq_rerank`) with the vote stage UNCHANGED — this
    query is the correctness baseline that swap is measured against,
    exactly like `emb_cosine_topk` anchors the ANN ladder.
    """
    return _knn_vote(_knn_exact_nn(spark, sf_dir))


def _knn_exact_nn(spark, sf_dir):
    """Exact top-KNN_K labeled neighbors of every unlabeled vector
    (qid, true_label, vec_id, label, cos_sim, rk) — the brute-force
    search stage of `emb_knn_label`, shared with the recall gauge."""
    from pyspark.sql.window import Window

    from ..operators.similarity import _as_double, _dot, _norm

    emb = _as_double(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
    )
    unl = emb.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    lab = emb.where(F.col("vec_id") % KNN_QUERY_MOD != 0)
    scored = (
        lab.crossJoin(F.broadcast(unl))
        .select(
            "qid",
            "true_label",
            "vec_id",
            "label",
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
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= KNN_K
    )


def _knn_vote(nn):
    """Majority vote over a top-KNN_K neighbor relation (qid,
    true_label, label, …) — shared by the exact kernel and the
    BQ-shortlist path so the ANN swap changes ONLY the neighbor
    search, never the labeling semantics.  Vote ties break on the
    smaller label (both engines replay it)."""
    from pyspark.sql.window import Window

    votes = nn.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("n_votes")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .where(F.col("vrk") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("label").alias("pred_label"),
            "true_label",
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("vec_id")
    )


SQL_EMB_KNN_LABEL = f"""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings),
unl AS (
  SELECT vec_id AS qid, label AS true_label, v AS qvec
  FROM emb WHERE vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT u.qid, u.true_label, e.vec_id, e.label,
         ROUND(list_cosine_similarity(u.qvec, e.v), 4) AS cos_sim
  FROM emb e JOIN unl u ON e.vec_id % {KNN_QUERY_MOD} <> 0),
nn AS (
  SELECT qid, true_label, label,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id ASC) AS rk
  FROM scored),
votes AS (
  SELECT qid, true_label, label, COUNT(*) AS n_votes
  FROM nn WHERE rk <= {KNN_K}
  GROUP BY qid, true_label, label),
pick AS (
  SELECT qid, true_label, label,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY n_votes DESC, label ASC) AS vrk
  FROM votes)
SELECT qid AS vec_id, label AS pred_label, true_label,
       label = true_label AS correct
FROM pick WHERE vrk = 1
ORDER BY vec_id
"""


#: Hamming shortlist width for the ANN-swapped kNN labeler — wide
#: enough that the exact top-KNN_K almost always survives the
#: sign-bit pass (gauged by `emb_knn_label_recall`), narrow enough
#: that stage-2 float math is 𝒪(|Q|·shortlist), never the corpus.
#: Measured at sf0.01: width 20 → recall@3 0.73, label agreement
#: 7/10; width 50 → recall@3 0.93, agreement 9/10 — the standard
#: BQ_SHORTLIST width buys the quality at bounded stage-2 cost.
KNN_BQ_SHORTLIST = 50


def _knn_bq_nn(spark, sf_dir):
    """Top-KNN_K labeled neighbors via the two-stage production path:
    binary-quantized Hamming SHORTLIST (packed sign-bit scan of the
    labeled corpus against the broadcast unlabeled set) then exact
    cosine rescore of ONLY the shortlist.  Same output relation as
    `_knn_exact_nn`; integer-exact stage 1 + 4dp-rounded stage 2 with
    vec_id ties keep it oracle-replayable end-to-end."""
    from pyspark.sql.window import Window

    from ..operators.similarity import (
        _as_double,
        _dot,
        _norm,
        bq_pack,
        bq_search,
    )

    emb = _as_double(load_table(spark, sf_dir, "embeddings"))
    lab = emb.where(F.col("vec_id") % KNN_QUERY_MOD != 0)
    unl = emb.where(F.col("vec_id") % KNN_QUERY_MOD == 0)
    packed_q = bq_pack(unl).select(
        F.col("vec_id").alias("qid"), F.col("words").alias("qwords")
    )
    short = bq_search(bq_pack(lab), packed_q, KNN_BQ_SHORTLIST).select(
        "qid", "vec_id"
    )
    lab_vec = lab.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    qvec = unl.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
    )
    rescored = (
        lab_vec.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qvec), "qid")
        .select(
            "qid",
            "true_label",
            "vec_id",
            "label",
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
    return rescored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= KNN_K
    )


def q_emb_knn_label_bq(spark, sf_dir):
    """The lake-scale kNN weak labeler (VERDICT r10 item 3): the
    exact kernel's brute-force search swapped for the BQ-shortlist +
    exact-rescore two-stage path, vote stage UNCHANGED (`_knn_vote`).
    Float math touches |Q|·KNN_BQ_SHORTLIST vectors instead of
    |Q|·corpus; the corpus-wide pass is the packed sign-bit scan
    (ceil(d/63) longs per vector).  `emb_knn_label` is the
    correctness anchor; `emb_knn_label_recall` gauges how often the
    shortlist preserved the exact neighbor set."""
    return _knn_vote(_knn_bq_nn(spark, sf_dir))


def q_emb_knn_label_recall(spark, sf_dir):
    """recall@KNN_K of the BQ-shortlist labeler's neighbor SET
    against the exact kernel's — the quality gauge that makes the
    sign-bit shortcut's risk visible per query (mirrors
    `emb_bq_recall` on the retrieval ladder).  Gauges the neighbor
    sets, not just the final labels: two paths can agree on the vote
    while disagreeing on the neighbors, and the neighbor set is what
    the shortlist actually approximates."""
    exact = _knn_exact_nn(spark, sf_dir).select("qid", "vec_id")
    ann = _knn_bq_nn(spark, sf_dir).select("qid", "vec_id")
    hits = exact.join(ann, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("__n_hits")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("vec_id"),
            F.round(
                F.coalesce(F.col("__n_hits"), F.lit(0)) / F.lit(KNN_K), 4
            ).alias("recall_at_k"),
        )
        .orderBy("vec_id")
    )


#: shared CTEs of the BQ labeler: pack both sides, Hamming-shortlist
#: the labeled corpus per unlabeled query, exact-rescore the
#: shortlist, keep the top KNN_K
_SQL_KNN_BQ_NN_CTES = f"""emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings),
kpacked AS (
  SELECT vec_id, label,
         list_transform(range(0, (len(v) - 1) // 63 + 1),
           w -> list_aggregate(list_transform(range(0, 63),
                  i -> CASE WHEN w * 63 + i < len(v)
                            AND v[w * 63 + i + 1] >= 0
                       THEN (CAST(1 AS BIGINT) << i)
                       ELSE CAST(0 AS BIGINT) END), 'sum')) AS words
  FROM emb),
ham AS (
  SELECT q.vec_id AS qid, q.label AS true_label, c.vec_id, c.label,
         CAST(list_aggregate(list_transform(
                range(1, len(c.words) + 1),
                j -> bit_count(xor(c.words[j], q.words[j]))),
              'sum') AS INTEGER) AS hamming
  FROM kpacked c
  JOIN kpacked q ON q.vec_id % {KNN_QUERY_MOD} = 0
                AND c.vec_id % {KNN_QUERY_MOD} <> 0),
short AS (
  SELECT qid, true_label, vec_id, label
  FROM (SELECT qid, true_label, vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY hamming, vec_id) AS srk
        FROM ham)
  WHERE srk <= {KNN_BQ_SHORTLIST}),
rescored AS (
  SELECT s.qid, s.true_label, s.vec_id, s.label,
         ROUND(list_cosine_similarity(q.v, c.v), 4) AS cos_sim
  FROM short s
  JOIN emb c ON c.vec_id = s.vec_id
  JOIN emb q ON q.vec_id = s.qid),
bqnn AS (
  SELECT qid, true_label, vec_id, label
  FROM (SELECT qid, true_label, vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos_sim DESC, vec_id ASC) AS rk
        FROM rescored)
  WHERE rk <= {KNN_K})"""

SQL_EMB_KNN_LABEL_BQ = f"""
WITH {_SQL_KNN_BQ_NN_CTES},
votes AS (
  SELECT qid, true_label, label, COUNT(*) AS n_votes
  FROM bqnn GROUP BY qid, true_label, label),
pick AS (
  SELECT qid, true_label, label,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY n_votes DESC, label ASC) AS vrk
  FROM votes)
SELECT qid AS vec_id, label AS pred_label, true_label,
       label = true_label AS correct
FROM pick WHERE vrk = 1
ORDER BY vec_id
"""

SQL_EMB_KNN_LABEL_RECALL = f"""
WITH {_SQL_KNN_BQ_NN_CTES},
escored AS (
  SELECT u.vec_id AS qid, c.vec_id,
         ROUND(list_cosine_similarity(u.v, c.v), 4) AS cos_sim
  FROM emb c
  JOIN emb u ON u.vec_id % {KNN_QUERY_MOD} = 0
            AND c.vec_id % {KNN_QUERY_MOD} <> 0),
enn AS (
  SELECT qid, vec_id
  FROM (SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos_sim DESC, vec_id ASC) AS rk
        FROM escored)
  WHERE rk <= {KNN_K}),
hits AS (
  SELECT e.qid, COUNT(*) AS n
  FROM enn e JOIN bqnn a ON e.qid = a.qid AND e.vec_id = a.vec_id
  GROUP BY e.qid)
SELECT q.qid AS vec_id,
       ROUND(COALESCE(h.n, 0) / {KNN_K}.0, 4) AS recall_at_k
FROM (SELECT DISTINCT qid FROM enn) q
LEFT JOIN hits h ON q.qid = h.qid
ORDER BY vec_id
"""


def q_emb_hard_negatives(spark, sf_dir):
    """Contrastive training-pair mining: for each anchor vector, the
    nearest SAME-label neighbor (the positive) and the nearest
    DIFFERENT-label neighbor (the HARD negative — the near-miss that
    teaches a contrastive/embedding model its decision boundary;
    in-batch random negatives are too easy, which is why production
    recipes mine hard ones; Schroff et al. 2015's semi-hard insight).
    Output per anchor: positive id+sim, hard-negative id+sim, and the
    margin between them (negative margin = the anchor's neighborhood
    is dominated by another class — a labeling-error signal too).

    Determinism: the `emb_cosine_topk` rules — cosine rounds to 4 dp
    before ranking, ties break on vec_id.

    Scale plan: the anchor set (the fixed `QUERY_VEC_IDS`) broadcasts
    into ONE corpus scan; per-(anchor, side) top-1 rides a rank
    window filtered to rn=1 (WindowGroupLimit prunes map-side).  At
    mining scale (every vector an anchor) the scorer swaps for the
    BQ-shortlist exactly as `emb_knn_label` documents; the pair
    SELECTION stage is unchanged.
    """
    from pyspark.sql.window import Window

    from ..operators.similarity import _as_double, _dot, _norm

    emb = _as_double(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
    )
    anchors = emb.where(F.col("vec_id").isin(QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (F.col("label") == F.col("q_label")).alias("same"),
            F.round(
                _dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid", "same").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    top1 = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    pos = top1.where(F.col("same")).select(
        "qid",
        F.col("vec_id").alias("pos_id"),
        F.col("cos_sim").alias("pos_sim"),
    )
    neg = top1.where(~F.col("same")).select(
        "qid",
        F.col("vec_id").alias("neg_id"),
        F.col("cos_sim").alias("neg_sim"),
    )
    return (
        pos.join(neg, "qid")
        .selectExpr(
            "qid",
            "pos_id",
            "pos_sim",
            "neg_id",
            "neg_sim",
            "CAST(FLOOR((pos_sim - neg_sim) * 1e6 + 0.5) AS DOUBLE)"
            " / 1e6 AS margin",
        )
        .orderBy("qid")
    )


SQL_EMB_HARD_NEGATIVES = f"""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings),
anchors AS (
  SELECT vec_id AS qid, label AS q_label, v AS qvec
  FROM emb WHERE vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))})),
scored AS (
  SELECT a.qid, e.vec_id, e.label = a.q_label AS same,
         ROUND(list_cosine_similarity(a.qvec, e.v), 4) AS cos_sim
  FROM emb e JOIN anchors a ON e.vec_id <> a.qid),
top1 AS (
  SELECT qid, vec_id, same, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid, same
                            ORDER BY cos_sim DESC, vec_id ASC) AS rk
  FROM scored)
SELECT p.qid, p.vec_id AS pos_id, p.cos_sim AS pos_sim,
       n.vec_id AS neg_id, n.cos_sim AS neg_sim,
       CAST(FLOOR((p.cos_sim - n.cos_sim) * 1e6 + 0.5) AS DOUBLE)
         / 1e6 AS margin
FROM top1 p JOIN top1 n ON p.qid = n.qid
WHERE p.rk = 1 AND p.same AND n.rk = 1 AND NOT n.same
ORDER BY p.qid
"""


def q_cosine_pairs(spark, sf_dir):
    return similarity.cosine_pairs_above(
        load_table(spark, sf_dir, "embeddings"), COSINE_PAIR_THRESHOLD
    )


SQL_COSINE_PAIRS = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      CAST(b.embedding AS DOUBLE[])) >= {COSINE_PAIR_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def q_ann_topk_lsh(spark, sf_dir):
    """Approximate (LSH-bucketed) top-k.  Approximate in RECALL, but
    fully deterministic in RESULT (md5-derived hyperplanes, rounded
    re-rank, vec_id tie-breaks) — so unlike typical ANN it carries a
    full DuckDB oracle that replays the same plane/bucket/re-rank
    pipeline."""
    return similarity.ann_topk_lsh(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, TOPK
    )


# Shared CTE prefix replaying operators/similarity.py's signature
# derivation in DuckDB: md5("t,p,d")-derived hyperplane weights and
# 6-bit sign signatures per (vector, table).
_SQL_LSH_SIG_CTES = f"""plane_w AS (
  SELECT t.range AS t, p.range AS p, d.range AS d,
         CAST(concat('0x', substr(md5(concat(t.range, ',', p.range, ',',
                                             d.range)), 1, 15)) AS BIGINT)
           / 576460752303423488.0 - 1.0 AS w
  FROM range({similarity.N_SIG_TABLES}) t,
       range({similarity.N_PLANES}) p,
       range(64) d),
planes AS (
  SELECT t, p, list(w ORDER BY d) AS pw FROM plane_w GROUP BY t, p),
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
sigs AS (
  SELECT v.vec_id, pl.t,
         CAST(SUM(CASE WHEN list_inner_product(v.e, pl.pw) >= 0
                       THEN (CAST(1 AS BIGINT) << CAST(pl.p AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS sig
  FROM emb v CROSS JOIN planes pl
  GROUP BY v.vec_id, pl.t)"""

# Replays the full LSH top-k pipeline: shared signature CTEs, the same
# bucket equi-join candidate discovery, the same rounded exact re-rank.
SQL_ANN_TOPK_LSH = f"""
WITH {_SQL_LSH_SIG_CTES},
qs AS (
  SELECT vec_id AS qid, t AS qt, sig AS qsig FROM sigs
  WHERE vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))})),
cands AS (
  SELECT DISTINCT q.qid, s.vec_id
  FROM sigs s JOIN qs q
    ON s.t = q.qt AND s.sig = q.qsig AND s.vec_id <> q.qid),
scored AS (
  SELECT c.qid, c.vec_id,
         ROUND(list_cosine_similarity(qe.e, ve.e), 4) AS cos_sim
  FROM cands c
  JOIN emb qe ON qe.vec_id = c.qid
  JOIN emb ve ON ve.vec_id = c.vec_id),
ranked AS (
  SELECT qid, vec_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rk
  FROM scored)
SELECT qid, vec_id, cos_sim, rk
FROM ranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


def q_emb_near_dup_lsh(spark, sf_dir):
    """Embedding near-dup pairs via sign-LSH buckets + exact verify —
    the scale path whose O(n²) baseline is `emb_cosine_pairs`.  The
    oracle replays the identical signature/bucket/verify pipeline."""
    return similarity.near_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), COSINE_PAIR_THRESHOLD
    )


SQL_EMB_NEAR_DUP_LSH = f"""
WITH {_SQL_LSH_SIG_CTES},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
SELECT c.vec_a, c.vec_b,
       ROUND(list_cosine_similarity(ea.e, eb.e), 4) AS cos_sim
FROM cand c
JOIN emb ea ON ea.vec_id = c.vec_a
JOIN emb eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.e, eb.e) >= {COSINE_PAIR_THRESHOLD}
ORDER BY c.vec_a, c.vec_b
"""


def q_ann_topk_ivf(spark, sf_dir):
    """Approximate (IVF inverted-list) top-k — nprobe/n_lists of the
    corpus scanned per query.  Deterministic end-to-end (md5-hash
    centroid sample, rounded argmax assignment, list_id/vec_id
    tie-breaks), so the DuckDB oracle replays it exactly."""
    return similarity.ann_topk_ivf(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, TOPK,
        n_lists=IVF_N_LISTS, nprobe=IVF_NPROBE,
    )


IVF_N_LISTS = 16
IVF_NPROBE = 4

# Replays operators/similarity.py's IVF pipeline: centroids = the
# n_lists vectors with the smallest md5-derived hash60(vec_id);
# assignment = argmax rounded cosine (ties -> lowest list_id); probe
# the nprobe nearest lists per query; rounded exact re-rank inside.
SQL_ANN_TOPK_IVF = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS list_id, e AS cvec
  FROM emb
  ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                AS BIGINT), vec_id
  LIMIT {IVF_N_LISTS}),
assign_ranked AS (
  SELECT v.vec_id, c.list_id,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY ROUND(list_cosine_similarity(v.e, c.cvec), 4) DESC,
                     c.list_id ASC) AS rn
  FROM emb v CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, list_id FROM assign_ranked WHERE rn = 1),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.vec_id AS qid, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ROUND(list_cosine_similarity(q.e, c.cvec), 4) DESC,
                       c.list_id ASC) AS rn
    FROM emb q CROSS JOIN cents c
    WHERE q.vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))}))
  WHERE rn <= {IVF_NPROBE}),
scored AS (
  SELECT p.qid, a.vec_id,
         ROUND(list_cosine_similarity(qe.e, ve.e), 4) AS cos_sim
  FROM assigned a
  JOIN probes p ON a.list_id = p.list_id AND a.vec_id <> p.qid
  JOIN emb qe ON qe.vec_id = p.qid
  JOIN emb ve ON ve.vec_id = a.vec_id),
ranked AS (
  SELECT qid, vec_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rk
  FROM scored)
SELECT qid, vec_id, cos_sim, rk
FROM ranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


def _exact_l2_topk(emb: DataFrame) -> DataFrame:
    """The exact squared-L2 top-k (qid, vec_id) the PQ-family recall
    gauges score against, cached under one scoped key: it feeds both
    the hit join and the qid spine, and without the cache the
    brute-force scoring scan runs twice (~50·|Q| rows of state).  One
    key for the one plan, so the gauges never uncache each other's
    entry."""
    return persist_scoped(
        "l2_topk_exact",
        similarity.l2_topk(emb, QUERY_VEC_IDS, TOPK).select("qid", "vec_id"),
    )


def _recall_gauge(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Shared recall@k gauge: one row per query id with
    ``recall_at_k`` = |ann ∩ exact| / TOPK, 4dp.  ``exact`` and
    ``ann`` are (qid, vec_id) relations of ≤ |Q|·k rows each, so
    every join here is broadcast-sized regardless of corpus size.
    ``exact`` feeds BOTH the hit join and the qid spine — callers
    whose exact side has an expensive lineage persist it first (see
    ``_exact_l2_topk``).  Six gauges share this body: LSH, BQ,
    matryoshka, JL, PQ-ADC, IVFADC."""
    hits = exact.join(ann, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("__n_hits")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.round(
                F.coalesce(F.col("__n_hits"), F.lit(0)) / F.lit(TOPK), 4
            ).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


#: SQL twin of ``_recall_gauge``: the shared recall@k tail.  Assumes
#: the enclosing WITH already defined CTEs ``exact`` and ``ann``,
#: both (qid, vec_id).  Append after a trailing comma.
_SQL_RECALL_TAIL = f"""hits AS (
  SELECT e.qid, COUNT(*) AS n
  FROM exact e JOIN ann a ON e.qid = a.qid AND e.vec_id = a.vec_id
  GROUP BY e.qid)
SELECT q.qid, ROUND(COALESCE(h.n, 0) / {TOPK}.0, 4) AS recall_at_k
FROM (SELECT DISTINCT qid FROM exact) q
LEFT JOIN hits h ON q.qid = h.qid
ORDER BY q.qid
"""


def q_ann_recall(spark, sf_dir):
    """recall@k of the LSH ANN result against the exact top-k — the
    standard quality gauge for an ANN index.  One row per query id with
    `recall_at_k` = |ANN ∩ exact| / k.  Deterministic because both
    sides are (md5 planes, rounded sims, fixed tie-breaks), so the
    DuckDB oracle reproduces the same number."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id"
    )
    ann = similarity.ann_topk_lsh(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id"
    )
    return _recall_gauge(exact, ann)


def q_emb_bq_topk(spark, sf_dir):
    """Binary-quantized (sign-bit) Hamming top-k — the 32x-compression
    first-pass filter modern vector stores run before exact rescoring
    (each 64-dim float32 vector becomes 16 bytes of sign bits; scan
    cost drops to a popcount-of-xor per candidate).  Integer-exact
    distances, vec_id tie-breaks, fully oracle-replayed.  See
    `operators/similarity.bq_pack`/`bq_topk` for the 63-bit word
    layout (no sign-bit divergence) and the scale plan."""
    return similarity.bq_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, TOPK
    )


#: the pack+rank CTEs alone (no `emb`), so compositions that already
#: define `emb` — SQL_EMB_BQ_IVFPQ_RERANK atop _IVFPQ_CTES — can
#: append them without a duplicate-CTE clash
_BQ_PACK_CTES = f"""packed AS (
  SELECT vec_id,
         list_transform(range(0, (len(e) - 1) // 63 + 1),
           w -> list_aggregate(list_transform(range(0, 63),
                  i -> CASE WHEN w * 63 + i < len(e)
                            AND e[w * 63 + i + 1] >= 0
                       THEN (CAST(1 AS BIGINT) << i)
                       ELSE CAST(0 AS BIGINT) END), 'sum')) AS words
  FROM emb),
bq_ranked AS (
  SELECT qid, vec_id, hamming,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY hamming, vec_id) AS INTEGER) AS rk
  FROM (
    SELECT q.vec_id AS qid, v.vec_id,
           CAST(list_aggregate(list_transform(
                  range(1, len(v.words) + 1),
                  j -> bit_count(xor(v.words[j], q.words[j]))),
                'sum') AS INTEGER) AS hamming
    FROM packed v
    JOIN packed q ON q.vec_id IN ({', '.join(map(str, QUERY_VEC_IDS))})
                 AND v.vec_id <> q.vec_id) s)"""

_BQ_PACKED_CTE = f"""
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{_BQ_PACK_CTES}"""

SQL_EMB_BQ_TOPK = f"""
WITH {_BQ_PACKED_CTE}
SELECT qid, vec_id, hamming, rk
FROM bq_ranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


BQ_SHORTLIST = 50


def q_emb_bq_rerank(spark, sf_dir):
    """Two-stage retrieval: BQ Hamming shortlist (top-{BQ_SHORTLIST})
    then exact cosine rerank of only the shortlist — the production
    pattern that buys near-exact recall at a fraction of the float
    scan (stage 2 touches shortlist·|Q| vectors, never the corpus).
    Output matches `emb_cosine_topk`'s schema; the oracle replays
    both stages."""
    return similarity.bq_rerank_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_VEC_IDS,
        TOPK,
        shortlist=BQ_SHORTLIST,
    )


q_emb_bq_rerank.__doc__ = q_emb_bq_rerank.__doc__.replace(
    "{BQ_SHORTLIST}", str(BQ_SHORTLIST)
)

SQL_EMB_BQ_RERANK = f"""
WITH {_BQ_PACKED_CTE},
short AS (
  SELECT qid, vec_id FROM bq_ranked WHERE rk <= {BQ_SHORTLIST}),
rescored AS (
  SELECT s.qid, s.vec_id,
         ROUND(list_cosine_similarity(
               CAST(q.embedding AS DOUBLE[]),
               CAST(e.embedding AS DOUBLE[])), 4) AS cos_sim
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.qid),
reranked AS (
  SELECT qid, vec_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rk
  FROM rescored)
SELECT qid, vec_id, cos_sim, rk
FROM reranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


def q_emb_bq_recall(spark, sf_dir):
    """recall@k of the binary-quantized Hamming ranking against the
    exact cosine top-k — the gauge that makes BQ's scan-bytes-for-
    recall trade visible (sign bits approximate ANGULAR order, so
    exact cosine is the right ground truth)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id"
    )
    ann = similarity.bq_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id"
    )
    return _recall_gauge(exact, ann)


# WITH-in-subquery composition: replays the exact and the LSH pipelines
# (both defined above) and intersects their top-k sets per query.
SQL_ANN_RECALL = f"""
WITH exact AS (SELECT qid, vec_id FROM ({SQL_COSINE_TOPK})),
ann AS (SELECT qid, vec_id FROM ({SQL_ANN_TOPK_LSH})),
{_SQL_RECALL_TAIL}"""

SQL_EMB_BQ_RECALL = f"""
WITH exact AS (SELECT qid, vec_id FROM ({SQL_COSINE_TOPK})),
ann AS (SELECT qid, vec_id FROM ({SQL_EMB_BQ_TOPK})),
{_SQL_RECALL_TAIL}"""


def q_retrieval_eval(spark, sf_dir):
    """Ranking-aware retrieval metrics for the BQ Hamming path
    against the exact cosine top-k: MRR (reciprocal rank of the first
    relevant hit) and binary-gain nDCG@k per query — the evaluation
    pair every retrieval stack reports next to recall (`emb_bq_recall`
    says how much of the relevant set survived; these say WHERE it
    landed, which is what users see).

    Determinism: relevance is set membership in the deterministic
    exact top-k, ranks are `bq_topk`'s integer ranking; MRR/nDCG are
    fixed rational sums over ≤k terms evaluated by identical
    expression text (IDCG is a compile-time constant — the relevant
    set always has k elements), det6-rounded.

    Scale plan: both inputs are the established ≤|Q|·k-row top-k
    relations; everything here is broadcast-sized joins and
    ≤|Q|·k-row aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id", F.lit(1).alias("rel")
    )
    ann = similarity.bq_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id", "rk"
    )
    idcg = sum(1.0 / math.log2(i + 1) for i in range(1, TOPK + 1))
    scored = ann.join(exact, ["qid", "vec_id"], "left").select(
        "qid",
        "rk",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        scored.groupBy("qid")
        .agg(
            F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias(
                "first_hit"
            ),
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    F.lit(1.0) / F.log2(F.col("rk") + 1),
                ).otherwise(F.lit(0.0))
            ).alias("dcg"),
        )
        .selectExpr(
            "qid",
            det6.format(
                x="CASE WHEN first_hit IS NULL THEN 0.0"
                " ELSE 1.0 / first_hit END",
                n="mrr",
            ),
            det6.format(x=f"dcg / {idcg!r}", n="ndcg_at_k"),
        )
        .orderBy("qid")
    )


SQL_RETRIEVAL_EVAL = f"""
WITH exact AS (SELECT qid, vec_id FROM ({SQL_COSINE_TOPK})),
ann AS (SELECT qid, vec_id, rk FROM ({SQL_EMB_BQ_TOPK})),
scored AS (
  SELECT a.qid, a.rk,
         CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM ann a LEFT JOIN exact e
    ON a.qid = e.qid AND a.vec_id = e.vec_id),
per AS (
  SELECT qid,
         MIN(CASE WHEN rel = 1 THEN rk END) AS first_hit,
         SUM(CASE WHEN rel = 1 THEN 1.0 / log2(rk + 1)
                  ELSE 0.0 END) AS dcg
  FROM scored GROUP BY 1)
SELECT qid,
       CAST(FLOOR((CASE WHEN first_hit IS NULL THEN 0.0
                        ELSE 1.0 / first_hit END) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS mrr,
       CAST(FLOOR((dcg / {sum(1.0 / math.log2(i + 1) for i in range(1, TOPK + 1))!r}) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS ndcg_at_k
FROM per
ORDER BY qid
"""


MRL_DIMS = 16


def q_emb_matryoshka_recall(spark, sf_dir):
    """recall@k of matryoshka-TRUNCATED cosine retrieval (first 16 of
    64 dims) against full-dim exact top-k — the quality/cost gauge for
    MRL-style two-stage retrieval, where the truncated pass shortlists
    and full-dim rescoring runs only on the shortlist.  Same
    deterministic construction as `emb_ann_recall` (rounded sims,
    fixed tie-breaks), so DuckDB replays the identical number."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id"
    )
    trunc = similarity.matryoshka_topk(
        emb, QUERY_VEC_IDS, TOPK, MRL_DIMS
    ).select("qid", "vec_id")
    return _recall_gauge(exact, trunc)


SQL_EMB_MATRYOSHKA_RECALL = f"""
WITH exact AS (SELECT qid, vec_id FROM ({SQL_COSINE_TOPK})),
tq AS (
  SELECT vec_id AS qid,
         CAST(embedding[1:{MRL_DIMS}] AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))})),
tscored AS (
  SELECT tq.qid, e.vec_id,
         ROUND(list_cosine_similarity(tq.qvec,
               CAST(e.embedding[1:{MRL_DIMS}] AS DOUBLE[])), 4)
           AS cos_sim
  FROM tq JOIN embeddings e ON e.vec_id <> tq.qid),
ann AS (
  SELECT qid, vec_id
  FROM (SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos_sim DESC, vec_id ASC) AS rk
        FROM tscored)
  WHERE rk <= {TOPK}),
{_SQL_RECALL_TAIL}"""


JL_DIMS = 16


def q_emb_jl_recall(spark, sf_dir):
    """recall@k of Johnson-Lindenstrauss-projected cosine retrieval
    (64 → 16 dims via a deterministic ±1 sign matrix) against full-dim
    exact top-k — the training-free counterpart to
    `emb_matryoshka_recall`: MRL needs the embedding model trained for
    prefix-truncation; JL works on ANY embedding column at the JL
    distortion bound.  Same deterministic construction (rounded sims,
    vec_id tie-breaks), so DuckDB replays the identical number from
    the identical literal matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, QUERY_VEC_IDS, TOPK).select(
        "qid", "vec_id"
    )
    proj = similarity.random_projection_topk(
        emb, QUERY_VEC_IDS, TOPK, JL_DIMS
    ).select("qid", "vec_id")
    return _recall_gauge(exact, proj)


def _sql_emb_jl_recall() -> str:
    rows = similarity.jl_sign_matrix(JL_DIMS, 64)
    r_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(f"{v}.0" for v in row) + "]" for row in rows
        )
        + "]"
    )
    return f"""
WITH exact AS (SELECT qid, vec_id FROM ({SQL_COSINE_TOPK})),
proj AS (
  SELECT vec_id,
         [list_dot_product(CAST(embedding AS DOUBLE[]), r)
          FOR r IN {r_lit}] AS pvec
  FROM embeddings),
pq AS (
  SELECT vec_id AS qid, pvec AS qvec FROM proj
  WHERE vec_id IN ({", ".join(map(str, QUERY_VEC_IDS))})),
pscored AS (
  SELECT pq.qid, p.vec_id,
         ROUND(list_cosine_similarity(pq.qvec, p.pvec), 4) AS cos_sim
  FROM pq JOIN proj p ON p.vec_id <> pq.qid),
ann AS (
  SELECT qid, vec_id
  FROM (SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos_sim DESC, vec_id ASC) AS rk
        FROM pscored)
  WHERE rk <= {TOPK}),
{_SQL_RECALL_TAIL}"""


CHUNK_TOKENS = 50
CHUNK_STRIDE = 25


def q_doc_chunking(spark, sf_dir):
    """Overlapping token-window chunking (size 50, stride 25) — the
    standard pre-tokenization split for LLM training shards.  Pure
    higher-order expressions + posexplode; one output row per chunk
    with its token count and a portable content hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""
                transform(array(split(text, ' ')), toks ->
                  transform(
                    sequence(1, greatest(size(toks) - {CHUNK_STRIDE}, 1),
                             {CHUNK_STRIDE}),
                    i -> concat_ws(' ', slice(toks, i, {CHUNK_TOKENS}))))[0]
                """
            )
        ).alias("chunk_id", "chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.size(F.split("chunk", " ")).cast("bigint").alias("n_tokens"),
        F.substring(F.md5("chunk"), 1, 16).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_id")


SQL_DOC_CHUNKING = f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id,
         generate_subscripts(starts, 1) - 1 AS chunk_id,
         unnest(starts) AS start_i,
         t
  FROM (SELECT doc_id, t,
               range(1, greatest(len(t) - {CHUNK_STRIDE}, 1) + 1,
                     {CHUNK_STRIDE}) AS starts
        FROM toks))
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(len(t[start_i : start_i + {CHUNK_TOKENS} - 1]) AS BIGINT)
         AS n_tokens,
       substr(md5(array_to_string(t[start_i : start_i + {CHUNK_TOKENS} - 1],
                                  ' ')), 1, 16) AS chunk_fp
FROM chunks
ORDER BY doc_id, chunk_id
"""


#: small built-in sentiment lexicon (own word list, AFINN-style
#: integer valences) — deterministic, engine-portable, no model
SENTIMENT_LEXICON: tuple[tuple[str, int], ...] = (
    ("good", 3), ("great", 3), ("excellent", 5), ("happy", 3),
    ("love", 3), ("best", 3), ("nice", 2), ("amazing", 4),
    ("wonderful", 4), ("fantastic", 4), ("win", 2), ("success", 2),
    ("positive", 2), ("fast", 1), ("easy", 1), ("clean", 1),
    ("bad", -3), ("terrible", -5), ("awful", -4), ("sad", -2),
    ("hate", -3), ("worst", -3), ("poor", -2), ("horrible", -4),
    ("fail", -2), ("failure", -2), ("slow", -1), ("hard", -1),
    ("negative", -2), ("broken", -2), ("wrong", -2), ("error", -1),
)


def q_text_sentiment(spark, sf_dir):
    """Lexicon-based sentiment scoring over the corpus — the
    deterministic descendant of the reference's Twitter-KPI domain
    (cf. "Large Scale Sentiment Analysis on Twitter with Spark",
    EDBT 2016, in PAPERS.md): per document, positive/negative lexicon
    hits and a per-token mean valence.  No model, no Python — a
    broadcast lexicon join — so it runs at corpus scale and both
    engines replay it exactly.

    Scale plan: one corpus explode to (doc, token) (map-side), a
    broadcast equi-join against the ≤|lexicon|-row valence table, and
    one per-doc aggregate (the only shuffle).  ``mean_valence`` is an
    exact-integer ratio through one double division; docs with zero
    lexicon hits still appear (left join) with zeros.
    """
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        list(SENTIMENT_LEXICON), "token string, valence int"
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    scored = toks.join(F.broadcast(lex), "token", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(
                F.when(F.col("valence") > 0, 1).otherwise(0)
            ).cast("bigint").alias("pos_hits"),
            F.sum(
                F.when(F.col("valence") < 0, 1).otherwise(0)
            ).cast("bigint").alias("neg_hits"),
            (
                F.sum(F.coalesce(F.col("valence"), F.lit(0))).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("mean_valence"),
        )
        .orderBy("doc_id")
    )


def _sql_text_sentiment() -> str:
    lex_rows = ", ".join(
        f"('{w}', {v})" for w, v in SENTIMENT_LEXICON
    )
    return f"""
WITH lex(token, valence) AS (VALUES {lex_rows}),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents),
tok AS (SELECT * FROM toks WHERE token <> '')
SELECT t.doc_id,
       COUNT(*) AS n_toks,
       CAST(SUM(CASE WHEN l.valence > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS pos_hits,
       CAST(SUM(CASE WHEN l.valence < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS neg_hits,
       CAST(SUM(COALESCE(l.valence, 0)) AS DOUBLE) / COUNT(*)
         AS mean_valence
FROM tok t LEFT JOIN lex l ON t.token = l.token
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


SQL_TEXT_SENTIMENT = _sql_text_sentiment()


DSIR_BUCKETS = 64


def q_dsir_importance(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by its importance weight between a TARGET distribution (here the
    lang='en' slice — the stand-in for "looks like the domain I want
    more of") and the SOURCE distribution (the whole corpus), both
    estimated over hashed unigram buckets.  Per document:
    mean log importance = Σ tf·(ln p_target(b) − ln p_source(b)) / Σ tf
    with Laplace-smoothed bucket probabilities — positive means
    "target-like", the resampling key for mixture re-weighting.

    Scale plan: ONE corpus explode collapses to the (doc, bucket, tf)
    grain (the only corpus-sized shuffle); both distributions come
    from the same ≤``DSIR_BUCKETS``-row aggregate of that relation
    (conditional sums, one pass) and broadcast back; the final per-doc
    aggregate is the second keyed exchange.  Probabilities are
    exact-integer ratios, so both engines feed identical doubles to
    ln() (the unigram_logprob determinism recipe); mean rounded 6 dp.
    """
    return dsir_score(
        dsir_doc_bucket_tf(load_table(spark, sf_dir, "documents"))
    )


def dsir_doc_bucket_tf(docs):
    """(doc_id, lang, bucket, tf) hashed-unigram features — the DSIR
    feature relation.  Shared verbatim by the batch query and the
    streaming twin's per-batch writer (`streaming/curation.py`), so
    the two can't drift."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token"),
    ).where(F.col("token") != "")
    return (
        toks.select(
            "doc_id",
            "lang",
            (sampling._portable_hash(F.col("token"), "ds0") % DSIR_BUCKETS)
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def dsir_score(dbt):
    """Importance scores from the (doc_id, lang, bucket, tf) relation:
    both distributions via one ≤DSIR_BUCKETS-row aggregate, broadcast
    back, per-doc weighted mean with det6 floor-rounding."""
    dist = dbt.groupBy("bucket").agg(
        F.sum("tf").alias("s_cnt"),
        F.sum(F.when(F.col("lang") == "en", F.col("tf")).otherwise(0)).alias(
            "t_cnt"
        ),
    )
    tot = dist.agg(
        F.sum("s_cnt").alias("s_tot"), F.sum("t_cnt").alias("t_tot")
    )
    logw = (
        F.log(
            (F.col("t_cnt") + 1)
            / (F.col("t_tot") + F.lit(DSIR_BUCKETS)).cast("double")
        )
        - F.log(
            (F.col("s_cnt") + 1)
            / (F.col("s_tot") + F.lit(DSIR_BUCKETS)).cast("double")
        )
    )
    bw = dist.crossJoin(F.broadcast(tot)).select(
        "bucket", logw.alias("logw")
    )
    return (
        dbt.join(F.broadcast(bw), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_toks"),
            # det6 floor-rounding, not ROUND(): engine ROUND semantics
            # differ on doubles near half boundaries (stats_agg /
            # corpus_zipf_fit precedent)
            (
                F.floor(
                    F.sum(F.col("tf") * F.col("logw"))
                    / F.sum("tf")
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(1e6)
            ).alias("mean_log_importance"),
        )
        .orderBy("doc_id")
    )


_DUCK_TOKH = (
    "CAST(concat('0x', substr(md5(concat(token, 'ds0')), 1, 15))"
    " AS BIGINT)"
)

SQL_DSIR_IMPORTANCE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
dbt AS (
  SELECT doc_id, lang,
         CAST({_DUCK_TOKH} % {DSIR_BUCKETS} AS INTEGER) AS bucket,
         COUNT(*) AS tf
  FROM toks WHERE token <> ''
  GROUP BY doc_id, lang, bucket),
dist AS (
  SELECT bucket, SUM(tf) AS s_cnt,
         SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS t_cnt
  FROM dbt GROUP BY bucket),
tot AS (SELECT SUM(s_cnt) AS s_tot, SUM(t_cnt) AS t_tot FROM dist),
bw AS (
  SELECT bucket,
         ln((t_cnt + 1) / CAST(t_tot + {DSIR_BUCKETS} AS DOUBLE))
         - ln((s_cnt + 1) / CAST(s_tot + {DSIR_BUCKETS} AS DOUBLE)) AS logw
  FROM dist CROSS JOIN tot)
SELECT d.doc_id,
       CAST(SUM(d.tf) AS BIGINT) AS n_toks,
       CAST(FLOOR(SUM(d.tf * b.logw) / SUM(d.tf) * 1e6 + 0.5) AS DOUBLE)
         / 1e6 AS mean_log_importance
FROM dbt d JOIN bw b ON d.bucket = b.bucket
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


SUB_TOKENS = 20  # window size for substring-level dedup
SUB_ANCHOR_MOD = 10  # expected anchor gap (content-defined chunking)


def q_substring_dedup(spark, sf_dir):
    """Cross-document repeated-substring profile (the Lee et al. 2022
    "Deduplicating Training Data" screen, window-approximated):
    fingerprint 20-token windows starting at CONTENT-DEFINED anchors —
    tokens whose portable hash ≡ 0 (mod 10) — then report, per
    document, how much of it is duplicated SOMEWHERE ELSE in the
    corpus: window count, windows whose fingerprint occurs in >1
    distinct document, and the duplicated fraction.

    Content-defined (not positional) anchors are what make detection
    POSITION-INDEPENDENT: a run shared at *different offsets* in two
    documents still anchors at the same interior tokens, so both emit
    the identical window fingerprint.  (A fixed-stride grid only
    aligns when the offsets are congruent mod the stride — it
    systematically misses ~90% of arbitrarily-placed quotes; caught in
    round-4 review and replaced with this CDC scheme.)  The guarantee
    is probabilistic: a shared run of L distinct tokens is missed with
    probability ≈ 0.9^(L-19) (~4% at L=50, ~0.02% at L=100);
    `doc_winnow` carries the absolute winnowing guarantee at the
    character grain.  Anchors are restricted to positions with a full
    window ahead (no short-window false positives from trailing
    fragments); documents with no eligible anchor fall back to one
    window at position 1, so every doc appears in the profile.
    Complements `dedup_exact` (whole-doc), `line_dedup` (line grain),
    and `doc_repetition` (WITHIN-doc repetition).

    Scale plan: anchor selection and window extraction are map-side
    array expressions (expected |tokens|/10 windows); one fp hash-agg
    counts distinct docs per fingerprint; the join back is a plain fp
    equi-join feeding a per-doc agg — two keyed exchanges total, both
    on bounded-width rows (16-char fp + two longs), never the text.
    dup_frac is an exact-integer ratio cast through one double
    division, so both engines emit identical float64.
    """
    return substring_profile(
        substring_doc_fp_counts(load_table(spark, sf_dir, "documents"))
    )


def substring_doc_fp_counts(docs):
    """(doc_id, fp, cnt) window-fingerprint counts — CDC-anchored
    20-token windows, md5-16 fingerprints, counted per doc.  Shared
    verbatim by the batch query and the streaming twin's per-batch
    writer (`streaming/curation.py`), so the two can't drift."""
    # the anchor filter (an md5 per token) is BOUND once via the
    # array-wrap idiom — inlining it into both arms of the empty-
    # fallback CASE would evaluate it twice per document (Catalyst
    # does not share subexpressions across higher-order functions)
    win = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                transform(array(split(text, ' ')), toks ->
                  transform(array(filter(
                      sequence(1, greatest(size(toks) - {SUB_TOKENS - 1}, 1)),
                      i -> cast(conv(substring(md5(concat(
                             element_at(toks, i), 'sd0')), 1, 15),
                             16, 10) as bigint) % {SUB_ANCHOR_MOD} = 0)),
                    starts -> transform(
                      if(size(starts) = 0, array(1), starts),
                      i -> concat_ws(' ', slice(toks, i, {SUB_TOKENS}))))[0]
                )[0]
                """
            )
        ).alias("chunk"),
    )
    fps = win.select(
        "doc_id", F.substring(F.md5("chunk"), 1, 16).alias("fp")
    )
    return fps.groupBy("doc_id", "fp").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def substring_profile(doc_fp_cnt):
    """Per-doc duplication profile from the (doc_id, fp, cnt) grain:
    cross-doc distinct count per fingerprint, then cnt-weighted sums
    (identical to counting raw window rows — cnt just pre-aggregates
    repeated windows within a doc)."""
    fp_docs = doc_fp_cnt.groupBy("fp").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    return (
        doc_fp_cnt.join(fp_docs, "fp")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("nd") > 1, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            (
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows")
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


SQL_SUBSTRING_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents),
anch AS (
  SELECT doc_id, t,
         list_filter(
           range(1, greatest(len(t) - {SUB_TOKENS - 1}, 1) + 1),
           i -> CAST(concat('0x',
                  substr(md5(concat(t[i], 'sd0')), 1, 15)) AS BIGINT)
                % {SUB_ANCHOR_MOD} = 0) AS starts
  FROM toks),
win AS (
  SELECT doc_id,
         unnest(CASE WHEN len(starts) = 0 THEN [CAST(1 AS BIGINT)]
                     ELSE starts END) AS start_i,
         t
  FROM anch),
fps AS (
  SELECT doc_id,
         substr(md5(array_to_string(
             t[start_i : start_i + {SUB_TOKENS} - 1], ' ')), 1, 16) AS fp
  FROM win),
fp_docs AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM fps GROUP BY fp)
SELECT f.doc_id,
       COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_frac
FROM fps f JOIN fp_docs d ON f.fp = d.fp
GROUP BY f.doc_id
ORDER BY f.doc_id
"""


WINNOW_K = 8  # char k-gram size
WINNOW_W = 4  # winnowing window (guarantee: k+w-1 = 11 shared chars)


def q_doc_winnow(spark, sf_dir):
    """Winnowed rolling-hash document fingerprints — the MOSS-style
    overlap-detection digest.  One row per doc: distinct-fingerprint
    count, minimum, and xor-fold (an order-independent set digest).
    Map-only until the tiny per-doc aggregate; no joins, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id",
        F.explode(
            winnow_fingerprints("text", WINNOW_K, WINNOW_W)
        ).alias("fp"),
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.min("fp").alias("fp_min"),
            F.bit_xor("fp").alias("fp_xor"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_WINNOW = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
  FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN length(s) < {WINNOW_K}
              THEN [CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)]
              ELSE list_transform(range(1, length(s) - {WINNOW_K} + 2),
                     p -> CAST(concat('0x',
                            substr(md5(substr(s, p, {WINNOW_K})), 1, 15))
                          AS BIGINT))
         END AS hs
  FROM norm),
wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {WINNOW_W}
              THEN list_transform(range(1, len(hs) - {WINNOW_W} + 2),
                     j -> list_min(hs[j : j + {WINNOW_W - 1}]))
              ELSE [list_min(hs)]
         END AS ws
  FROM grams),
fps AS (SELECT DISTINCT doc_id, unnest(ws) AS fp FROM wins)
SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS fp_min, bit_xor(fp) AS fp_xor
FROM fps GROUP BY doc_id ORDER BY doc_id
"""


def q_emb_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization (scale + integer digest;
    the quantized array itself is dropped from the checked output —
    scalar-only, per the driver canonicalizer contract)."""
    return (
        similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))
        .drop("q")
        .withColumn("n_dims", F.col("n_dims").cast("bigint"))
        .orderBy("vec_id")
    )


SQL_EMB_QUANTIZE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
s AS (
  SELECT vec_id, emb,
         CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
              THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
         END AS scale
  FROM e),
q AS (
  SELECT vec_id, scale, len(emb) AS n_dims,
         list_transform(emb, x -> CAST(round(x * scale) AS INTEGER)) AS qv
  FROM s)
SELECT vec_id, ROUND(scale, 6) AS scale_q6, n_dims,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       list_aggregate(qv, 'min') AS q_min,
       list_aggregate(qv, 'max') AS q_max
FROM q ORDER BY vec_id
"""


# -- vocabulary / n-gram statistics -----------------------------------------

VOCAB_TOPK = 100


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-k tokens by frequency with deterministic
    tie-break — the seed step of BPE/vocab construction.  explode →
    partial-agg count (map-side combine) → TakeOrderedAndProject; the
    shuffle carries one row per distinct token per partition."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(VOCAB_TOPK)
    )


SQL_VOCAB_TOPK = f"""
SELECT token, COUNT(*) AS n
FROM (
  SELECT unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {VOCAB_TOPK}
"""


def q_ngram_counts(spark, sf_dir):
    """Word-bigram counts (language-model n-gram statistics): same
    shape as vocab_topk but over adjacent token pairs via a
    higher-order transform — no self-join, no Python."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ),
    )
    bigrams = docs.select(
        F.explode(
            F.expr(
                """
                CASE WHEN size(toks) >= 2 THEN
                  transform(sequence(1, size(toks) - 1),
                    i -> concat(toks[i - 1], ' ', toks[i]))
                ELSE array() END
                """
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(VOCAB_TOPK)
    )


SQL_NGRAM_COUNTS = f"""
WITH toks AS (
  SELECT str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents),
bg AS (
  SELECT unnest([t[i] || ' ' || t[i + 1]
                 for i in range(1, len(t))]) AS bigram
  FROM toks WHERE len(t) >= 2)
SELECT bigram, COUNT(*) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT {VOCAB_TOPK}
"""


def q_doc_repetition(spark, sf_dir):
    """Gopher/MassiveText-style repetition quality signals per doc:
    type-token ratio, top-token coverage, duplicate-bigram fraction,
    and a flag combining them with INTEGER-EXACT band predicates
    (`n_distinct*3 < n_tok` etc.) so no float knife edge can diverge
    between engines.

    Scale shape: explode → (doc, token) count → per-doc agg (two
    hash-shuffles on doc-sized relations, map-side partials); bigram
    stats are pure array expressions, no second explode.  The
    per-doc top-frequency CANNOT be a higher-order fold (that would be
    O(n·d) per doc — fatal on 1M-token docs); the explode+agg form is
    the 100-TB path.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "t",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ),
    )
    tok_counts = (
        docs.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    agg = tok_counts.groupBy("doc_id").agg(
        F.sum("count").alias("n_tok"),
        F.count("*").alias("n_distinct"),
        F.max("count").alias("top_n"),
    )
    bg = docs.where(F.size("t") >= 2).select(
        "doc_id",
        F.expr("size(t) - 1").cast("bigint").alias("n_bg"),
        F.expr(
            """size(array_distinct(
                 transform(sequence(1, size(t) - 1),
                   i -> concat(t[i - 1], ' ', t[i]))))"""
        ).cast("bigint").alias("n_bg_d"),
    )
    return (
        agg.join(bg, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            F.round(F.col("n_distinct") / F.col("n_tok"), 4).alias("ttr"),
            F.round(F.col("top_n") / F.col("n_tok"), 4).alias("top_frac"),
            F.round(
                (F.col("n_bg") - F.col("n_bg_d")) / F.col("n_bg"), 4
            ).alias("dup_bigram_frac"),
            (
                (F.col("n_distinct") * 3 < F.col("n_tok"))
                | (F.col("top_n") * 8 > F.col("n_tok"))
                | ((F.col("n_bg") - F.col("n_bg_d")) * 10 > F.col("n_bg"))
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         str_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   ' ') AS t
  FROM documents),
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
         COUNT(*) AS n_distinct, MAX(c) AS top_n
  FROM tc GROUP BY 1),
bg AS (
  SELECT doc_id,
         CAST(len(t) - 1 AS BIGINT) AS n_bg,
         CAST(len(list_distinct([t[i] || ' ' || t[i + 1]
                                 for i in range(1, len(t))])) AS BIGINT)
           AS n_bg_d
  FROM toks WHERE len(t) >= 2)
SELECT doc_id, n_tok,
       ROUND(n_distinct / n_tok, 4) AS ttr,
       ROUND(top_n / n_tok, 4) AS top_frac,
       ROUND((n_bg - n_bg_d) / n_bg, 4) AS dup_bigram_frac,
       (n_distinct * 3 < n_tok OR top_n * 8 > n_tok
        OR (n_bg - n_bg_d) * 10 > n_bg) AS flagged
FROM agg JOIN bg USING (doc_id)
ORDER BY doc_id
"""


# -- deterministic sampling -------------------------------------------------

SAMPLE_RATE_PCT = 5
STRATUM_N = 20
WEIGHTED_K = 100

#: DuckDB twin of sampling._portable_hash(key, 's0')
_DUCK_HASH = (
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 's0')),"
    " 1, 15)) AS BIGINT)"
)


def q_sample_bernoulli(spark, sf_dir):
    """Deterministic hash-Bernoulli sample — reproducible across runs,
    partitionings, and engines, unlike seed-based df.sample()."""
    return sampling.hash_sample(
        load_table(spark, sf_dir, "documents"), "doc_id", SAMPLE_RATE_PCT
    ).select("doc_id", "lang").orderBy("doc_id")


SQL_SAMPLE_BERNOULLI = f"""
SELECT doc_id, lang
FROM documents
WHERE {_DUCK_HASH} % 100 < {SAMPLE_RATE_PCT}
ORDER BY doc_id
"""


_DUCK_HASH_W = (
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'w0')),"
    " 1, 15)) AS BIGINT)"
)


def q_sample_weighted(spark, sf_dir):
    """Deterministic weight-proportional sample (Efraimidis–Spirakis
    A-ES, weight = n_chars): inclusion tracks character mass, so the
    sample follows token volume rather than document count — the
    training-mixture draw.  See ``operators/sampling.py::
    weighted_sample`` for the scale plan (map-only draw key,
    TakeOrderedAndProject top-k)."""
    return (
        sampling.weighted_sample(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "n_chars",
            WEIGHTED_K,
        )
        .select(
            "doc_id",
            "n_chars",
            F.round("__draw", 12).alias("draw_key"),
        )
        .orderBy("doc_id")
    )


SQL_SAMPLE_WEIGHTED = f"""
WITH drawn AS (
  SELECT doc_id, n_chars,
         -ln(({_DUCK_HASH_W} + 1) / 1152921504606846977.0) / n_chars
           AS draw
  FROM documents
  ORDER BY draw ASC, doc_id ASC
  LIMIT {WEIGHTED_K})
SELECT doc_id, n_chars, ROUND(draw, 12) AS draw_key
FROM drawn
ORDER BY doc_id
"""


#: Zipf fits are done on the distribution HEAD (the heavy tail is
#: noise-dominated anyway); bounding the ranked relation at this size
#: is what makes the rank computation corpus-scale-free.
ZIPF_HEAD = 1000


def q_corpus_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus token rank-frequency curve: the
    OLS slope of log(freq) on log(rank) over the top-``ZIPF_HEAD``
    tokens (natural text sits near -1; strong deviations flag
    synthetic or degenerate corpora), plus the full vocabulary size.

    Scale plan: one corpus explode → vocab hash-agg; the head is
    selected by TakeOrderedAndProject (per-partition top-N, merged on
    the driver — never a global sort), so everything downstream is
    bounded at ZIPF_HEAD rows regardless of corpus size.  The rank
    itself is a cumulative count, NOT a partitionBy-less row_number
    (the r03 scale finding: a global window over the vocabulary is a
    single-partition choke at 100 TB): base(freq) = #tokens with
    strictly higher frequency (a broadcast self-join over the ≤|head|
    frequency histogram) + a per-frequency tie-break window
    (partitioned by freq — safe).  log inputs are exact integers so
    both engines regress identical doubles; slope/intercept use the
    floor-based deterministic round (stats_agg precedent — engine
    ROUND() semantics differ on doubles).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token")
    ).where(F.col("token") != "")
    vocab = toks.groupBy("token").agg(F.count("*").alias("freq"))
    head = (
        vocab.orderBy(F.desc("freq"), F.asc("token"))
        .limit(ZIPF_HEAD)
        .localCheckpoint(eager=False)
    )
    hist = head.groupBy("freq").agg(F.count("*").alias("cnt"))
    base = (
        hist.alias("a")
        .join(
            F.broadcast(hist.alias("b")),
            F.col("b.freq") > F.col("a.freq"),
            "left",
        )
        .groupBy(F.col("a.freq").alias("freq"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("base"))
    )
    tie_w = Window.partitionBy("freq").orderBy("token")
    ranked = (
        head.withColumn("tie", F.row_number().over(tie_w))
        .join(base, "freq")
        .select("freq", (F.col("base") + F.col("tie")).alias("rank"))
    )

    def det6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("double") / F.lit(
            1e6
        )

    fit = ranked.agg(
        det6(F.expr("regr_slope(ln(freq), ln(rank))")).alias("zipf_slope"),
        det6(F.expr("regr_intercept(ln(freq), ln(rank))")).alias(
            "zipf_intercept"
        ),
    )
    size = vocab.agg(F.count("*").cast("bigint").alias("vocab_size"))
    return size.crossJoin(fit).select(
        "vocab_size", "zipf_slope", "zipf_intercept"
    )


SQL_CORPUS_ZIPF_FIT = f"""
WITH toks AS (
  SELECT unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
vocab AS (
  SELECT token, COUNT(*) AS freq
  FROM toks WHERE token <> '' GROUP BY token),
head AS (
  SELECT token, freq FROM vocab
  ORDER BY freq DESC, token ASC LIMIT {ZIPF_HEAD}),
hist AS (SELECT freq, COUNT(*) AS cnt FROM head GROUP BY freq),
base AS (
  SELECT a.freq, CAST(COALESCE(SUM(b.cnt), 0) AS BIGINT) AS base
  FROM hist a LEFT JOIN hist b ON b.freq > a.freq
  GROUP BY a.freq),
tie AS (
  SELECT freq,
         ROW_NUMBER() OVER (PARTITION BY freq ORDER BY token) AS tie
  FROM head),
ranked AS (
  SELECT t.freq, b.base + t.tie AS rank
  FROM tie t JOIN base b ON t.freq = b.freq)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM vocab) AS vocab_size,
       CAST(FLOOR(regr_slope(ln(freq), ln(rank)) * 1e6 + 0.5) AS DOUBLE)
         / 1e6 AS zipf_slope,
       CAST(FLOOR(regr_intercept(ln(freq), ln(rank)) * 1e6 + 0.5) AS DOUBLE)
         / 1e6 AS zipf_intercept
FROM ranked
"""


def q_doc_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the gibberish /
    binary-junk screen (natural language sits ~3.5–4.5 bits/char;
    base64 blobs and key-mash float far higher, repeated filler far
    lower).

    Scale plan: explode to (doc, char) is a map-side flatten; one
    (doc, char) hash-agg (≤ alphabet-size groups per doc) then a
    per-doc aggregate of -p·log2(p).  Probabilities are exact-integer
    ratios (char count / doc length), so both engines feed identical
    doubles to log2; entropy rounded to 6 dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "")).alias("ch"),
    ).where(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(
        F.count("*").alias("n")
    )
    with_tot = per_char.withColumn(
        "total", F.sum("n").over(Window.partitionBy("doc_id"))
    )
    p = F.col("n") / F.col("total")
    return (
        with_tot.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_chars_ctd"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(str_split_regex(lower(text), '')) AS ch
  FROM documents),
per_char AS (
  SELECT doc_id, ch, COUNT(*) AS n
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch),
tot AS (
  SELECT doc_id, SUM(n) AS total FROM per_char GROUP BY doc_id)
SELECT p.doc_id,
       CAST(SUM(n) AS BIGINT) AS n_chars_ctd,
       ROUND(-SUM((n / total) * log2(n / total)), 6) AS entropy_bits
FROM per_char p JOIN tot t ON p.doc_id = t.doc_id
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


def q_dedup_prefix(spark, sf_dir):
    """Boilerplate detection: documents sharing an identical 100-char
    prefix (template headers, scraped navigation, licence blocks) —
    the C4-style cheap screen that catches near-dups whole-text
    fingerprints miss.  One hash-agg on the prefix fingerprint, same
    scale shape as dedup_exact."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.substring(F.lower("text"), 1, 100))
    return (
        docs.select("doc_id", fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("prefix_fp")
    )


SQL_DEDUP_PREFIX = """
SELECT md5(substr(lower(text), 1, 100)) AS prefix_fp,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM documents
GROUP BY 1
HAVING COUNT(*) > 1
ORDER BY prefix_fp
"""


_DUCK_HASH_M = (
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'm0')),"
    " 1, 15)) AS BIGINT)"
)


BIGRAM_LAMBDA_NUM = 3  # λ = 3/4: interpolation weight on the bigram term
BIGRAM_LAMBDA_DEN = 4


def q_bigram_logprob(spark, sf_dir):
    """Per-document mean surprisal under an INTERPOLATED bigram
    language model — one rung up from `unigram_logprob` on the
    KenLM-filter ladder: p(w2|w1) = λ·c(w1w2)/c(w1·) + (1-λ)·c(w2)/N
    (Jelinek-Mercer smoothing, λ=3/4), so unseen continuations back
    off to the unigram term instead of -∞.

    Scale plan: the corpus explodes ONCE into a persisted
    (doc, w1, w2, tf) bigram relation feeding the corpus-count
    aggregate AND the scoring join (the unigram_logprob persist
    pattern); the three count relations join back on token keys as
    plain equi-joins — AQE broadcasts them while small, shuffles when
    the vocabulary outgrows the driver.  Every probability is built
    from exact-integer ratios, so both engines feed identical doubles
    to ln(); the per-doc mean rounds at 6 dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    pairs = (
        docs.select("doc_id", arr.alias("a"))
        .where(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("a"), 1, F.size("a") - 1).alias("w1"),
                    F.slice(F.col("a"), 2, F.size("a") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    big_tf = persist_scoped("bigram_big_tf", pairs.groupBy(
        "doc_id", "w1", "w2"
    ).agg(F.count("*").alias("tf")))
    cb = big_tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = cb.groupBy("w1").agg(F.sum("c12").alias("c1"))
    cu = cb.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = cu.agg(F.sum("c2").alias("n_big"))
    lam = F.lit(BIGRAM_LAMBDA_NUM) / F.lit(BIGRAM_LAMBDA_DEN)
    p = lam * (F.col("c12") / F.col("c1")) + (1 - lam) * (
        F.col("c2") / F.col("n_big")
    )
    return (
        big_tf.join(cb, ["w1", "w2"])
        .join(c1, "w1")
        .join(cu, "w2")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("tf") * -F.log(p)) / F.sum("tf"), 6
            ).alias("mean_surprisal"),
        )
        .orderBy("doc_id")
    )


SQL_BIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS a
  FROM documents
  WHERE len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
        'g')), ' ')) >= 2),
pairs AS (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(a))) AS t(i)
  WHERE a[i] <> '' AND a[i + 1] <> ''),
big_tf AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf
  FROM pairs GROUP BY doc_id, w1, w2),
cb AS (SELECT w1, w2, SUM(tf) AS c12 FROM big_tf GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM cb GROUP BY w1),
cu AS (SELECT w2, SUM(c12) AS c2 FROM cb GROUP BY w2),
total AS (SELECT SUM(c2) AS n_big FROM cu)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(SUM(tf * -ln(
           ({BIGRAM_LAMBDA_NUM}.0 / {BIGRAM_LAMBDA_DEN})
             * (c12 / CAST(c1 AS DOUBLE))
           + (1.0 - {BIGRAM_LAMBDA_NUM}.0 / {BIGRAM_LAMBDA_DEN})
             * (c2 / CAST(n_big AS DOUBLE))
         )) / SUM(tf), 6) AS mean_surprisal
FROM big_tf
JOIN cb USING (w1, w2)
JOIN c1 USING (w1)
JOIN cu USING (w2)
CROSS JOIN total
GROUP BY doc_id
ORDER BY doc_id
"""


N_SHARDS = 16


def q_shard_manifest(spark, sf_dir):
    """Training-data WRITER manifest: every kept document assigned a
    deterministic shard (portable hash of doc_id, so the assignment
    reproduces across runs/engines and reshuffles nothing on re-runs),
    then one manifest row per shard: doc count, char volume, and a
    content fingerprint (sum of doc-id hashes — order-independent, so
    it's stable under any partitioning).

    This is the contract between the curation pipeline and the
    trainer: shard sizes must be balanced (hash-uniform), and the
    fingerprint lets the trainer verify it read exactly the shards the
    pipeline wrote.  Scale plan: one map-side hash + one |shards|-key
    hash-agg; the physical write version is
    ``df.repartition(N, shard).write.partitionBy(shard)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        sampling._portable_hash(F.col("doc_id"), "sh0") % N_SHARDS
    ).cast("int")
    return (
        docs.select(
            shard.alias("shard"),
            "n_chars",
            (sampling._portable_hash(F.col("doc_id"), "fp0") % 1_000_000)
            .alias("fp_term"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
            F.sum("fp_term").alias("content_fingerprint"),
        )
        .orderBy("shard")
    )


_DUCK_SH = (
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '{s}')),"
    " 1, 15)) AS BIGINT)"
)

SQL_SHARD_MANIFEST = f"""
SELECT CAST({_DUCK_SH.format(s="sh0")} % {N_SHARDS} AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       CAST(SUM({_DUCK_SH.format(s="fp0")} % 1000000) AS BIGINT)
         AS content_fingerprint
FROM documents
GROUP BY shard
ORDER BY shard
"""


def q_mixture_budget_sample(spark, sf_dir):
    """Budget-constrained mixture construction: fill each source's
    character budget (3000 chars for sources ending 0-4, 1500 for 5-9
    — a stand-in for mixture weights) by admitting documents in
    deterministic hash order until the running total would stay within
    budget.  The step that turns mixture WEIGHTS into an actual
    document list for a training run, reproducible across runs and
    engines.

    Scale plan: one source-partitioned window (running sum in hash
    order — never a global sort) + a map-only budget filter; the same
    shape as pack_sequences, so state per partition is one source's
    docs.
    """
    docs = load_table(spark, sf_dir, "documents")
    budget = F.when(
        F.substring("source", -1, 1).isin("0", "1", "2", "3", "4"),
        F.lit(3000),
    ).otherwise(F.lit(1500))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("m0"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.sum("n_chars").over(w).cast("bigint").alias("cum_chars"),
            budget.alias("budget"),
        )
        .where(F.col("cum_chars") <= F.col("budget"))
        .orderBy("source", "cum_chars", "doc_id")
    )


SQL_MIXTURE_BUDGET_SAMPLE = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(SUM(n_chars) OVER (PARTITION BY source
              ORDER BY {_DUCK_HASH_M} ASC, doc_id ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars,
         CASE WHEN substr(source, -1) IN ('0','1','2','3','4')
              THEN 3000 ELSE 1500 END AS budget
  FROM documents)
SELECT doc_id, source, n_chars, cum_chars, budget
FROM ranked
WHERE cum_chars <= budget
ORDER BY source, cum_chars, doc_id
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic n-per-language sample (training-mix balancing):
    the n smallest key-hashes within each stratum."""
    return sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"), "lang", "doc_id", STRATUM_N
    ).select("doc_id", "lang").orderBy("doc_id")


SQL_SAMPLE_STRATIFIED = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {_DUCK_HASH}, doc_id) AS rk
  FROM documents)
SELECT doc_id, lang FROM ranked WHERE rk <= {STRATUM_N} ORDER BY doc_id
"""


# -- PII detection / redaction ---------------------------------------------

#: the synthetic corpus contains no PII, so the query plants
#: deterministic fake emails/phones keyed on doc_id before detecting —
#: the detection+redaction path is what's under test, and the planted
#: values make the oracle rows non-trivial on both engines.
_EMAIL_RE = r"[a-z0-9.]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\d{3}-\d{4}"


def q_text_pii(spark, sf_dir):
    """PII scrub: count email/phone matches and fingerprint the
    redacted text.  Scale plan: pure per-row regex expressions —
    map-only, whole-stage codegen, no shuffle; at 100 TB this is
    scan-bound, which is the best case."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 3,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.substring(F.md5(redacted), 1, 16).alias("redacted_fp"),
    )


SQL_TEXT_PII = rf"""
WITH aug AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 7 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com now'
           WHEN doc_id % 11 = 3
             THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       substr(md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>',
                  'g'), '{_PHONE_RE}', '<PHONE>', 'g')), 1, 16) AS redacted_fp
FROM aug
"""


# -- benchmark decontamination ----------------------------------------------

#: word-shingle width for contamination matching.  4 is deliberately
#: aggressive for the small-vocabulary synthetic corpus so the query
#: has non-trivial output; real pipelines use 8-13-gram overlap.
_DECON_N = 4


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any
    word-{4}-gram with the held-out benchmark slice (doc_id % 50 = 0).
    Scale plan: shingles are md5-hashed so the join carries 16-byte
    keys, the benchmark side is tiny (2% of docs) and broadcast — the
    probe side is a map-only scan + broadcast-hash-join + hash-agg on
    doc_id; no all-pairs comparison anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    shingled = (
        docs.where(F.size(w) >= _DECON_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - _DECON_N),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(w, i + 1, _DECON_N))
                    ),
                )
            ).alias("h"),
        )
        .distinct()
    )
    bench = shingled.where(F.col("doc_id") % 50 == 0).select(
        F.col("h").alias("bh")
    ).distinct()
    return (
        shingled.where(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), F.col("h") == F.col("bh"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .orderBy("doc_id")
    )


SQL_DECONTAMINATE = f"""
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(w[CAST(i AS INT):CAST(i + {_DECON_N - 1} AS INT)],
             ' ')) AS h
  FROM toks, UNNEST(range(1, len(w) - {_DECON_N - 2})) AS t(i)
  WHERE len(w) >= {_DECON_N})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM (SELECT doc_id, h FROM sh WHERE doc_id % 50 <> 0) probe
JOIN (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0) bench USING (h)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_decontaminate_fuzzy(spark, sf_dir):
    """FUZZY benchmark decontamination: MinHash-LSH near-duplicate
    matches between the training split and the held-out benchmark
    slice (doc_id % 50 = 0), exact-Jaccard verified ≥ 0.8 — the
    companion pass to `decontaminate`'s verbatim n-gram screen that
    catches lightly-edited benchmark copies.  Output (doc_a=train
    doc, doc_b=benchmark doc, jaccard), ordered.

    Scale plan (`operators/dedup.minhash_cross_near_duplicates`): the
    benchmark suite is fixed and tiny next to a 10⁹-doc corpus, so
    its band keys BROADCAST and the candidate step is a map-side
    broadcast-hash-join probe of the corpus bands — no corpus band
    self-join, no corpus-corpus pair work.  Oracle = brute-force
    cross Jaccard (the LSH miss probability at j≥0.8 with 16×4
    banding is ~2e-4, same contract as `dedup_minhash_pairs`)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_cross_near_duplicates(
        docs.where(F.col("doc_id") % 50 != 0),
        docs.where(F.col("doc_id") % 50 == 0),
        JACCARD_THRESHOLD,
    ).orderBy("doc_a", "doc_b")


SQL_DECONTAMINATE_FUZZY = f"""
WITH sh AS ({_DUCK_SHINGLES})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
WHERE len(list_intersect(a.sh, b.sh))
      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# -- sequence packing --------------------------------------------------------

_PACK_BUDGET = 512


def q_pack_sequences(spark, sf_dir):
    """Context-window sequence packing: assign docs (in doc_id order,
    per source) to fixed-token-budget packs by running token count —
    the standard pretraining batch-assembly step.  Scale plan: the
    running-sum window is PARTITIONED by source (never a global
    single-partition sort); one window + one hash-agg."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = docs.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / _PACK_BUDGET
        ),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
        )
        .orderBy("source", "pack_id")
    )


SQL_PACK_SEQUENCES = f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
packed AS (
  SELECT source, n_tok,
         CAST(floor(COALESCE(SUM(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
  FROM sized)
SELECT source, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


# -- survivorship: which doc represents each duplicate cluster ---------------

def q_dedup_survivorship(spark, sf_dir):
    """The curation endgame: for every near-dup cluster, elect the
    canonical survivor — highest quality score, ties to the smallest
    doc_id.  Composes the connected-components clustering with the
    quality scorer; the oracle replays both (recursive min-reachability
    CTE + the band-score SQL) and picks with the same total order.
    Scale plan: clusters output is one row per clustered doc (tiny vs
    corpus); the quality join touches only those docs; the per-cluster
    pick is a WindowGroupLimit-eligible row_number over cluster_id."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.duplicate_clusters(docs, JACCARD_THRESHOLD)
    scored = clusters.join(
        docs.select("doc_id", quality_score("text").alias("q")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "cluster_size",
            F.col("q").alias("quality"),
        )
        .orderBy("cluster_id")
    )


def _sql_dedup_survivorship() -> str:
    # reuse the clustering CTE (strip its trailing SELECT) and the
    # quality-score SQL verbatim so the three queries can never drift
    clusters_body = SQL_DEDUP_CLUSTERS.split("SELECT l.doc_id")[0].rstrip()
    return f"""{clusters_body},
full_lab AS (
  SELECT l.doc_id, l.cluster_id, c.cluster_size
  FROM lab l
  JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
        FROM lab GROUP BY cluster_id) c USING (cluster_id)),
quality AS ({SQL_QUALITY_SCORE}),
ranked AS (
  SELECT f.cluster_id, f.doc_id, f.cluster_size, q.quality,
         ROW_NUMBER() OVER (PARTITION BY f.cluster_id
                            ORDER BY q.quality DESC, f.doc_id ASC) AS rn
  FROM full_lab f JOIN quality q USING (doc_id))
SELECT cluster_id, doc_id AS survivor_doc_id, cluster_size, quality
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


# -- incremental ingest dedup ------------------------------------------------

def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: a new document batch (doc_id%10 ≥ 8
    stands in for today's crawl) is deduped within itself AND against
    the existing corpus before admission — the production shape where
    the corpus is already deduped and only the delta needs checking.
    Scale plan: anti equi-join on the 16-byte content fingerprint
    (shuffles fingerprints, not text), then one hash-agg for the
    within-batch min-doc_id winner.  The corpus side never rewrites."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )
    corpus = docs.where(F.col("doc_id") % 10 < 8).select("fp")
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    return (
        batch.join(corpus, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


SQL_DEDUP_INCREMENTAL = r"""
WITH f AS (
  SELECT doc_id,
         substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
           AS fp
  FROM documents)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fp
FROM f b
WHERE doc_id % 10 >= 8
  AND NOT EXISTS (SELECT 1 FROM f c WHERE c.doc_id % 10 < 8 AND c.fp = b.fp)
GROUP BY fp
ORDER BY doc_id
"""


# -- containment similarity (sub-document duplication) -----------------------

#: drop shingles appearing in more than this many docs before the pair
#: join — the standard boilerplate-suppression cap that bounds the
#: equi-join's fan-out at corpus scale (≤ cap²/2 pairs per shingle, so
#: the knob trades recall on heavily-repeated content for join volume).
#: Applied identically on both engines, so parity is exact on the
#: capped definition.
_CONTAIN_DF_CAP = 20
_CONTAIN_THRESHOLD = 0.5
_CONTAIN_N = 3


def q_dedup_containment(spark, sf_dir):
    """Containment similarity |A∩B| / min(|A|,|B|) over word-3-gram
    sets — catches sub-document duplication (one doc wrapped inside
    another) that symmetric Jaccard under-scores.  Scale plan: shingle
    equi-join with a document-frequency cap so pair fan-out tracks
    genuine shared content, per-doc set sizes computed once and joined
    back; shared/size division is int/int on identical values in both
    engines, so the unrounded threshold filter is deterministic.
    Join keys are the raw 3-word shingles — shorter than any digest at
    this n; production 8-gram+ shingles would xxhash64 to fixed 8-byte
    keys before the join (the minhash operator's trick)."""
    from ..catalog import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    sh = (
        docs.where(F.size(w) >= _CONTAIN_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - _CONTAIN_N),
                    lambda i: F.concat_ws(" ", F.slice(w, i + 1, _CONTAIN_N)),
                )
            ).alias("h"),
        )
        .distinct()
    )
    rare = sh.join(
        sh.groupBy("h").agg(F.count("*").alias("df"))
        .where(F.col("df") <= _CONTAIN_DF_CAP)
        .select("h"),
        "h",
    )
    rare = persist_scoped("containment_rare", rare)
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = rare.alias("a"), rare.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    cont = F.col("shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .where(cont >= _CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.round(cont, 4).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[CAST(i AS INT):CAST(i + {_CONTAIN_N - 1} AS INT)],
             ' ') AS h
  FROM toks, UNNEST(range(1, len(w) - {_CONTAIN_N - 2})) AS t(i)
  WHERE len(w) >= {_CONTAIN_N}),
rare AS (
  SELECT doc_id, h FROM sh
  WHERE h IN (SELECT h FROM sh GROUP BY h
              HAVING COUNT(*) <= {_CONTAIN_DF_CAP})),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
       ROUND(shared / least(sa.sz, sb.sz), 4) AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / least(sa.sz, sb.sz) >= {_CONTAIN_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# -- tokenizer vocabulary coverage (OOV rate) --------------------------------

#: deliberately tiny vocabulary so the OOV signal is non-trivial on the
#: small-vocabulary synthetic corpus; real pipelines use the full
#: learned tokenizer vocab here
_OOV_VOCAB_K = 20


def q_oov_rate(spark, sf_dir):
    """Tokenizer-coverage report: per-document token count and
    out-of-vocabulary count against the corpus top-K vocabulary — the
    two-stage 'learn vocab, then apply it' pipeline.  Scale plan: the
    vocab is an aggregate of the corpus but only K rows survive, so
    stage 2 broadcasts it; the per-doc count is one hash-agg keyed on
    doc_id.  Integer-exact output (counts only, rate = n_oov/n_tok is
    derivable)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = F.explode(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    ).alias("token")
    toks = docs.select("doc_id", tok).where(F.col("token") != "")
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(_OOV_VOCAB_K)
        .select(F.col("token").alias("vtoken"))
    )
    return (
        toks.join(
            F.broadcast(vocab), toks.token == F.col("vtoken"), "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.when(F.col("vtoken").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .orderBy("doc_id")
    )


SQL_OOV_RATE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(str_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                ' ')) AS token
  FROM documents),
clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token FROM clean
  GROUP BY token ORDER BY COUNT(*) DESC, token ASC LIMIT {_OOV_VOCAB_K})
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(CASE WHEN token NOT IN (SELECT token FROM vocab)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM clean
GROUP BY doc_id
ORDER BY doc_id
"""


# -- curation mix report -----------------------------------------------------

def q_curation_report(spark, sf_dir):
    """Data-curation mix report: per (source, lang) cell — document
    count, total characters, and short-document count.  The table a
    pretraining data team reads before setting mixture weights.
    Integer-exact; one hash-agg over a map-only projection."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0))
            .cast("bigint")
            .alias("n_short"),
        )
        .orderBy("source", "lang")
    )


SQL_CURATION_REPORT = """
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_short
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


# -- corpus length histogram -------------------------------------------------

def q_length_histogram(spark, sf_dir):
    """Fixed-width length histogram with a clamped tail bucket —
    integer-exact output (counts and sums only, no float aggregates).
    Scale plan: map-only bucket expression + hash-agg on ≤20 keys."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 200.0), F.lit(19))
    return (
        docs.groupBy((bucket * 200).cast("bigint").alias("bucket_lo"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("bucket_lo")
    )


SQL_LENGTH_HISTOGRAM = """
SELECT CAST(least(floor(n_chars / 200.0), 19) * 200 AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
ORDER BY 1
"""


# -- unigram-LM surprisal scoring --------------------------------------------

def _doc_token_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf) over lower-cased, whitespace-split text,
    cached under one scoped key (unigram_logprob and tfidf_topk both
    read this plan, and one plan must live under one key).  Every
    consumer reads it at least twice, and without the cache Spark
    re-runs the corpus explode per consumer."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token"),
    ).where(F.col("token") != "")
    return persist_scoped(
        "doc_token_tf",
        toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf")),
    )


def q_unigram_logprob(spark, sf_dir):
    """Model-based quality scoring: per-document mean surprisal under
    the corpus's own unigram language model (the cheap ancestor of the
    KenLM/perplexity filters used on web-scale pretraining data — a
    document whose tokens are all corpus-rare scores high).

    Scale plan: the corpus is exploded ONCE into a persisted
    (doc, token, tf) relation that feeds both the vocab aggregate and
    the scoring join (without the persist Spark re-runs the explode
    per consumer); the per-doc mean is the tf-weighted mean
    Σ tf·surprisal / Σ tf — identical to the per-instance average but
    over the collapsed relation.  The vocab relation joins back on the
    token key as a plain equi-join so AQE broadcasts it when small and
    shuffles it when the corpus vocabulary outgrows the driver (at
    100 TB it will).  Probabilities are exact-integer ratios
    (count/total), so both engines feed identical doubles to ln();
    the per-doc mean is rounded to 6 dp.
    """
    tok_tf = _doc_token_tf(load_table(spark, sf_dir, "documents"))
    vocab = tok_tf.groupBy("token").agg(F.sum("tf").alias("ctf"))
    total = vocab.agg(F.sum("ctf").alias("corpus_n"))
    return (
        tok_tf.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_toks"),
            F.round(
                F.sum(
                    F.col("tf")
                    * -F.log(F.col("ctf") / F.col("corpus_n"))
                )
                / F.sum("tf"),
                6,
            ).alias("mean_surprisal"),
        )
        .orderBy("doc_id")
    )


SQL_UNIGRAM_LOGPROB = """
WITH toks AS (
  SELECT doc_id,
         unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
tok AS (SELECT * FROM toks WHERE token <> ''),
vocab AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
total AS (SELECT SUM(tf) AS corpus_n FROM vocab)
SELECT doc_id, COUNT(*) AS n_toks,
       ROUND(AVG(-ln(tf / corpus_n)), 6) AS mean_surprisal
FROM tok JOIN vocab USING (token) CROSS JOIN total
GROUP BY doc_id
ORDER BY doc_id
"""


# -- BPE-style regex pre-tokenizer counts ------------------------------------

#: GPT-2-family pre-tokenizer, restricted to constructs shared by Java
#: regex (Spark) and RE2 (DuckDB): no lookahead, explicit classes, no
#: quote characters (so the pattern embeds in both engines' string
#: literals unescaped).  Alternation order matters and is identical in
#: both engines (leftmost-first): space-prefixed letter run,
#: space-prefixed digit run, space-prefixed punctuation run, whitespace.
_BPE_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s"


def q_bpe_token_count(spark, sf_dir):
    """Token counting with a BPE-ish regex pre-tokenizer (the unit
    LLM data pipelines budget by) next to the whitespace count, plus
    the chars-per-token ratio used to spot tokenizer-hostile content.

    Integer-exact except the final ratio (exact-int division, identical
    cross-engine).  Scale plan: pure map-only projection — regex
    evaluated once per row in codegen, no shuffle, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.expr(f"regexp_extract_all(lower(text), '{_BPE_PATTERN}', 0)")
    )
    n_ws = F.size(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    )
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(F.length("text") / n_bpe, 4).alias("chars_per_token"),
    ).orderBy("doc_id")


SQL_BPE_TOKEN_COUNT = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS n_bpe_tokens,
       len(str_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                     ' ')) AS n_ws_tokens,
       ROUND(length(text)
             / len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')), 4)
         AS chars_per_token
FROM documents
ORDER BY doc_id
"""


# -- per-label embedding centroids -------------------------------------------

def q_emb_centroid(spark, sf_dir):
    """Per-label embedding centroids — the building block of k-means
    refinement, cluster labeling, and class-prototype dedup.  Emitted
    as one row per (label, dim) so the result is scalar-only (the
    driver's canonicalizer hashes scalars, not arrays).

    Scale plan: posexplode is a map-side flatten (64 rows per vector,
    no Python); the agg shuffles on (label, dim) — 10×64 groups — with
    map-side partial means.  float→double widening is exact, so both
    engines average identical doubles; means rounded to 6 dp.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("val"), 6).alias("centroid_val"),
        )
        .orderBy("label", "dim")
    )


SQL_EMB_CENTROID = """
WITH flat AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS val
  FROM embeddings)
SELECT label, dim, COUNT(*) AS n_vecs,
       ROUND(AVG(val), 6) AS centroid_val
FROM flat
GROUP BY label, dim
ORDER BY label, dim
"""


def q_emb_centroid_drift(spark, sf_dir):
    """Embedding-space drift monitor: per label, the cosine between
    the class centroid of corpus half A (even vec_id) and half B
    (odd) plus the squared L2 shift — the embedding counterpart of
    `psi_drift`: a retrained encoder, a crawl-mix change, or label
    noise moves class prototypes long before downstream metrics do,
    and two centroids per class is all it costs to see it.

    Determinism: per-(label, half, dim) means are 6-dp rounded
    BEFORE any cross-half math (the `emb_centroid` convention —
    rounding absorbs float-sum ordering), so the cosine and shift
    are computed from identical doubles in both engines,
    det6-rounded.

    Scale plan: ONE posexplode pass → (label, half, dim) map-side-
    combined hash-agg (|labels|·2·64 groups); everything after runs
    on that bounded relation, self-joined on (label, dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).cast("int").alias("h"),
            F.posexplode("embedding").alias("pos", "val"),
        )
        .groupBy("label", "h", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("val"), 6).alias("m"),
        )
    )
    a = cent.where(F.col("h") == 0).selectExpr(
        "label", "dim", "n AS n_a", "m AS ma"
    )
    b = cent.where(F.col("h") == 1).selectExpr(
        "label", "dim", "n AS n_b", "m AS mb"
    )
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).alias("na2"),
            F.sum(F.col("mb") * F.col("mb")).alias("nb2"),
            F.sum(
                (F.col("ma") - F.col("mb"))
                * (F.col("ma") - F.col("mb"))
            ).alias("l2sq"),
        )
        .selectExpr(
            "label",
            "n_a",
            "n_b",
            det6.format(x="dot / SQRT(na2 * nb2)", n="centroid_cos"),
            det6.format(x="l2sq", n="shift_l2sq"),
        )
        .orderBy("label")
    )


SQL_EMB_CENTROID_DRIFT = """
WITH flat AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS h,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS val
  FROM embeddings),
cent AS (
  SELECT label, h, dim, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(AVG(val), 6) AS m
  FROM flat GROUP BY 1, 2, 3),
joined AS (
  SELECT a.label, a.dim, a.n AS n_a, b.n AS n_b,
         a.m AS ma, b.m AS mb
  FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
  WHERE a.h = 0 AND b.h = 1)
SELECT label,
       CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(FLOOR((SUM(ma * mb)
            / SQRT(SUM(ma * ma) * SUM(mb * mb))) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS centroid_cos,
       CAST(FLOOR((SUM((ma - mb) * (ma - mb))) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS shift_l2sq
FROM joined
GROUP BY 1
ORDER BY label
"""


# -- TF-IDF top terms per document -------------------------------------------

def q_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document — the classic keyword-extraction
    / doc-representation primitive.  idf = ln(N / df) with N and df
    exact integers, tf exact, so the score is a product of
    engine-identical doubles; ties broken lexicographically.

    Scale plan: the tf relation (one row per distinct (doc, token) —
    the collapsed, much-smaller cousin of the raw token stream) is
    PERSISTED because both df and the scoring join consume it; without
    the persist Spark re-runs the corpus explode per consumer.  df
    re-aggregates tf's output; the df relation equi-joins back on
    token (AQE picks broadcast vs shuffle); the per-doc top-3 is
    WindowGroupLimit — map-side limit before the doc_id exchange,
    never a global sort.  The corpus size N enters as a broadcast
    single-row aggregate, NOT a driver-side count() in the build
    path.
    """
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tf = _doc_token_tf(docs)
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "token", "tfidf")
        .orderBy("doc_id", "rnk")
    )


SQL_TFIDF_TOPK = """
WITH toks AS (
  SELECT doc_id,
         unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT doc_id, token,
         ROUND(tf * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                       / df), 6) AS tfidf
  FROM tf JOIN df USING (token)),
ranked AS (
  SELECT doc_id, token, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token ASC) AS rnk
  FROM scored)
SELECT doc_id, rnk, token, tfidf
FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


# -- BM25 retrieval scoring ---------------------------------------------------

#: fixed query terms (high-mid frequency in the synthetic vocab) and
#: the standard Robertson/Sparck-Jones parameters
BM25_TERMS = ("hash", "vector", "stream")
BM25_TOPN = 20


def q_bm25_topk(spark, sf_dir):
    """BM25 document ranking for a fixed term query — the lexical
    retrieval baseline every RAG/search stack starts from (Robertson &
    Zaragoza 2009): score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 −
    b + b·dl/avgdl)) with k1=1.2, b=0.75 and the +1-smoothed idf.
    Complements `tfidf_topk` (per-doc keyword extraction) with the
    query-side ranking direction.

    Determinism: every ln() input is a ratio of exact integers (+0.5
    halves, exact in binary), dl/avgdl is computed as the single
    division (dl·N)/Σdl, and the three per-term scores are summed in
    fixed written order — both engines walk identical doubles; output
    det6 floor-rounded (the dsir recipe).

    Scale plan: ONE corpus explode collapses to a per-doc row (dl +
    one conditional tf per query term — map-side combine, the only
    corpus-sized shuffle); corpus statistics (N, Σdl, per-term df)
    come from a single 1-row aggregate of that relation and broadcast
    back (allowed 1-row BNLJ); the top-N compiles to
    TakeOrderedAndProject, never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = bm25_per_doc(docs)
    stats = bm25_corpus_stats(per_doc)
    return (
        bm25_scored(per_doc, stats)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPN)
    )


def bm25_per_doc(docs):
    """(doc_id, dl, tf0..tfK) — document length + per-query-term tf in
    ONE corpus explode.  Shared by the batch query and the streaming
    relevance screen (`streaming/curation.bm25_screen_writer`)."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token"),
    ).where(F.col("token") != "")
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )


def bm25_corpus_stats(per_doc):
    """1-row (n_docs, sum_dl, df0..dfK) corpus statistics — the
    'model' of BM25; freeze it to score new docs under a fixed
    reference (learn-then-apply)."""
    return per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )


def bm25_scored(per_doc, stats):
    """(doc_id, bm25) under the given stats relation — the shared
    scoring expression (fixed term order, det6 floor)."""
    terms = " + ".join(
        f"(ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * 2.2)"
        f" / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n_docs) / sum_dl)))"
        for i in range(len(BM25_TERMS))
    )
    return per_doc.crossJoin(F.broadcast(stats)).selectExpr(
        "doc_id",
        f"CAST(floor(({terms}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS bm25",
    )


def _sql_bm25_topk() -> str:
    tf_sums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_sums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    terms = " + ".join(
        f"(ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * 2.2)"
        f" / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n_docs) / sum_dl)))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
         {tf_sums}
  FROM toks WHERE token <> '' GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_sums}
  FROM per_doc)
SELECT doc_id,
       FLOOR(({terms}) * 1e6 + 0.5) / 1e6 AS bm25
FROM per_doc, stats
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPN}
"""


SQL_BM25_TOPK = _sql_bm25_topk()


# -- embedding outliers vs label centroid ------------------------------------

def q_emb_outliers(spark, sf_dir):
    """Embeddings farthest from their class centroid (top-5 per label)
    — mislabel/contaminant detection, the vector-space twin of
    iqr_outliers' learn-then-apply shape.  Rank-based rather than
    threshold-based: centroid distances concentrate hard for
    high-dimensional data (relative spread ~ 1/sqrt(dim)), so any
    fixed multiple-of-mean cutoff returns either everything or nothing
    as dim/sf change; a per-label rank is deterministic and
    non-degenerate at every scale.  Centroids are rounded to 6 dp
    BEFORE the distance pass so both engines measure against identical
    prototypes.

    Scale plan: flatten once (map-side posexplode); centroids are
    (n_labels × dim) rows — broadcast back over the flattened scan;
    per-vector squared-distance is one (vec_id)-keyed aggregate; the
    per-label top-5 is WindowGroupLimit (map-side limit before the
    label exchange), never a global sort.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    )
    cent = flat.groupBy(
        F.col("label").alias("c_label"), F.col("pos").alias("c_pos")
    ).agg(F.round(F.avg("val"), 6).alias("c_val"))
    dist = (
        flat.join(
            F.broadcast(cent),
            (F.col("label") == F.col("c_label"))
            & (F.col("pos") == F.col("c_pos")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum(F.pow(F.col("val") - F.col("c_val"), 2))), 6
            ).alias("dist")
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist"), F.asc("vec_id")
    )
    return (
        dist.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("label", "rnk", "vec_id", "dist")
        .orderBy("label", "rnk")
    )


SQL_EMB_OUTLIERS = """
WITH flat AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         unnest(embedding) AS val
  FROM embeddings),
cent AS (
  SELECT label AS c_label, pos AS c_pos, ROUND(AVG(val), 6) AS c_val
  FROM flat GROUP BY label, pos),
dist AS (
  SELECT vec_id, label,
         ROUND(sqrt(SUM((val - c_val) * (val - c_val))), 6) AS dist
  FROM flat JOIN cent ON label = c_label AND pos = c_pos
  GROUP BY vec_id, label),
ranked AS (
  SELECT label, vec_id, dist,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id ASC) AS rnk
  FROM dist)
SELECT label, rnk, vec_id, dist
FROM ranked WHERE rnk <= 5
ORDER BY label, rnk
"""


# -- k-means-refined IVF lists -----------------------------------------------

def q_emb_kmeans_refine(spark, sf_dir):
    """IVF list profile after one Lloyd refinement: per refined list —
    member count and mean cosine to the refined centroid (the cluster
    cohesion a vector-store operator watches).  See
    ``operators/similarity.py::kmeans_refine`` for the scale plan
    (two map-only assignment passes, one (list, dim) hash-agg; no
    embedding shuffles twice).
    """
    best, _ = similarity.kmeans_refine(
        load_table(spark, sf_dir, "embeddings"), IVF_N_LISTS
    )
    return (
        best.groupBy("list_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("cos_sim"), 4).alias("mean_cos"),
        )
        .orderBy("list_id")
    )


SQL_EMB_KMEANS_REFINE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS list_id, e AS cvec
  FROM emb
  ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                AS BIGINT), vec_id
  LIMIT {IVF_N_LISTS}),
assign0 AS (
  SELECT vec_id, list_id FROM (
    SELECT v.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY ROUND(list_cosine_similarity(v.e, c.cvec), 4) DESC,
                       c.list_id ASC) AS rn
    FROM emb v CROSS JOIN cents c)
  WHERE rn = 1),
flat AS (
  SELECT a.list_id,
         unnest(range(1, len(v.e) + 1)) AS pos,
         unnest(v.e) AS val
  FROM emb v JOIN assign0 a ON v.vec_id = a.vec_id),
per_dim AS (
  SELECT list_id, pos, ROUND(AVG(val), 6) AS cval
  FROM flat GROUP BY list_id, pos),
cents1 AS (
  SELECT list_id, list(cval ORDER BY pos) AS cvec
  FROM per_dim GROUP BY list_id),
assign1 AS (
  SELECT vec_id, list_id, s FROM (
    SELECT v.vec_id, c.list_id,
           ROUND(list_cosine_similarity(v.e, c.cvec), 4) AS s,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY ROUND(list_cosine_similarity(v.e, c.cvec), 4) DESC,
                       c.list_id ASC) AS rn
    FROM emb v CROSS JOIN cents1 c)
  WHERE rn = 1)
SELECT list_id, COUNT(*) AS n_vecs, ROUND(AVG(s), 4) AS mean_cos
FROM assign1
GROUP BY list_id
ORDER BY list_id
"""


LINE_SEG_WORDS = 5


def q_line_dedup(spark, sf_dir):
    """Corpus-level exact line dedup (the MassiveText / RefinedWeb
    curation step): every document is segmented into fixed
    5-word lines, any line that already occurred earlier in the corpus
    (by (doc_id, position) order) is dropped, and each document is
    reconstructed from its surviving lines.  Output per doc: segment
    counts and a fingerprint of the cleaned text — the dedup summary a
    curation report consumes.

    Scale plan: segmentation is a map-side higher-order flatten (no
    explode-then-regroup for building segments); first-occurrence is
    ONE window over the segment hash (shuffle carries (seg, doc_id,
    seg_no) — never the full document); reconstruction is one hash-agg
    back on doc_id with an order-preserving array_sort, so no step
    needs a global sort.  At 100 TB both shuffles are plain
    hash-exchanges on high-cardinality keys.

    (Round 15 note: a min-struct-aggregate + hashed-key + shared-
    exchange rewrite of the first-occurrence step was built,
    oracle-verified, and A/B'd — sf10 flat within noise, sf0.1
    ~1.4× SLOWER (two stages + a join where one window sufficed at
    toy scale) — and reverted per the measure-first rule.)
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""
                transform(
                  sequence(0, cast(ceil(size(toks) / {LINE_SEG_WORDS}.0)
                                   as int) - 1),
                  s -> concat_ws(' ',
                         slice(toks, s * {LINE_SEG_WORDS} + 1,
                               {LINE_SEG_WORDS})))
                """
            )
        ).alias("seg_no", "seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_no")
    flagged = segs.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("seg_no", "seg")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_seg"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda c: c["seg"],
                    ),
                )
            ).alias("clean_fp"),
        )
        .orderBy("doc_id")
    )


SQL_LINE_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents),
seg AS (
  SELECT doc_id, pos // {LINE_SEG_WORDS} AS seg_no,
         string_agg(tok, ' ' ORDER BY pos) AS seg
  FROM toks GROUP BY doc_id, pos // {LINE_SEG_WORDS}),
flagged AS (
  SELECT doc_id, seg_no, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no)
           AS rn
  FROM seg)
SELECT doc_id,
       COUNT(*) AS n_seg,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(seg, ' ' ORDER BY seg_no)
                      FILTER (WHERE rn = 1), '')) AS clean_fp
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


#: a 5-word segment is corpus boilerplate once it appears in at least
#: this many DISTINCT documents (nav bars, license footers, cookie
#: banners — the lines CCNet/RefinedWeb strip before quality scoring)
BOILER_MIN_DOCS = 3


def q_doc_boilerplate_ratio(spark, sf_dir):
    """Per-document boilerplate share — the CCNet "fraction of
    duplicated lines" quality signal: segment every document into
    `line_dedup`'s fixed 5-word lines, call a segment boilerplate
    when it occurs in ≥ {BOILER_MIN_DOCS} distinct documents, and
    report each doc's boilerplate-position ratio.  `line_dedup`
    REPAIRS the corpus (drops repeated lines); this one SCORES docs
    by how much of them is template — the filter signal that runs
    before the repair.

    Determinism: all counts are exact integers off the segment
    relation; the ratio is one division, det6.

    Scale plan: the `line_dedup` segmentation (map-side higher-order
    flatten), one hash-agg to (seg → distinct-doc count) — two-phase
    distinct on the segment key the corpus was about to shuffle on
    anyway — one equi-join back on seg, one hash-agg to doc grain.
    No window at all (first-occurrence order is irrelevant here).

    Round 15 (VERDICT r14 item 4, guide §2.3): the segment key through
    every exchange/join is ``xxhash64(seg)`` — 8 bytes instead of the
    ~30-byte 5-word line (distinct lines hash distinct up to 64-bit
    collisions, oracle-verified exact on the fixtures) — and the
    segment relation is repartitioned ONCE on that key so the
    distinct-doc count, its two aggregate levels, and the equi-join
    back all ride a single shared exchange (hash-partitioning subset
    rule + ReusedExchange) instead of re-deriving the corpus explode
    per consumer."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    segs = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""
                transform(
                  sequence(0, cast(ceil(size(toks) / {LINE_SEG_WORDS}.0)
                                   as int) - 1),
                  s -> concat_ws(' ',
                         slice(toks, s * {LINE_SEG_WORDS} + 1,
                               {LINE_SEG_WORDS})))
                """
                )
            ).alias("seg_text"),
        )
        .select("doc_id", F.xxhash64("seg_text").alias("seg"))
        .repartition(F.col("seg"))
    )
    seg_docs = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").cast("bigint").alias("nd")
    )
    return (
        segs.join(seg_docs, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seg"),
            F.sum(
                F.when(F.col("nd") >= BOILER_MIN_DOCS, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_boiler"),
        )
        .selectExpr(
            "doc_id",
            "n_seg",
            "n_boiler",
            "CAST(FLOOR(CAST(n_boiler AS DOUBLE)"
            " / CAST(n_seg AS DOUBLE) * 1e6 + 0.5) AS DOUBLE) / 1e6"
            " AS boiler_ratio",
        )
        .orderBy("doc_id")
    )


q_doc_boilerplate_ratio.__doc__ = q_doc_boilerplate_ratio.__doc__.replace(
    "{BOILER_MIN_DOCS}", str(BOILER_MIN_DOCS)
)

SQL_DOC_BOILERPLATE_RATIO = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents),
seg AS (
  SELECT doc_id, pos // {LINE_SEG_WORDS} AS seg_no,
         string_agg(tok, ' ' ORDER BY pos) AS seg
  FROM toks GROUP BY doc_id, pos // {LINE_SEG_WORDS}),
seg_docs AS (
  SELECT seg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
  FROM seg GROUP BY 1)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_seg,
       CAST(SUM(CASE WHEN d.nd >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler,
       CAST(FLOOR(CAST(SUM(CASE WHEN d.nd >= {BOILER_MIN_DOCS}
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS boiler_ratio
FROM seg s JOIN seg_docs d USING (seg)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


#: the (rows-per-band, bands) grid the planner scores — every way to
#: spend a 64-hash MinHash signature
_LSH_CONFIGS = ((1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2))


#: sub-threshold pair-mass sampling: the SAMPLED-DOC COUNT is held
#: ~constant at _LSH_LOW_SAMPLE_DOCS by deriving the stride from the
#: corpus size — mod = max(1, n_docs // _LSH_LOW_SAMPLE_DOCS), keep
#: docs with doc_id % mod == 0 and scale pair counts by mod² (a
#: ~constant-size sample of pairs, NOT a fixed fraction, so the
#: sub-threshold scan does constant work at any corpus scale).  The
#: ABOVE-threshold mass never samples — it comes complete from the
#: banded path.  625 = the sf0.1 calibration point (5,000 docs / 8).
_LSH_LOW_SAMPLE_DOCS = 625


def _lsh_low_mod(n_docs: int) -> int:
    """Stride for the sub-threshold doc sample; GREATEST(1, n//625)
    mirrored verbatim by the oracle's `nd` CTE so both engines pick
    the identical sample from the identical COUNT(*)."""
    return max(1, n_docs // _LSH_LOW_SAMPLE_DOCS)


def q_lsh_band_planner(spark, sf_dir):
    """LSH banding planner — `choose_join_strategy`'s sibling for the
    near-dup family: before a 100 TB MinHash run commits to a
    (rows-per-band r, bands b) split of its 64 hashes, score every
    split against the corpus's MEASURED pair-similarity distribution.
    Per config: the S-curve midpoint s50 = (1 − 0.5^(1/b))^(1/r)
    (where a pair's candidate probability crosses 50%), the expected
    recall of true near-dups (s ≥ threshold), and the expected
    false-candidate volume from sub-threshold mass — the recall /
    wasted-verify-work trade the banding decision IS.

    The two histogram halves have different completeness contracts,
    matching what each estimate needs: the ABOVE-threshold half is
    the exact-verified banded pair set, COMPLETE by the
    `dedup_minhash_pairs` contract, so expected recall is computed
    over every true near-dup; the SUB-threshold half — which banding
    by construction never materializes and an all-pairs scan cannot
    afford (the first cut of this query ran the full O(n²) histogram
    and measured 352 s at sf0.1 ALONE) — is a deterministic
    CONSTANT-SIZE doc sample: stride mod = max(1, n_docs // 625)
    keeps ~625 docs (doc_id % mod == 0) whatever the corpus size,
    pair counts scaled ×mod², so expected false candidates is an
    unbiased estimate off a bounded ~195k-pair scan at ANY scale
    (the r12 fixed 1/64 FRACTION grew quadratically; VERDICT r12
    item 1 made the sampled-doc count the invariant instead).

    Determinism: both halves are exact integer counts over 4-dp
    jaccards (integer-floor bins) on a stride predicate derived from
    the corpus COUNT(*) — one parquet-footer count() job, no data
    scan — mirrored by the oracle's `nd` CTE so both engines pick
    the identical sample; P(s) = 1 − (1 − s^r)^b (s clamped to 1.0
    at the exact-dup bin midpoint) and the ≤51-term probability
    folds are the documented small-double-sums, det6.

    Scale plan: banded equi-join for the top half; the bottom half
    is the documented-quadratic shape at CONSTANT sampled volume —
    ~625²/2 pairs regardless of corpus size; the planner MATH runs
    on the ≤51-row histogram × the 6-row config grid (KB-sized
    broadcast cross).

    Measured (bench_one, min-of-2, idle): sf0.1 19.2 s (vs the
    all-pairs first cut's 352 s) with the sampled scan as the cost;
    the constant-count sample pins that cost flat across decades
    (SCALING.md round-13 curve)."""
    docs = load_table(spark, sf_dir, "documents")
    mod = _lsh_low_mod(docs.count())
    hist_top = (
        dedup.minhash_near_duplicates(docs, JACCARD_THRESHOLD)
        .select((F.floor(F.col("jaccard") * 50) / 50).alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    sh = docs.where(F.col("doc_id") % mod == 0).select(
        "doc_id", dedup.word_shingles("text").alias("sh")
    )
    # the ~625-doc sample arrives in however few file-splits the scan
    # produced (ONE at sf0.1 → a 1-task verify); repartition the
    # streamed side (a ~KB-sized shuffle) so the quadratic verify
    # fans out over every core, and broadcast the other side so the
    # theta-join is a BNLJ against the bounded sample, never a
    # corpus exchange
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = sh.repartition(n_part).select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")
    )
    b = F.broadcast(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    )
    hist_low = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            F.round(
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb")).cast("double"),
                4,
            ).alias("j")
        )
        .where(F.col("j") < JACCARD_THRESHOLD)
        .select((F.floor(F.col("j") * 50) / 50).alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(
            (F.count(F.lit(1)) * (mod * mod))
            .cast("bigint")
            .alias("n")
        )
    )
    hist = hist_top.unionAll(hist_low)
    cfg = (
        load_table(spark, sf_dir, "region")
        .limit(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"), F.lit(b_).alias("b")
                        )
                        for r, b_ in _LSH_CONFIGS
                    ]
                )
            ).alias("c")
        )
        .select("c.r", "c.b")
    )
    # bin midpoint clamped to 1.0 so the exact-duplicate bin
    # (bin_lo = 1.0) evaluates the S-curve at s = 1.0 (P = 1), not
    # the out-of-domain 1.01 (ADVICE r12)
    p = "(1.0 - POW(1.0 - POW(LEAST(bin_lo + 0.01, 1.0), r), b))"
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        hist.crossJoin(F.broadcast(cfg))
        .groupBy("r", "b")
        .agg(
            F.expr(
                f"SUM(CASE WHEN bin_lo >= {JACCARD_THRESHOLD}"
                f" THEN n * {p} ELSE 0.0 END)"
            ).alias("rec_num"),
            F.expr(
                f"SUM(CASE WHEN bin_lo >= {JACCARD_THRESHOLD}"
                " THEN CAST(n AS DOUBLE) ELSE 0.0 END)"
            ).alias("rec_den"),
            F.expr(
                f"SUM(CASE WHEN bin_lo < {JACCARD_THRESHOLD}"
                f" THEN n * {p} ELSE 0.0 END)"
            ).alias("fp_pairs"),
        )
        .selectExpr(
            "CAST(r AS INT) AS rows_per_band",
            "CAST(b AS INT) AS n_bands",
            det6.format(
                x="POW(1.0 - POW(0.5, 1.0 / b), 1.0 / r)", n="s50"
            ),
            det6.format(x="rec_num / rec_den", n="exp_recall"),
            det6.format(x="fp_pairs", n="exp_false_candidates"),
        )
        .orderBy("rows_per_band")
    )


def _sql_lsh_band_planner() -> str:
    # bin midpoint clamped to 1.0 so the exact-duplicate bin
    # (bin_lo = 1.0) evaluates the S-curve at s = 1.0 (P = 1), not
    # the out-of-domain 1.01 (ADVICE r12)
    p = "(1.0 - POW(1.0 - POW(LEAST(bin_lo + 0.01, 1.0), r), b))"
    vals = ", ".join(f"({r}, {b})" for r, b in _LSH_CONFIGS)
    return f"""
WITH sh_all AS ({_DUCK_SHINGLES}),
hist_top AS (
  SELECT FLOOR(j * 50) / 50 AS bin_lo, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT ROUND(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4)
             AS j
    FROM sh_all a JOIN sh_all b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
          / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
          >= {JACCARD_THRESHOLD})
  GROUP BY 1),
nd AS (
  SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / {_LSH_LOW_SAMPLE_DOCS}.0)
                          AS BIGINT)) AS m
  FROM documents),
sh AS (SELECT s.* FROM sh_all s, nd WHERE s.doc_id % nd.m = 0),
hist_low AS (
  SELECT FLOOR(j * 50) / 50 AS bin_lo,
         CAST(COUNT(*) * (SELECT m * m FROM nd) AS BIGINT) AS n
  FROM (
    SELECT ROUND(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4)
             AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
  WHERE j < {JACCARD_THRESHOLD}
  GROUP BY 1),
hist AS (SELECT * FROM hist_top UNION ALL SELECT * FROM hist_low),
cfg (r, b) AS (VALUES {vals}),
folded AS (
  SELECT r, b,
         SUM(CASE WHEN bin_lo >= {JACCARD_THRESHOLD}
             THEN n * {p} ELSE 0.0 END) AS rec_num,
         SUM(CASE WHEN bin_lo >= {JACCARD_THRESHOLD}
             THEN CAST(n AS DOUBLE) ELSE 0.0 END) AS rec_den,
         SUM(CASE WHEN bin_lo < {JACCARD_THRESHOLD}
             THEN n * {p} ELSE 0.0 END) AS fp_pairs
  FROM hist CROSS JOIN cfg
  GROUP BY 1, 2)
SELECT CAST(r AS INT) AS rows_per_band,
       CAST(b AS INT) AS n_bands,
       CAST(FLOOR(POW(1.0 - POW(0.5, 1.0 / b), 1.0 / r) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS s50,
       CAST(FLOOR(rec_num / rec_den * 1e6 + 0.5) AS DOUBLE) / 1e6
         AS exp_recall,
       CAST(FLOOR(fp_pairs * 1e6 + 0.5) AS DOUBLE) / 1e6
         AS exp_false_candidates
FROM folded
ORDER BY rows_per_band
"""


SQL_LSH_BAND_PLANNER = _sql_lsh_band_planner()


def q_emb_cosine_sim_histogram(spark, sf_dir):
    """Verified-cosine distribution of the sign-LSH near-dup
    candidates in 0.02 bins — `neardup_jaccard_histogram`'s twin on
    the embedding side: the tuning view for picking
    `emb_semantic_dedup`'s threshold (how much pair mass sits just
    above the cut?).  Bins floor the 4-dp-rounded cosine (exact
    integer arithmetic), so binning is engine-deterministic; the
    candidate set is the banded scale path, never the O(n²) pair
    scan."""
    pairs = similarity.near_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), COSINE_PAIR_THRESHOLD
    )
    return (
        pairs.select(
            (F.floor(F.col("cos_sim") * 50) / 50).alias("bin_lo")
        )
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("bin_lo")
    )


SQL_EMB_COSINE_SIM_HISTOGRAM = f"""
SELECT FLOOR(cos_sim * 50) / 50 AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM ({SQL_EMB_NEAR_DUP_LSH})
GROUP BY 1
ORDER BY bin_lo
"""


#: mixture temperature (Pile / mT5 convention): α < 1 upsamples the
#: tail sources, α = 1 is proportional, α → 0 is uniform
MIX_ALPHA = 0.3
#: token budget the epochs column is quoted against: 2× the corpus
MIX_BUDGET_MULT = 2


def q_mixture_temperature_weights(spark, sf_dir):
    """Temperature-based mixture weights per source (the mT5 / Pile
    sampling rule): w_i ∝ p_i^α with p_i the source's token share —
    the table a training-data pipeline derives BEFORE
    `mixture_budget_sample` draws to it.  Also quotes each source's
    effective epochs at a {MIX_BUDGET_MULT}×-corpus token budget:
    epochs > 1 means the temperature upsampling repeats that source.

    Determinism: token counts are exact integers; N cancels in the
    normalization (w_i = n_i^α / Σ n_j^α), so the only float fold is
    the ≤|sources|-term Σ n_j^α (the documented small-double-sum);
    weights and epochs are then one expression program, det6.

    Scale plan: one map-side token count + hash-agg to |sources|
    rows; the 1-row (N, Σn^α) total broadcasts back (the Q11
    uncorrelated-scalar cross)."""
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.select(
            "source", F.size(F.split("text", " ")).alias("tok")
        )
        .groupBy("source")
        .agg(F.sum("tok").cast("bigint").alias("n_i"))
    )
    tot = src.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum(
            F.pow(F.col("n_i").cast("double"), F.lit(MIX_ALPHA))
        ).alias("z"),
    )
    return (
        src.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_i AS n_tokens",
            "CAST(1000000 * n_i DIV n AS BIGINT) AS raw_share_ppm",
            f"CAST(FLOOR(POW(CAST(n_i AS DOUBLE), {MIX_ALPHA}) / z"
            " * 1e6 + 0.5) AS DOUBLE) / 1e6 AS temp_weight",
            f"CAST(FLOOR(POW(CAST(n_i AS DOUBLE), {MIX_ALPHA}) / z"
            f" * {MIX_BUDGET_MULT}.0 * CAST(n AS DOUBLE)"
            " / CAST(n_i AS DOUBLE) * 1e6 + 0.5) AS DOUBLE) / 1e6"
            " AS eff_epochs",
        )
        .orderBy("source")
    )


q_mixture_temperature_weights.__doc__ = (
    q_mixture_temperature_weights.__doc__.replace(
        "{MIX_BUDGET_MULT}", str(MIX_BUDGET_MULT)
    )
)

SQL_MIXTURE_TEMPERATURE_WEIGHTS = f"""
WITH src AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_i
  FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         SUM(POW(CAST(n_i AS DOUBLE), {MIX_ALPHA})) AS z
  FROM src)
SELECT source,
       n_i AS n_tokens,
       CAST(1000000 * n_i // n AS BIGINT) AS raw_share_ppm,
       CAST(FLOOR(POW(CAST(n_i AS DOUBLE), {MIX_ALPHA}) / z
            * 1e6 + 0.5) AS DOUBLE) / 1e6 AS temp_weight,
       CAST(FLOOR(POW(CAST(n_i AS DOUBLE), {MIX_ALPHA}) / z
            * {MIX_BUDGET_MULT}.0 * CAST(n AS DOUBLE)
            / CAST(n_i AS DOUBLE) * 1e6 + 0.5) AS DOUBLE) / 1e6
         AS eff_epochs
FROM src CROSS JOIN tot
ORDER BY source
"""


#: edit-verify parameters: candidates are the exact-verified near-dup
#: pairs; the edit check runs on a fixed 240-char prefix (bounded
#: O(L²) per pair) and confirms at ≥0.8 similarity
EDIT_PREFIX_CHARS = 240
EDIT_SIM_MIN = 0.8
#: zero-recall-loss length screen (VERDICT r12 item 4): lev(a, b) ≥
#: |len(a) − len(b)|, and confirmation needs lev ≤ (1 − SIM_MIN) ·
#: max(len) ≤ 48, so a prefix-length gap > 48 proves the pair cannot
#: confirm — the DP is skipped (lazy CASE) and the pair ships with
#: NULL lev/sim, confirmed = false.  Identical CASE in the oracle.
EDIT_LEN_SCREEN = EDIT_PREFIX_CHARS - int(EDIT_SIM_MIN * EDIT_PREFIX_CHARS)


def q_neardup_edit_verify(spark, sf_dir):
    """Edit-distance verification of the near-dup candidates — the
    second opinion a production dedup runs before destructive drops:
    set-based Jaccard is order-blind (a shuffled doc scores 1.0), so
    each `dedup_minhash_pairs` pair is re-scored with ORDER-AWARE
    Levenshtein similarity on a fixed {EDIT_PREFIX_CHARS}-char prefix,
    1 − lev/max(len), and flagged confirmed at ≥ {EDIT_SIM_MIN}.

    Determinism: Levenshtein is an exact integer in both engines on
    identical prefixes; the similarity is one division, det6.
    Pairs whose prefix-length gap exceeds {EDIT_LEN_SCREEN} are
    provably unconfirmable (lev ≥ |Δlen| > (1−sim_min)·max_len) —
    the DP is skipped via a lazy CASE and they ship NULL lev/sim,
    confirmed = false; the oracle runs the identical CASE, so the
    screen is exact at zero recall loss.

    Scale plan: the candidate relation is the banded-join output
    (bounded by true near-dup volume, never n²); prefixes arrive by
    two equi-joins of the pair list against the corpus projection
    (240 bytes per doc, column-pruned off the scan); the DP is
    O(prefix²) per PAIR, independent of document length, and
    length-screened pairs never enter it.

    Measured (bench_one, fresh JVM, min-of-3, GC-each): sf1 3.29 s /
    sf10 20.9 s — 6.3×/decade.  Candidate pair counts measured
    round 13: 2,560 at sf1 → 25,600 at sf10, exactly 10×/decade
    (linear in corpus — gen_scale replicates the dup structure), so
    the time growth is PURELY candidate volume and sub-linear in it;
    at 25,600 pairs the whole DP set costs ~1.5 s.  On this corpus
    the screen fires on 0 pairs (near-dups have near-equal prefix
    lengths) — it exists for the adversarial corpus where it is the
    difference between paying and not paying the DP."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, JACCARD_THRESHOLD)
    px = docs.select(
        "doc_id",
        F.substring("text", 1, EDIT_PREFIX_CHARS).alias("px"),
    )
    return (
        pairs.join(
            px.select(
                F.col("doc_id").alias("doc_a"), F.col("px").alias("pa")
            ),
            "doc_a",
        )
        .join(
            px.select(
                F.col("doc_id").alias("doc_b"), F.col("px").alias("pb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.expr(
                f"CASE WHEN ABS(length(pa) - length(pb))"
                f" > {EDIT_LEN_SCREEN} THEN NULL"
                " ELSE CAST(levenshtein(pa, pb) AS BIGINT) END"
            ).alias("lev_dist"),
            F.expr(
                f"CASE WHEN ABS(length(pa) - length(pb))"
                f" > {EDIT_LEN_SCREEN} THEN NULL"
                " ELSE CAST(FLOOR((1.0 - CAST(levenshtein(pa, pb)"
                " AS DOUBLE) / CAST(GREATEST(length(pa), length(pb),"
                " 1) AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END"
            ).alias("edit_sim"),
        )
        .withColumn(
            "confirmed",
            F.coalesce(
                F.col("edit_sim") >= F.lit(EDIT_SIM_MIN), F.lit(False)
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


q_neardup_edit_verify.__doc__ = (
    q_neardup_edit_verify.__doc__.replace(
        "{EDIT_PREFIX_CHARS}", str(EDIT_PREFIX_CHARS)
    )
    .replace("{EDIT_SIM_MIN}", str(EDIT_SIM_MIN))
    .replace("{EDIT_LEN_SCREEN}", str(EDIT_LEN_SCREEN))
)

SQL_NEARDUP_EDIT_VERIFY = f"""
WITH sh AS ({_DUCK_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(len(list_intersect(a.sh, b.sh))
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4)
           AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}),
px AS (
  SELECT doc_id, substr(text, 1, {EDIT_PREFIX_CHARS}) AS px
  FROM documents)
SELECT p.doc_a, p.doc_b, p.jaccard,
       CASE WHEN ABS(len(a.px) - len(b.px)) > {EDIT_LEN_SCREEN}
            THEN NULL
            ELSE CAST(levenshtein(a.px, b.px) AS BIGINT) END
         AS lev_dist,
       CASE WHEN ABS(len(a.px) - len(b.px)) > {EDIT_LEN_SCREEN}
            THEN NULL
            ELSE CAST(FLOOR((1.0 - CAST(levenshtein(a.px, b.px)
                 AS DOUBLE)
                 / CAST(GREATEST(len(a.px), len(b.px), 1) AS DOUBLE))
                 * 1e6 + 0.5) AS DOUBLE) / 1e6 END AS edit_sim,
       COALESCE(
         CASE WHEN ABS(len(a.px) - len(b.px)) > {EDIT_LEN_SCREEN}
              THEN NULL
              ELSE CAST(FLOOR((1.0 - CAST(levenshtein(a.px, b.px)
                   AS DOUBLE)
                   / CAST(GREATEST(len(a.px), len(b.px), 1)
                          AS DOUBLE))
                   * 1e6 + 0.5) AS DOUBLE) / 1e6 END
           >= {EDIT_SIM_MIN},
         FALSE) AS confirmed
FROM pairs p
JOIN px a ON a.doc_id = p.doc_a
JOIN px b ON b.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: cluster the corpus with
    the IVF coarse quantizer (`operators/similarity.py::ivf_assign`),
    then inside each cluster drop every vector that has a
    smaller-id neighbor above the cosine threshold — the canonical
    (lowest-id) member of each semantic duplicate group survives.

    Scale plan: this is the whole point of SemDeDup — the quadratic
    pair scan runs only WITHIN a cluster (an equi-join on list_id),
    never across the corpus; cluster assignment itself is map-only
    over broadcast centroids.  Keeper election is one min_by per
    dropped vector.  The oracle replays the identical
    centroid-sample / argmax-assign / pair-scan pipeline.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = similarity.ivf_assign(emb, IVF_N_LISTS)
    a = assigned.select(
        F.col("vec_id").alias("drop_vec_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        "list_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("keep_vec_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        "list_id",
    )
    cos = F.round(
        similarity._dot(F.col("ea"), F.col("eb"))
        / (F.col("na") * F.col("nb")),
        4,
    )
    pairs = (
        a.join(b, "list_id")
        .where(F.col("drop_vec_id") > F.col("keep_vec_id"))
        .withColumn("cos", cos)
        .where(F.col("cos") >= F.lit(COSINE_PAIR_THRESHOLD))
    )
    return (
        pairs.groupBy("list_id", "drop_vec_id")
        .agg(
            F.min("keep_vec_id").alias("keep_vec_id"),
            F.min_by("cos", "keep_vec_id").alias("cos"),
        )
        .orderBy("drop_vec_id")
        .select("list_id", "drop_vec_id", "keep_vec_id", "cos")
    )


SQL_EMB_SEMANTIC_DEDUP = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS list_id, e AS cvec
  FROM emb
  ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                AS BIGINT), vec_id
  LIMIT {IVF_N_LISTS}),
assign0 AS (
  SELECT vec_id, e, list_id FROM (
    SELECT v.vec_id, v.e, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY ROUND(list_cosine_similarity(v.e, c.cvec), 4) DESC,
                       c.list_id ASC) AS rn
    FROM emb v CROSS JOIN cents c)
  WHERE rn = 1),
pairs AS (
  SELECT a.list_id, a.vec_id AS drop_vec_id, b.vec_id AS keep_vec_id,
         ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos
  FROM assign0 a JOIN assign0 b ON a.list_id = b.list_id
  WHERE a.vec_id > b.vec_id
    AND ROUND(list_cosine_similarity(a.e, b.e), 4) >= {COSINE_PAIR_THRESHOLD})
SELECT list_id, drop_vec_id,
       MIN(keep_vec_id) AS keep_vec_id,
       arg_min(cos, keep_vec_id) AS cos
FROM pairs
GROUP BY list_id, drop_vec_id
ORDER BY drop_vec_id
"""


def q_dedup_source_overlap(spark, sf_dir):
    """Cross-source duplicate provenance: for every pair of sources,
    how many boilerplate fingerprints (the 100-char prefix screen,
    same key as `dedup_prefix`) appear in BOTH — the matrix that
    tells a curation team which feeds are mirroring each other (and
    therefore which source weights double-count).  Prefix grain
    rather than whole-doc: mirrored feeds rewrap content, so shared
    boilerplate shows up long before byte-identical documents do.

    Scale plan: collapse to distinct (source, fp) first (one hash-agg
    — the relation is at most |sources| x |distinct docs|), then a
    self-equi-join on the fingerprint: each fp bucket holds at most
    |sources| rows, so the join fan-out is bounded by sources², never
    by corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "source", F.md5(F.substring(F.lower("text"), 1, 100)).alias("fp")
    ).distinct()
    a = fps.select(F.col("source").alias("source_a"), "fp")
    b = fps.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("fp").alias("n_shared_docs"))
        .orderBy("source_a", "source_b")
    )


SQL_DEDUP_SOURCE_OVERLAP = """
WITH fps AS (
  SELECT DISTINCT source, md5(substr(lower(text), 1, 100)) AS fp
  FROM documents)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(DISTINCT a.fp) AS n_shared_docs
FROM fps a JOIN fps b ON a.fp = b.fp
WHERE a.source < b.source
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


def q_doc_lang_mismatch(spark, sf_dir):
    """Label-vs-detector disagreement audit: documents whose labeled
    ``lang`` differs from the stopword-heuristic detection
    (`functions/text.py::language_id`) — the screen that catches
    mislabeled feeds and languages the detector can't model (the
    fixture's zh docs always disagree, which is the point: they need
    routing to a different detector).

    Scale plan: map-only — the detector is pure codegen expressions
    over the token list; no joins, no shuffle except the final sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            language_id("text").alias("lang_pred"),
        )
        .where(F.col("lang") != F.col("lang_pred"))
        .orderBy("doc_id")
    )


SQL_DOC_LANG_MISMATCH = f"""
WITH r AS (
  SELECT doc_id, lang,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('en')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_en,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('fr')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_fr,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('es')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_es,
         len(list_filter(str_split(text,' '), t -> t IN ({_sw_list('de')})))
           / CAST(greatest(len(str_split(text,' ')), 1) AS DOUBLE) AS r_de
  FROM documents),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN r_en > 0 AND r_en >= greatest(r_fr, r_es, r_de) THEN 'en'
              WHEN r_fr > 0 AND r_fr >= greatest(r_es, r_de) THEN 'fr'
              WHEN r_es > 0 AND r_es >= r_de THEN 'es'
              WHEN r_de > 0 THEN 'de'
              ELSE 'und' END AS lang_pred
  FROM r)
SELECT doc_id, lang, lang_pred
FROM pred
WHERE lang <> lang_pred
ORDER BY doc_id
"""


#: 8 steps reach ~95% of the top eigenvalue on a near-random spectrum
#: (small spectral gap — the worst case); each step is a KB-sized join
PCA_ITERS = 8


def q_emb_pca_power(spark, sf_dir):
    """Top principal component of the embedding corpus by distributed
    power iteration — the classic tall-skinny PCA: the corpus is never
    materialized as a matrix; the d x d scatter matrix is built as a
    map-side outer product + one (i, j) hash-agg, and each power step
    is a join against the d-row vector relation.

    Scale plan: the only corpus-sized work is the self-equi-join on
    vec_id (each side d rows per vector) feeding d² accumulators —
    shuffle carries (i, j) partial sums, so 10⁹ vectors still reduce
    to a 4096-row relation for d=64.  The three power steps touch only
    d²-row x d-row joins (KBs).  Per-step 6dp rounding stops float
    drift from compounding (the pagerank/k-means precedent), and the
    all-ones start vector makes the sign deterministic.  Eight steps
    recover ~95% of the top eigenvalue even on a near-flat spectrum.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    mu = flat.groupBy("pos").agg(F.round(F.avg("val"), 6).alias("mu"))
    centered = flat.join(mu, "pos").select(
        "vec_id", "pos", (F.col("val") - F.col("mu")).alias("cv")
    )
    a = centered.select(
        "vec_id", F.col("pos").alias("i"), F.col("cv").alias("ci")
    )
    b = centered.select(
        "vec_id", F.col("pos").alias("j"), F.col("cv").alias("cj")
    )
    # lineage truncation is load-bearing here: scatter feeds every
    # unrolled power step, and each step's w feeds BOTH the norm
    # scalar and the next v — those doubled references grow the raw
    # logical plan 2^K-fold (measured: 79 s / driver OOM at K=8,
    # sf0.1).  localCheckpoint cuts the plan at each d²/d-row
    # relation, the standard iterative-algorithm fix (GraphX/ALS);
    # executor-local storage is an accepted durability tradeoff for
    # these KB-sized intermediates.
    scatter = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.round(F.sum(F.col("ci") * F.col("cj")), 6).alias("s"))
    ).localCheckpoint(eager=False)
    v = mu.select(F.col("pos").alias("j"), F.lit(1.0).alias("vj"))
    for _ in range(PCA_ITERS):
        w = (
            scatter.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("s") * F.col("vj")).alias("wi"))
        ).localCheckpoint(eager=False)
        nrm = w.agg(F.sqrt(F.sum(F.col("wi") * F.col("wi"))).alias("nm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"),
            F.round(F.col("wi") / F.col("nm"), 6).alias("vj"),
        )
    return v.select(
        F.col("j").alias("pos"), F.col("vj").alias("loading")
    ).orderBy("pos")


def _sql_pca_power() -> str:
    steps = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        steps.append(
            f"""w{k} AS (
  SELECT i, SUM(s.s * {prev}.vj) AS wi
  FROM scatter s JOIN {prev} ON s.j = {prev}.j GROUP BY i),
n{k} AS (SELECT sqrt(SUM(wi * wi)) AS nm FROM w{k}),
v{k} AS (SELECT i AS j, ROUND(wi / nm, 6) AS vj FROM w{k}, n{k})"""
        )
        prev = f"v{k}"
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
flat AS (
  SELECT vec_id, generate_subscripts(e, 1) - 1 AS pos, unnest(e) AS val
  FROM emb),
mu AS (SELECT pos, ROUND(AVG(val), 6) AS mu FROM flat GROUP BY pos),
centered AS (
  SELECT f.vec_id, f.pos, f.val - m.mu AS cv
  FROM flat f JOIN mu m USING (pos)),
scatter AS (
  SELECT a.pos AS i, b.pos AS j, ROUND(SUM(a.cv * b.cv), 6) AS s
  FROM centered a JOIN centered b ON a.vec_id = b.vec_id
  GROUP BY 1, 2),
v0 AS (SELECT pos AS j, 1.0 AS vj FROM mu),
{",".join(steps)}
SELECT j AS pos, vj AS loading FROM {prev} ORDER BY pos
"""


SQL_EMB_PCA_POWER = _sql_pca_power()


# ---------------------------------------------------------------------------
# bpe_learn_merges — tokenizer TRAINING: iterative BPE merge learning
# ---------------------------------------------------------------------------

BPE_STEPS = 6
BPE_VOCAB_WORDS = 200


def q_bpe_learn_merges(spark, sf_dir):
    """Learn the first K byte-pair-encoding merges from the corpus —
    the TRAINING side of the tokenizer whose application
    `bpe_token_count` demonstrates.  Classic Sennrich BPE: words
    become space-separated symbol sequences; each step counts
    adjacent symbol pairs (weighted by word frequency), merges the
    most frequent pair corpus-wide, repeats.  Output: one row per
    step with the merged pair and its count.

    Iterative-algorithm-with-full-oracle pattern (PageRank precedent,
    `graph.py`): the Spark side unrolls K steps as a driver loop over
    DataFrames; the DuckDB oracle is the SAME K steps as generated
    chained CTEs, so every merge decision — counts, ties, overlap
    handling — is value-checked, not just row-counted.

    Determinism: pair ties break lexicographically; the merge uses
    literal leftmost non-overlapping `replace` — identical semantics
    in both engines ("a a a" merges once).  Symbols stay in [a-z@]
    (words filtered to ^[a-z]+$, '@' is the merge joiner), so the
    space separator and sentinels can never collide with content.

    Scale plan: the per-step state is the (word, sym, freq) vocab
    relation — BPE training state is VOCABULARY-sized, not
    corpus-sized, after the single opening scan aggregates word
    frequencies.  Each step is one pair-explode + hash-agg over ≤200
    rows plus a 1-row broadcast of the winning pair (the scalar-
    broadcast shape `emb_pca_power` pins); `persist()` keeps the
    chain's logical plans flat.  At 100 TB only step 0 touches the
    corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(BPE_VOCAB_WORDS)
        .select(
            F.trim(
                F.regexp_replace(F.col("w"), "(.)", "$1 ")
            ).alias("sym"),
            "freq",
        )
    )
    # localCheckpoint (not persist): each step's syms/best feed TWO
    # consumers, and persist leaves the doubled lineage in the logical
    # plan — 2^K copies of the corpus word-count subtree (the PCA
    # lesson, measured there at 79 s).  Checkpointing truncates the
    # plan at each vocabulary-sized relation.
    syms = words.localCheckpoint(eager=False)
    bests = []
    for step in range(1, BPE_STEPS + 1):
        arr = F.split(F.col("sym"), " ")
        pairs = syms.select(
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, F.size(arr) - 1).alias("l"),
                    F.slice(arr, 2, F.size(arr) - 1).alias("r"),
                )
            ).alias("p"),
            "freq",
        ).select(
            F.concat(F.col("p.l"), F.lit(" "), F.col("p.r")).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
        ).localCheckpoint(eager=False)
        bests.append(
            best.select(F.lit(step).alias("step"), "pair", "cnt")
        )
        merged = F.concat(
            F.lit(" "),
            F.regexp_replace(F.col("pair"), " ", "@"),
            F.lit(" "),
        )
        spaced = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
        syms = (
            syms.crossJoin(F.broadcast(best))
            .select(
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                        spaced,
                        merged,
                    )
                ).alias("sym"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out.orderBy("step")


def _bpe_oracle_sql() -> str:
    """Generate the K-step chained-CTE oracle (unrolled, like the
    PageRank oracle)."""
    ctes = [
        f"""w0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym, freq
  FROM (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents)
    WHERE regexp_matches(w, '^[a-z]+$')
    GROUP BY w
    ORDER BY freq DESC, w ASC
    LIMIT {BPE_VOCAB_WORDS}))"""
    ]
    for i in range(1, BPE_STEPS + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""p{i} AS (
  SELECT arr[i] || ' ' || arr[i + 1] AS pair, freq
  FROM (SELECT string_split(sym, ' ') AS arr, freq FROM {prev}),
       UNNEST(range(1, len(arr))) AS t(i))"""
        )
        ctes.append(
            f"""b{i} AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p{i}
  GROUP BY pair
  ORDER BY cnt DESC, pair ASC
  LIMIT 1)"""
        )
        ctes.append(
            f"""w{i} AS (
  SELECT trim(replace(' ' || s.sym || ' ',
                      ' ' || b.pair || ' ',
                      ' ' || replace(b.pair, ' ', '@') || ' ')) AS sym,
         s.freq
  FROM {prev} s CROSS JOIN b{i} b)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, pair, cnt FROM b{i}"
        for i in range(1, BPE_STEPS + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM ({union})"
        " ORDER BY step"
    )


SQL_BPE_LEARN_MERGES = _bpe_oracle_sql()


# -- Gopher-style rule-based quality gate (round 6) ---------------------------

#: the fixed function-word list for the stop-word rule (Rae et al.
#: 2021 use a similar small list; 'the'/'a' intersect the synthetic
#: corpus vocabulary so the flag has real variance)
GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "that", "have", "with")


def q_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText-style RULE quality gate (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", §A1.1): per document, the
    individual rule flags (so a curation run can report WHY a doc was
    dropped) plus the conjunction.  Rules kept to the corpus-feasible
    subset: word-count bounds [50, 100000], mean word length in
    [3, 10], ≥80% of tokens containing an alphabetic character, ≥2
    distinct stop words, and top-unigram fraction ≤20% (the
    MassiveText repetition screen at the unigram grain —
    `doc_repetition` carries the n-gram grain).  Complements
    `text_quality` (a composite 0-100 score): classifiers rank,
    rules GATE.

    Scale plan: one (doc_id, token) hash-agg then a per-doc agg — two
    keyed exchanges on bounded-width rows; all comparisons are
    exact-integer cross-multiplications (no float thresholds), flags
    emitted as 0/1 ints (engine-portable).
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_words"),
        F.sum(F.col("tf") * F.length("token"))
        .cast("bigint")
        .alias("sum_len"),
        F.sum(
            F.when(F.col("token").rlike("[a-zA-Z]"), F.col("tf")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_alpha"),
        F.count_distinct(
            F.when(
                F.col("token").isin(*GOPHER_STOPWORDS), F.col("token")
            )
        ).alias("n_stop"),
        F.max("tf").cast("bigint").alias("max_tf"),
    )
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    flagged = per.select(
        "doc_id",
        "n_words",
        flag(F.col("n_words").between(50, 100000)).alias("ok_n_words"),
        flag(
            (F.col("sum_len") >= 3 * F.col("n_words"))
            & (F.col("sum_len") <= 10 * F.col("n_words"))
        ).alias("ok_mean_len"),
        flag(5 * F.col("n_alpha") >= 4 * F.col("n_words")).alias(
            "ok_alpha"
        ),
        flag(F.col("n_stop") >= 2).alias("ok_stop"),
        flag(5 * F.col("max_tf") <= F.col("n_words")).alias(
            "ok_top_unigram"
        ),
    )
    return flagged.withColumn(
        "passes",
        F.col("ok_n_words")
        * F.col("ok_mean_len")
        * F.col("ok_alpha")
        * F.col("ok_stop")
        * F.col("ok_top_unigram"),
    ).orderBy("doc_id")


#: the gopher rule-gate CTE chain (tf -> per -> flagged) alone, so
#: compositions (quality_calibration) can reuse it next to other CTEs
_GOPHER_CTES = f"""tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents)
  WHERE token <> ''
  GROUP BY doc_id, token),
per AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_words,
         CAST(SUM(tf * length(token)) AS BIGINT) AS sum_len,
         CAST(SUM(CASE WHEN regexp_matches(token, '[a-zA-Z]')
                       THEN tf ELSE 0 END) AS BIGINT) AS n_alpha,
         COUNT(DISTINCT CASE WHEN token IN
           ({", ".join("'" + w + "'" for w in GOPHER_STOPWORDS)})
           THEN token END) AS n_stop,
         CAST(MAX(tf) AS BIGINT) AS max_tf
  FROM tf GROUP BY doc_id),
flagged AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words BETWEEN 50 AND 100000
              THEN 1 ELSE 0 END AS ok_n_words,
         CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words
              THEN 1 ELSE 0 END AS ok_mean_len,
         CASE WHEN 5 * n_alpha >= 4 * n_words
              THEN 1 ELSE 0 END AS ok_alpha,
         CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS ok_stop,
         CASE WHEN 5 * max_tf <= n_words
              THEN 1 ELSE 0 END AS ok_top_unigram
  FROM per)"""

SQL_GOPHER_QUALITY = f"""
WITH {_GOPHER_CTES}
SELECT doc_id, n_words, ok_n_words, ok_mean_len, ok_alpha, ok_stop,
       ok_top_unigram,
       ok_n_words * ok_mean_len * ok_alpha * ok_stop * ok_top_unigram
         AS passes
FROM flagged
ORDER BY doc_id
"""


# -- product quantization codes (round 6) -------------------------------------

PQ_M = 4
PQ_K = 8


def q_emb_pq_codes(spark, sf_dir):
    """Product-quantization compression of the embedding corpus
    (Jégou et al. 2011): each vector -> one packed base-{PQ_K} code
    over {PQ_M} subspaces + exact-integer reconstruction error.  The
    PQ complement to `emb_quantize` (scalar int8): PQ is the layout
    ANN shortlists rescore against at 100 TB.  See
    `operators/similarity.pq_codes` for the scale plan (≤k-row
    broadcast codebook, map-only fold, corpus never shuffled)."""
    return similarity.pq_codes(
        load_table(spark, sf_dir, "embeddings"), m=PQ_M, k=PQ_K
    )


_PQ_H = (
    "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)

SQL_EMB_PQ_CODES = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
seeds AS (
  SELECT e, ROW_NUMBER() OVER (ORDER BY {_PQ_H}, vec_id) - 1 AS cid
  FROM emb
  ORDER BY {_PQ_H}, vec_id
  LIMIT {PQ_K}),
pairs AS (
  SELECT v.vec_id, t.mi, s.cid,
         ROUND(list_aggregate(list_transform(
             range(1, (len(v.e) // {PQ_M}) + 1),
             i -> (v.e[t.mi * (len(v.e) // {PQ_M}) + i]
                   - s.e[t.mi * (len(v.e) // {PQ_M}) + i])
                  * (v.e[t.mi * (len(v.e) // {PQ_M}) + i]
                     - s.e[t.mi * (len(v.e) // {PQ_M}) + i])),
           'sum'), 4) AS d
  FROM emb v
  CROSS JOIN range(0, {PQ_M}) t(mi)
  CROSS JOIN seeds s),
best AS (
  SELECT vec_id, mi, cid, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                            ORDER BY d, cid) AS rn
  FROM pairs)
SELECT vec_id,
       CAST(SUM(cid * (CASE mi {" ".join(
           f"WHEN {i} THEN {PQ_K ** i}" for i in range(PQ_M)
       )} END)) AS BIGINT) AS code,
       CAST(SUM(CAST(ROUND(d * 10000) AS BIGINT)) AS BIGINT) AS err_q4
FROM best WHERE rn = 1
GROUP BY vec_id
ORDER BY vec_id
"""


def q_emb_pq_recall(spark, sf_dir):
    """recall@k of PQ asymmetric-distance search against the exact
    squared-L2 top-k — the compression/quality gauge for the
    `emb_pq_codes` layout (Jégou et al. 2011 measure their codebooks
    the same way).  All distances are exact integer sums
    (round(d·1e4) per subspace / per full vector), so both engines
    rank identical values with vec_id tie-breaks; one row per query
    id."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_l2_topk(emb)
    ann = similarity.pq_adc_topk(
        emb, QUERY_VEC_IDS, TOPK, m=PQ_M, k=PQ_K
    ).select("qid", "vec_id")
    return _recall_gauge(exact, ann)


_PQ_QIDS = ", ".join(map(str, QUERY_VEC_IDS))

#: shared CTE prefix replaying operators/similarity.py's PQ pipeline:
#: hash-seeded codebook, per-(vec, subspace, centroid) raw squared-L2,
#: argmin picks (4dp round, lowest-cid ties)
_PQ_CTES = f"""
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
seeds AS (
  SELECT e, ROW_NUMBER() OVER (ORDER BY {_PQ_H}, vec_id) - 1 AS cid
  FROM emb
  ORDER BY {_PQ_H}, vec_id
  LIMIT {PQ_K}),
subd AS (
  SELECT v.vec_id, t.mi, s.cid,
         list_aggregate(list_transform(
             range(1, (len(v.e) // {PQ_M}) + 1),
             i -> (v.e[t.mi * (len(v.e) // {PQ_M}) + i]
                   - s.e[t.mi * (len(v.e) // {PQ_M}) + i])
                  * (v.e[t.mi * (len(v.e) // {PQ_M}) + i]
                     - s.e[t.mi * (len(v.e) // {PQ_M}) + i])),
           'sum') AS draw
  FROM emb v
  CROSS JOIN range(0, {PQ_M}) t(mi)
  CROSS JOIN seeds s),
best AS (
  SELECT vec_id, mi, cid, d FROM (
    SELECT vec_id, mi, cid, ROUND(draw, 4) AS d,
           ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                              ORDER BY ROUND(draw, 4), cid) AS rn
    FROM subd)
  WHERE rn = 1)"""

#: exact squared-L2 top-k ground truth + the shared recall tail — the
#: closing CTEs of every L2-family recall gauge (PQ-ADC, IVFADC,
#: BQ+IVFADC).  Assumes the enclosing WITH defines `emb` and an `ann`
#: CTE of (qid, vec_id).
_SQL_L2_EXACT_AND_TAIL = f"""exact_d AS (
  SELECT q.vec_id AS qid, v.vec_id,
         CAST(ROUND(list_aggregate(list_transform(
             range(1, len(v.e) + 1),
             i -> (v.e[i] - q.e[i]) * (v.e[i] - q.e[i])), 'sum')
           * 10000) AS BIGINT) AS d4
  FROM emb v
  JOIN emb q ON q.vec_id IN ({_PQ_QIDS}) AND v.vec_id <> q.vec_id),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY d4, vec_id) AS rk
    FROM exact_d)
  WHERE rk <= {TOPK}),
{_SQL_RECALL_TAIL}"""

SQL_EMB_PQ_RECALL = f"""
WITH {_PQ_CTES},
qtab AS (
  SELECT vec_id AS qid, mi, cid,
         CAST(ROUND(draw * 10000) AS BIGINT) AS d4
  FROM subd WHERE vec_id IN ({_PQ_QIDS})),
adc AS (
  SELECT q.qid, b.vec_id, CAST(SUM(q.d4) AS BIGINT) AS adc_q4
  FROM best b
  JOIN qtab q ON b.mi = q.mi AND b.cid = q.cid AND b.vec_id <> q.qid
  GROUP BY q.qid, b.vec_id),
ann AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY adc_q4, vec_id) AS rk
    FROM adc)
  WHERE rk <= {TOPK}),
{_SQL_L2_EXACT_AND_TAIL}"""


def q_emb_pq_refine(spark, sf_dir):
    """Refined-codebook cell profile after one Lloyd step per PQ
    subspace — (mi, cid, n_vecs, sum_d_q4): member count and
    exact-integer total quantization error per refined cell.  The
    PQ training step (Jégou et al. 2011 train codebooks with k-means
    per subspace); `test_quality_ops` asserts total error does not
    increase vs the seed codebooks.  See
    `operators/similarity.pq_refine` for the scale plan (two map-side
    explodes + one m·k·sub_dim hash-agg; refined codebooks collapse
    into ONE broadcast row; no embedding shuffles)."""
    return similarity.pq_refine(
        load_table(spark, sf_dir, "embeddings"), m=PQ_M, k=PQ_K
    )


SQL_EMB_PQ_REFINE = f"""
WITH {_PQ_CTES},
flat AS (
  -- paired unnests zip positionally (the SQL_EMB_CENTROID idiom)
  SELECT b.mi, b.cid,
         unnest(range(1, (len(v.e) // {PQ_M}) + 1)) AS pos,
         unnest(list_transform(range(1, (len(v.e) // {PQ_M}) + 1),
                i -> v.e[b.mi * (len(v.e) // {PQ_M}) + i])) AS val
  FROM best b
  JOIN emb v USING (vec_id)),
refc AS (
  SELECT mi, cid, list(cval ORDER BY pos) AS cv
  FROM (SELECT mi, cid, pos, ROUND(AVG(val), 6) AS cval
        FROM flat GROUP BY mi, cid, pos)
  GROUP BY mi, cid),
newd AS (
  SELECT v.vec_id, r.mi, r.cid,
         ROUND(list_aggregate(list_transform(
             range(1, (len(v.e) // {PQ_M}) + 1),
             i -> (v.e[r.mi * (len(v.e) // {PQ_M}) + i] - r.cv[i])
                  * (v.e[r.mi * (len(v.e) // {PQ_M}) + i] - r.cv[i])),
           'sum'), 4) AS d
  FROM emb v CROSS JOIN refc r),
pick2 AS (
  SELECT vec_id, mi, cid, d FROM (
    SELECT vec_id, mi, cid, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                              ORDER BY d, cid) AS rn
    FROM newd)
  WHERE rn = 1)
SELECT mi, CAST(cid AS INTEGER) AS cid,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(ROUND(d * 10000) AS BIGINT)) AS BIGINT) AS sum_d_q4
FROM pick2
GROUP BY mi, cid
ORDER BY mi, cid
"""


# -- IVF-PQ (IVFADC): coarse quantizer + PQ on residuals ---------------------


def q_emb_ivfpq_topk(spark, sf_dir):
    """IVFADC search (Jégou et al. 2011 §IV): IVF routes vectors to
    inverted lists, PQ encodes the RESIDUAL x − c(list(x)) against
    one shared codebook, and a query ADC-scans only its nprobe
    probed lists' codes — the composed 100 TB ANN architecture the
    separately-green IVF ({IVF_N_LISTS} lists, nprobe {IVF_NPROBE})
    and PQ (m={PQ_M}, k={PQ_K}) families build toward.  Exact-integer
    ADC distances (round(d·1e4) per subspace), vec_id tie-breaks.
    See `operators/similarity.ivfpq_topk` for the scale plan
    (broadcast centroids+codebook, corpus never leaves its
    partitions, list probe = broadcast equi-join on list_id)."""
    return similarity.ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_VEC_IDS,
        TOPK,
        n_lists=IVF_N_LISTS,
        nprobe=IVF_NPROBE,
        m=PQ_M,
        k=PQ_K,
    )


q_emb_ivfpq_topk.__doc__ = q_emb_ivfpq_topk.__doc__.format(
    IVF_N_LISTS=IVF_N_LISTS,
    IVF_NPROBE=IVF_NPROBE,
    PQ_M=PQ_M,
    PQ_K=PQ_K,
)

#: shared CTE prefix replaying the IVFADC pipeline: IVF centroids +
#: rounded-cosine assignment (the SQL_ANN_TOPK_IVF recipe), residuals,
#: the shared hash-seeded residual codebook, per-(vec, subspace)
#: argmin codes, query probes, and per-(query, list, subspace,
#: centroid) integer ADC table entries.
_IVFPQ_CTES = f"""
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS list_id, e AS cvec
  FROM emb
  ORDER BY {_PQ_H}, vec_id
  LIMIT {IVF_N_LISTS}),
assigned AS (
  SELECT vec_id, list_id FROM (
    SELECT v.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY ROUND(list_cosine_similarity(v.e, c.cvec), 4) DESC,
                       c.list_id ASC) AS rn
    FROM emb v CROSS JOIN cents c)
  WHERE rn = 1),
resid AS (
  SELECT a.vec_id, a.list_id,
         list_transform(range(1, len(v.e) + 1),
                        i -> v.e[i] - c.cvec[i]) AS r
  FROM assigned a
  JOIN emb v ON v.vec_id = a.vec_id
  JOIN cents c ON c.list_id = a.list_id),
seeds AS (
  SELECT r AS e, ROW_NUMBER() OVER (ORDER BY {_PQ_H}, vec_id) - 1 AS cid
  FROM resid
  ORDER BY {_PQ_H}, vec_id
  LIMIT {PQ_K}),
subd AS (
  SELECT v.vec_id, v.list_id, t.mi, s.cid,
         list_aggregate(list_transform(
             range(1, (len(v.r) // {PQ_M}) + 1),
             i -> (v.r[t.mi * (len(v.r) // {PQ_M}) + i]
                   - s.e[t.mi * (len(v.r) // {PQ_M}) + i])
                  * (v.r[t.mi * (len(v.r) // {PQ_M}) + i]
                     - s.e[t.mi * (len(v.r) // {PQ_M}) + i])),
           'sum') AS draw
  FROM resid v
  CROSS JOIN range(0, {PQ_M}) t(mi)
  CROSS JOIN seeds s),
codes AS (
  SELECT vec_id, list_id, mi, cid FROM (
    SELECT vec_id, list_id, mi, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                              ORDER BY ROUND(draw, 4), cid) AS rn
    FROM subd)
  WHERE rn = 1),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.vec_id AS qid, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ROUND(list_cosine_similarity(q.e, c.cvec), 4) DESC,
                       c.list_id ASC) AS rn
    FROM emb q CROSS JOIN cents c
    WHERE q.vec_id IN ({_PQ_QIDS}))
  WHERE rn <= {IVF_NPROBE}),
qresid AS (
  SELECT p.qid, p.list_id,
         list_transform(range(1, len(q.e) + 1),
                        i -> q.e[i] - c.cvec[i]) AS r
  FROM probes p
  JOIN emb q ON q.vec_id = p.qid
  JOIN cents c ON c.list_id = p.list_id),
qsubd AS (
  SELECT v.qid, v.list_id, t.mi, s.cid,
         CAST(ROUND(list_aggregate(list_transform(
             range(1, (len(v.r) // {PQ_M}) + 1),
             i -> (v.r[t.mi * (len(v.r) // {PQ_M}) + i]
                   - s.e[t.mi * (len(v.r) // {PQ_M}) + i])
                  * (v.r[t.mi * (len(v.r) // {PQ_M}) + i]
                     - s.e[t.mi * (len(v.r) // {PQ_M}) + i])),
           'sum') * 10000) AS BIGINT) AS d4
  FROM qresid v
  CROSS JOIN range(0, {PQ_M}) t(mi)
  CROSS JOIN seeds s),
adc AS (
  SELECT q.qid, b.vec_id, CAST(SUM(q.d4) AS BIGINT) AS adc_q4
  FROM codes b
  JOIN qsubd q ON b.list_id = q.list_id AND b.mi = q.mi
              AND b.cid = q.cid AND b.vec_id <> q.qid
  GROUP BY q.qid, b.vec_id),
ivfpq_ranked AS (
  SELECT qid, vec_id, adc_q4,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_q4, vec_id) AS INTEGER) AS rk
  FROM adc)"""

SQL_EMB_IVFPQ_TOPK = f"""
WITH {_IVFPQ_CTES}
SELECT qid, vec_id, adc_q4, rk
FROM ivfpq_ranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


def q_emb_ivfpq_recall(spark, sf_dir):
    """recall@k of the IVFADC search against the exact squared-L2
    top-k — the quality gauge that closes the IVF-PQ loop (the
    `emb_pq_recall`/`emb_ann_recall` pattern on the composed index).
    Unlike plain-PQ recall, IVFADC recall is also bounded by the
    probe: a true neighbor living in an unprobed list can never be
    found — both engines replay the identical probe, so the measured
    value is exact, not a tolerance check."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_l2_topk(emb)
    ann = similarity.ivfpq_topk(
        emb,
        QUERY_VEC_IDS,
        TOPK,
        n_lists=IVF_N_LISTS,
        nprobe=IVF_NPROBE,
        m=PQ_M,
        k=PQ_K,
    ).select("qid", "vec_id")
    return _recall_gauge(exact, ann)


SQL_EMB_IVFPQ_RECALL = f"""
WITH {_IVFPQ_CTES},
ann AS (
  SELECT qid, vec_id FROM ivfpq_ranked WHERE rk <= {TOPK}),
{_SQL_L2_EXACT_AND_TAIL}"""


def q_emb_bq_ivfpq_rerank(spark, sf_dir):
    """Two-stage index search — BQ Hamming SHORTLIST over the packed
    sign bits, then IVFADC integer rescore of ONLY the shortlist's
    codes (`operators/similarity.bq_adc_search`): the composition the
    streaming ANN index (`streaming/annindex.bq_ann_ingest_writer`)
    runs per batch.  BQ replaces IVF's nprobe as candidate generator,
    so recall is no longer probe-bounded, while the float math never
    runs: stage 2 reads m small ints per candidate against
    per-(query, list) integer distance tables built only for the
    (query, list) pairs the shortlist touches.  Output matches
    `emb_ivfpq_topk`: (qid, vec_id, adc_q4, rk ≤ k); deterministic
    (integer Hamming + integer ADC, vec_id ties), so DuckDB replays
    both stages."""
    return similarity.bq_ivfpq_rerank_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_VEC_IDS,
        TOPK,
        n_lists=IVF_N_LISTS,
        m=PQ_M,
        k=PQ_K,
        shortlist=BQ_SHORTLIST,
    )


#: shared stage-2 of the two-stage oracle (appended after _IVFPQ_CTES
#: + _BQ_PACK_CTES): Hamming shortlist -> candidate codes -> ADC
#: tables for only the touched (query, list) pairs -> integer rescore
_BQ_ADC_CTES = f"""cand AS (
  SELECT s.qid, c.vec_id, c.list_id, c.mi, c.cid
  FROM (SELECT qid, vec_id FROM bq_ranked
        WHERE rk <= {BQ_SHORTLIST}) s
  JOIN codes c ON c.vec_id = s.vec_id),
needed AS (
  SELECT DISTINCT qid, list_id FROM cand),
qresid2 AS (
  SELECT n.qid, n.list_id,
         list_transform(range(1, len(q.e) + 1),
                        i -> q.e[i] - c.cvec[i]) AS r
  FROM needed n
  JOIN emb q ON q.vec_id = n.qid
  JOIN cents c ON c.list_id = n.list_id),
qsubd2 AS (
  SELECT v.qid, v.list_id, t.mi, s.cid,
         CAST(ROUND(list_aggregate(list_transform(
             range(1, (len(v.r) // {PQ_M}) + 1),
             i -> (v.r[t.mi * (len(v.r) // {PQ_M}) + i]
                   - s.e[t.mi * (len(v.r) // {PQ_M}) + i])
                  * (v.r[t.mi * (len(v.r) // {PQ_M}) + i]
                     - s.e[t.mi * (len(v.r) // {PQ_M}) + i])),
           'sum') * 10000) AS BIGINT) AS d4
  FROM qresid2 v
  CROSS JOIN range(0, {PQ_M}) t(mi)
  CROSS JOIN seeds s),
rescored AS (
  SELECT b.qid, b.vec_id, CAST(SUM(q.d4) AS BIGINT) AS adc_q4
  FROM cand b
  JOIN qsubd2 q ON b.qid = q.qid AND b.list_id = q.list_id
               AND b.mi = q.mi AND b.cid = q.cid
  GROUP BY b.qid, b.vec_id)"""

SQL_EMB_BQ_IVFPQ_RERANK = f"""
WITH {_IVFPQ_CTES},
{_BQ_PACK_CTES},
{_BQ_ADC_CTES},
reranked AS (
  SELECT qid, vec_id, adc_q4,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc_q4, vec_id) AS INTEGER) AS rk
  FROM rescored)
SELECT qid, vec_id, adc_q4, rk
FROM reranked WHERE rk <= {TOPK}
ORDER BY qid, rk
"""


def q_emb_bq_ivfpq_recall(spark, sf_dir):
    """recall@k of the two-stage BQ+IVFADC search against the exact
    squared-L2 top-k — closes the gauge set for the retrieval ladder
    (LSH, BQ, matryoshka, JL, PQ-ADC, IVFADC, and now the composed
    two-stage index).  Unlike `emb_ivfpq_recall`, recall here is
    bounded by the Hamming SHORTLIST rather than the IVF probe — the
    exact trade `bq_adc_search` makes; both engines replay the
    identical shortlist, so the measured value is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_l2_topk(emb)
    ann = similarity.bq_ivfpq_rerank_topk(
        emb,
        QUERY_VEC_IDS,
        TOPK,
        n_lists=IVF_N_LISTS,
        m=PQ_M,
        k=PQ_K,
        shortlist=BQ_SHORTLIST,
    ).select("qid", "vec_id")
    return _recall_gauge(exact, ann)


SQL_EMB_BQ_IVFPQ_RECALL = f"""
WITH {_IVFPQ_CTES},
{_BQ_PACK_CTES},
{_BQ_ADC_CTES},
ann AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY adc_q4, vec_id) AS rk
    FROM rescored)
  WHERE rk <= {TOPK}),
{_SQL_L2_EXACT_AND_TAIL}"""


def q_ccnet_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): per LANGUAGE, split documents into head/middle/tail
    terciles of LM surprisal — the standard web-corpus quality
    partition (head = most LM-like; CCNet trains on head+middle).
    The LM is the in-repo interpolated bigram model
    (`bigram_logprob`); cutoffs are exact interpolated terciles per
    language, rounded 6 dp, compared against the 6dp-rounded per-doc
    mean surprisal, so bucket edges are engine-deterministic.

    Scale plan: per-doc scores come from the bigram query's one
    corpus explode; the cutoffs are a ≤|langs|-row aggregate
    broadcast back (no window, no global sort — at 100 TB swap the
    exact `percentile` for `approx_percentile`, which only moves
    boundary docs).  Docs with <2 tokens carry no bigram score and
    are excluded on both engines.
    """
    scores = q_bigram_logprob(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    sc = scores.join(docs, "doc_id").select(
        "doc_id", "lang", "mean_surprisal"
    )
    cuts = sc.groupBy("lang").agg(
        F.round(F.percentile("mean_surprisal", F.lit(1 / 3)), 6).alias(
            "c33"
        ),
        F.round(F.percentile("mean_surprisal", F.lit(2 / 3)), 6).alias(
            "c66"
        ),
    )
    return (
        sc.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "mean_surprisal",
            F.when(F.col("mean_surprisal") <= F.col("c33"), "head")
            .when(F.col("mean_surprisal") <= F.col("c66"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
        .orderBy("doc_id")
    )


SQL_CCNET_PPL_BUCKETS = f"""
WITH scores AS (SELECT * FROM ({SQL_BIGRAM_LOGPROB})),
sc AS (
  SELECT s.doc_id, d.lang, s.mean_surprisal
  FROM scores s JOIN documents d USING (doc_id)),
cuts AS (
  SELECT lang,
         ROUND(quantile_cont(mean_surprisal, 1.0/3.0), 6) AS c33,
         ROUND(quantile_cont(mean_surprisal, 2.0/3.0), 6) AS c66
  FROM sc GROUP BY lang)
SELECT doc_id, lang, mean_surprisal,
       CASE WHEN mean_surprisal <= c33 THEN 'head'
            WHEN mean_surprisal <= c66 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM sc JOIN cuts USING (lang)
ORDER BY doc_id
"""


SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # remainder -> test


def q_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment — the LAST stage of a
    training-data pipeline: split = portable hash of doc_id mod 100
    (80/10/10), so membership depends only on the key, never on row
    order, partitioning, or rerun — the property that makes the split
    stable across incremental rebuilds (`sample_bernoulli` /
    `shard_manifest` discipline).  One manifest row per
    (source, split): doc count, char volume, and an order-independent
    content fingerprint (sum of doc-id hashes mod 1e6) — the
    disjointness/coverage contract the trainer verifies (per source:
    split sizes sum to the source's doc count; fingerprints re-derive
    from membership alone).

    Scale plan: one map-side hash + one |sources|×3-key hash-agg —
    scan-bound at any scale; the physical write is
    ``partitionBy(split)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = sampling._portable_hash(F.col("doc_id"), "sp0") % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    fp = sampling._portable_hash(F.col("doc_id"), "sfp") % 1_000_000
    return (
        docs.select(
            "source", split.alias("split"), "n_chars", fp.alias("fp")
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("fp").cast("bigint").alias("fingerprint"),
        )
        .orderBy("source", "split")
    )


def q_train_split_leakage_safe(spark, sf_dir):
    """LEAKAGE-SAFE train/val/test assignment — `train_split` with the
    split hash keyed on the near-dup CLUSTER label instead of the
    doc_id (GroupKFold semantics): every member of a near-duplicate
    cluster lands in the SAME split, so an eval document can never
    have a near-copy in train — the contamination mode a plain
    per-doc hash split cannot prevent and eval integrity requires
    preventing.  Group key = connected-component label from
    `dedup_clusters` (singletons fall back to their own doc_id).
    One manifest row per (source, split): doc count, char volume, the
    order-independent membership fingerprint, and `n_cluster_bound` —
    how many docs' split was DECIDED by a cluster label other than
    their own id (the rows a per-doc split could have scattered).

    Scale plan: the cluster-label relation covers only near-dup
    members (a small fraction of the corpus), joined to the corpus on
    doc_id (AQE picks broadcast when it fits); everything else is the
    `train_split` shape — map-side hash + one |sources|x3-key
    hash-agg."""
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup.duplicate_clusters(docs, JACCARD_THRESHOLD).select(
        "doc_id", "cluster_id"
    )
    d = docs.join(labels, "doc_id", "left").withColumn(
        "gkey", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    bucket = sampling._portable_hash(F.col("gkey"), "sp0") % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    fp = sampling._portable_hash(F.col("doc_id"), "sfp") % 1_000_000
    return (
        d.select(
            "source",
            split.alias("split"),
            "n_chars",
            fp.alias("fp"),
            (F.col("gkey") != F.col("doc_id"))
            .cast("bigint")
            .alias("bound"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("fp").cast("bigint").alias("fingerprint"),
            F.sum("bound").cast("bigint").alias("n_cluster_bound"),
        )
        .orderBy("source", "split")
    )


SQL_TRAIN_SPLIT = f"""
WITH d AS (
  SELECT source, n_chars,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'sp0'),
              1, 15)) AS BIGINT) % 100 AS bucket,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'sfp'),
              1, 15)) AS BIGINT) % 1000000 AS fp
  FROM documents)
SELECT source,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(fp) AS BIGINT) AS fingerprint
FROM d
GROUP BY 1, 2
ORDER BY source, split
"""

SQL_TRAIN_SPLIT_LEAKAGE_SAFE = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
d AS (
  SELECT doc.source, doc.n_chars,
         COALESCE(l.cluster_id, doc.doc_id) AS gkey,
         CASE WHEN COALESCE(l.cluster_id, doc.doc_id) <> doc.doc_id
              THEN 1 ELSE 0 END AS bound,
         CAST(concat('0x', substr(md5(
              CAST(doc.doc_id AS VARCHAR) || 'sfp'),
              1, 15)) AS BIGINT) % 1000000 AS fp
  FROM documents doc LEFT JOIN lab l ON l.doc_id = doc.doc_id),
b AS (
  SELECT source, n_chars, fp, bound,
         CAST(concat('0x', substr(md5(CAST(gkey AS VARCHAR) || 'sp0'),
              1, 15)) AS BIGINT) % 100 AS bucket
  FROM d)
SELECT source,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(fp) AS BIGINT) AS fingerprint,
       CAST(SUM(bound) AS BIGINT) AS n_cluster_bound
FROM b
GROUP BY 1, 2
ORDER BY source, split
"""


def q_corpus_dup_stats(spark, sf_dir):
    """Corpus-LEVEL duplication profile — the headline number of Lee
    et al. 2022 ("what fraction of the training corpus is duplicated
    text?"): one row with total window-fingerprint mass, the mass
    whose fingerprint occurs in >1 document, the duplicated fraction,
    distinct fingerprints, and how many documents carry ANY
    cross-document duplicate.  The corpus dashboard over the same CDC
    window machinery as `substring_dedup` (per-doc grain).

    Scale plan: identical exchanges to substring_dedup (the shared
    `substring_doc_fp_counts` extraction), then a 1-row final
    aggregate — corpus-sized work, constant-sized answer.
    """
    doc_fp = substring_doc_fp_counts(
        load_table(spark, sf_dir, "documents")
    )
    fp_docs = doc_fp.groupBy("fp").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    joined = doc_fp.join(fp_docs, "fp")
    return joined.agg(
        F.sum("cnt").cast("bigint").alias("total_windows"),
        F.sum(F.when(F.col("nd") > 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("dup_windows"),
        (
            F.sum(F.when(F.col("nd") > 1, F.col("cnt")).otherwise(0))
            .cast("double")
            / F.sum("cnt")
        ).alias("dup_frac"),
        F.count_distinct("fp").alias("distinct_fps"),
        F.count_distinct(
            F.when(F.col("nd") > 1, F.col("doc_id"))
        ).alias("docs_with_dup"),
    )


SQL_CORPUS_DUP_STATS = f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents),
anch AS (
  SELECT doc_id, t,
         list_filter(
           range(1, greatest(len(t) - {SUB_TOKENS - 1}, 1) + 1),
           i -> CAST(concat('0x',
                  substr(md5(concat(t[i], 'sd0')), 1, 15)) AS BIGINT)
                % {SUB_ANCHOR_MOD} = 0) AS starts
  FROM toks),
win AS (
  SELECT doc_id,
         unnest(CASE WHEN len(starts) = 0 THEN [CAST(1 AS BIGINT)]
                     ELSE starts END) AS start_i,
         t
  FROM anch),
doc_fp AS (
  SELECT doc_id,
         substr(md5(array_to_string(
             t[start_i : start_i + {SUB_TOKENS} - 1], ' ')), 1, 16) AS fp,
         COUNT(*) AS cnt
  FROM win GROUP BY doc_id, fp),
fp_docs AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM doc_fp GROUP BY fp)
SELECT CAST(SUM(d.cnt) AS BIGINT) AS total_windows,
       CAST(SUM(CASE WHEN f.nd > 1 THEN d.cnt ELSE 0 END) AS BIGINT)
         AS dup_windows,
       CAST(SUM(CASE WHEN f.nd > 1 THEN d.cnt ELSE 0 END) AS DOUBLE)
         / SUM(d.cnt) AS dup_frac,
       COUNT(DISTINCT d.fp) AS distinct_fps,
       COUNT(DISTINCT CASE WHEN f.nd > 1 THEN d.doc_id END)
         AS docs_with_dup
FROM doc_fp d JOIN fp_docs f USING (fp)
"""


def q_gopher_report(spark, sf_dir):
    """Per-(source, lang) Gopher-gate dashboard: docs, pass count,
    pass rate, and mean rules-failed — the curation monitoring view
    over `gopher_quality` (first-drop attribution per corpus slice,
    the `curation_report` pattern).  pass_rate/mean fails are exact
    integer ratios through one double division."""
    flags = q_gopher_quality(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    n_fail = (
        (1 - F.col("ok_n_words"))
        + (1 - F.col("ok_mean_len"))
        + (1 - F.col("ok_alpha"))
        + (1 - F.col("ok_stop"))
        + (1 - F.col("ok_top_unigram"))
    )
    return (
        flags.join(docs, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("passes").cast("bigint").alias("n_pass"),
            (
                F.sum("passes").cast("double") / F.count(F.lit(1))
            ).alias("pass_rate"),
            (
                F.sum(n_fail).cast("double") / F.count(F.lit(1))
            ).alias("mean_rules_failed"),
        )
        .orderBy("source", "lang")
    )


SQL_GOPHER_REPORT = f"""
WITH flags AS (SELECT * FROM ({SQL_GOPHER_QUALITY})),
j AS (
  SELECT f.*, d.source, d.lang
  FROM flags f JOIN documents d USING (doc_id))
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(passes) AS BIGINT) AS n_pass,
       CAST(SUM(passes) AS DOUBLE) / COUNT(*) AS pass_rate,
       CAST(SUM((1 - ok_n_words) + (1 - ok_mean_len) + (1 - ok_alpha)
                + (1 - ok_stop) + (1 - ok_top_unigram)) AS DOUBLE)
         / COUNT(*) AS mean_rules_failed
FROM j
GROUP BY source, lang
ORDER BY source, lang
"""


def q_doc_embedding_stats(spark, sf_dir):
    """Modality-join feature table: text metadata × vector stats per
    (source, label) — the integrity-plus-profile view of a multimodal
    corpus where documents and their embeddings live in separate
    tables (doc_id = vec_id).  Reports joined doc counts (an inner
    join, so a missing-embedding or orphan-vector regression shows up
    as count drift against `profile_table`), mean document length,
    and mean/max embedding L2 norm (zero or exploding norms are the
    standard embedding-pipeline failure).

    Scale plan: one equi-join on the shared key (AQE broadcasts the
    smaller side or shuffles both at lake scale) into a
    |sources|×|labels|-key hash-agg; norms are per-row map-side folds
    (float32→float64 widening exact, the emb_centroid determinism
    recipe), means rounded 6 dp.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.sqrt(
            F.aggregate(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            )
        ).alias("nrm"),
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("source", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_chars"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("source", "label")
    )


SQL_DOC_EMBEDDING_STATS = """
WITH e AS (
  SELECT vec_id, label,
         sqrt(list_aggregate(list_transform(
             CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS nrm
  FROM embeddings)
SELECT d.source, e.label,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars,
       ROUND(AVG(e.nrm), 6) AS mean_norm,
       ROUND(MAX(e.nrm), 6) AS max_norm
FROM documents d JOIN e ON d.doc_id = e.vec_id
GROUP BY d.source, e.label
ORDER BY d.source, e.label
"""


def q_neardup_jaccard_histogram(spark, sf_dir):
    """Verified-jaccard distribution of the MinHash near-dup pairs in
    0.02 bins over [threshold, 1] — the tuning view for picking a
    dedup threshold (how much mass sits just above the cut?).  Bins
    are computed from the 4dp-rounded jaccard (exact integer floor),
    so binning is engine-deterministic; the completeness caveat is
    `dedup_minhash_pairs`' own (LSH at ≥0.8 misses a pair with
    probability ≈2e-4 — the established oracle contract)."""
    pairs = dedup.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )
    return (
        pairs.select(
            (F.floor(F.col("jaccard") * 50) / 50).alias("bin_lo")
        )
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bin_lo")
    )


SQL_NEARDUP_JACCARD_HISTOGRAM = f"""
WITH sh AS ({{_DUCK_SHINGLES}}),
pairs AS (
  SELECT ROUND(len(list_intersect(a.sh, b.sh))
           / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD})
SELECT FLOOR(j * 50) / 50 AS bin_lo, COUNT(*) AS n_pairs
FROM pairs
GROUP BY 1
ORDER BY bin_lo
"""


# -- sequential filter waterfall (round 6, late) ------------------------------

#: Gate ladder order for the waterfall — mirrors the flag order of
#: ``q_gopher_quality`` (first-drop attribution is order-sensitive,
#: which is exactly what this view exists to show).
_WATERFALL_GATES = ("n_words", "mean_len", "alpha", "stop", "top_unigram")


def q_filter_waterfall(spark, sf_dir):
    """Sequential quality-gate waterfall: for the ordered Gopher rule
    ladder, how many docs reach each gate, how many that gate drops
    (given every earlier gate passed), and the conditional drop rate.
    This is the curation-tuning view `gopher_report` cannot give you —
    pass/fail counts per rule ignore ordering, while pipeline cost and
    drop attribution are inherently sequential (RefinedWeb Fig. 2
    reports exactly this removal-rate cascade).

    Scale plan: one per-doc first-failure projection over the
    `gopher_quality` flags, then a SINGLE global partial+final
    aggregate to six counters (one row), and the 5 output rows are
    exploded from that one row — no join, no window, nothing keyed by
    doc past the flag aggregation.  drop_rate is one double division
    of exact bigints (engine-portable).
    """
    flags = q_gopher_quality(spark, sf_dir)
    first_fail = (
        F.when(F.col("ok_n_words") == 0, 0)
        .when(F.col("ok_mean_len") == 0, 1)
        .when(F.col("ok_alpha") == 0, 2)
        .when(F.col("ok_stop") == 0, 3)
        .when(F.col("ok_top_unigram") == 0, 4)
        .otherwise(99)
    )
    counts = flags.select(first_fail.alias("ff")).groupBy().agg(
        F.count(F.lit(1)).alias("total"),
        *[
            F.sum(F.when(F.col("ff") == i, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i}")
            for i in range(5)
        ],
    )
    gate_structs = []
    for i, gate in enumerate(_WATERFALL_GATES):
        n_in = F.col("total")
        for j in range(i):
            n_in = n_in - F.col(f"c{j}")
        gate_structs.append(
            F.struct(
                F.lit(gate).alias("gate"),
                n_in.alias("n_in"),
                F.col(f"c{i}").alias("n_drop"),
            )
        )
    rows = counts.select(
        F.posexplode(F.array(*gate_structs)).alias("gate_no", "g")
    )
    return rows.select(
        "gate_no",
        F.col("g.gate").alias("gate"),
        F.col("g.n_in").alias("n_in"),
        F.col("g.n_drop").alias("n_drop"),
        (F.col("g.n_in") - F.col("g.n_drop")).alias("n_out"),
        F.when(
            F.col("g.n_in") > 0,
            F.col("g.n_drop").cast("double") / F.col("g.n_in"),
        ).alias("drop_rate"),
    ).orderBy("gate_no")


SQL_FILTER_WATERFALL = f"""
WITH flags AS (SELECT * FROM ({SQL_GOPHER_QUALITY})),
ff AS (
  SELECT CASE WHEN ok_n_words = 0 THEN 0
              WHEN ok_mean_len = 0 THEN 1
              WHEN ok_alpha = 0 THEN 2
              WHEN ok_stop = 0 THEN 3
              WHEN ok_top_unigram = 0 THEN 4
              ELSE 99 END AS ff
  FROM flags),
c AS (
  SELECT COUNT(*) AS total,
         CAST(SUM(CASE WHEN ff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
  FROM ff),
g AS (
  SELECT * FROM (VALUES
    (0, 'n_words'), (1, 'mean_len'), (2, 'alpha'),
    (3, 'stop'), (4, 'top_unigram')) AS t(gate_no, gate)),
w AS (
  SELECT gate_no, gate,
         total - (CASE WHEN gate_no > 0 THEN c0 ELSE 0 END
                  + CASE WHEN gate_no > 1 THEN c1 ELSE 0 END
                  + CASE WHEN gate_no > 2 THEN c2 ELSE 0 END
                  + CASE WHEN gate_no > 3 THEN c3 ELSE 0 END) AS n_in,
         CASE gate_no WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
                      WHEN 3 THEN c3 ELSE c4 END AS n_drop
  FROM g CROSS JOIN c)
SELECT gate_no, gate, n_in, n_drop, n_in - n_drop AS n_out,
       CASE WHEN n_in > 0
            THEN n_drop / CAST(n_in AS DOUBLE) END AS drop_rate
FROM w
ORDER BY gate_no
"""


# -- temperature language rebalancing (round 6, late) -------------------------

#: Token budget handed to the sampler (the number being allocated
#: across languages).  s·budget stays far inside int64 up to
#: corpus sizes of ~10^22 tokens (s = floor(sqrt(tokens)·1e6)).
_LANG_BALANCE_BUDGET = 1_000_000


def q_lang_balance_sample(spark, sf_dir):
    """Temperature-based multilingual rebalancing (the XLM-R / mT5
    sampler, alpha = 0.5): per language, raw token share and the
    temperature-flattened sampling share p_l proportional to
    sqrt(n_tokens_l), plus the integer token budget each language gets
    under `_LANG_BALANCE_BUDGET`.  The exact-arithmetic core: the
    sqrt is scaled to an int64 (floor(sqrt·1e6)) BEFORE normalizing,
    so the denominator is an exact integer sum (no float-sum
    order-dependence) and the budget is exact int64 floor division;
    the two emitted ratios are then single double divisions of exact
    integers (bit-identical cross-engine; IEEE-754 sqrt is correctly
    rounded, unlike pow — which is why alpha is 0.5 and not Conneau's
    0.3).

    Scale plan: one hash-agg corpus pass to |langs| rows, a 1-row
    total aggregated FROM those rows, and a |langs|x1 broadcast cross
    join to normalize — the `dsir_importance` scalar-broadcast shape;
    nothing wide ever shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .withColumn(
            "s",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    tot = per.groupBy().agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.sum("s").cast("bigint").alias("tot_s"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("tot_tokens")).alias(
                "p_raw"
            ),
            (F.col("s").cast("double") / F.col("tot_s")).alias("p_temp"),
            F.expr(
                f"(s * {_LANG_BALANCE_BUDGET}L) div tot_s"
            ).alias("budget_tokens"),
        )
        .orderBy("lang")
    )


SQL_LANG_BALANCE_SAMPLE = f"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
scaled AS (
  SELECT *, CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
                 AS BIGINT) AS s
  FROM per),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(SUM(s) AS BIGINT) AS tot_s
  FROM scaled)
SELECT lang, n_docs, n_tokens,
       n_tokens / CAST(tot_tokens AS DOUBLE) AS p_raw,
       s / CAST(tot_s AS DOUBLE) AS p_temp,
       (s * {_LANG_BALANCE_BUDGET}) // tot_s AS budget_tokens
FROM scaled CROSS JOIN tot
ORDER BY lang
"""


# -- tokenizer fertility by language (round 6, late) --------------------------


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility dashboard: per language, BPE-regex tokens
    per whitespace word (the "fertility" a tokenizer team watches when
    rebalancing a multilingual vocab) and chars per BPE token.  High
    fertility = the tokenizer fragments that language's words; the
    per-language grain is what makes it actionable (`bpe_token_count`
    carries the per-doc grain).

    Integer-exact sums; the two ratios are single double divisions of
    exact bigints.  Scale plan: map-only regex projection (codegen, no
    Python) then ONE hash-agg to |langs| rows — one bounded exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.expr(f"regexp_extract_all(lower(text), '{_BPE_PATTERN}', 0)")
    )
    n_ws = F.size(F.split("text", " "))
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_ws).cast("bigint").alias("n_words"),
        F.sum(n_bpe).cast("bigint").alias("n_bpe_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
            "fertility"
        ),
        (F.col("n_chars").cast("double") / F.col("n_bpe_tokens")).alias(
            "chars_per_token"
        ),
    ).orderBy("lang")


SQL_TOKENIZER_FERTILITY = f"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_words,
         CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')))
              AS BIGINT) AS n_bpe_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang)
SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
       n_bpe_tokens / CAST(n_words AS DOUBLE) AS fertility,
       n_chars / CAST(n_bpe_tokens AS DOUBLE) AS chars_per_token
FROM per
ORDER BY lang
"""


# -- per-doc n-gram novelty (round 6, late) -----------------------------------

_NOVELTY_N = 8


def q_doc_ngram_novelty(spark, sf_dir):
    """Per-document 8-gram novelty: the fraction of a doc's word
    8-grams never seen earlier in the corpus (earlier = smaller
    (doc_id, position)) — the memorization-risk / marginal-information
    score of Lee et al. 2022 §5: low-novelty docs are the ones
    near-dup screens miss but training mostly re-reads.

    Scale plan: shingles are md5-hashed map-side (16-byte keys — the
    document text never shuffles); first-occurrence is ONE window
    partitioned by the shingle hash (high cardinality, never a global
    sort); then one hash-agg back on doc_id.  Same two-exchange shape
    as `line_dedup`, which the registry already scales.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    grams = docs.where(F.size(w) >= _NOVELTY_N).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - _NOVELTY_N),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(w, i + 1, _NOVELTY_N))
                ),
            )
        ).alias("pos", "h"),
    )
    win = Window.partitionBy("h").orderBy("doc_id", "pos")
    flagged = grams.withColumn("rn", F.row_number().over(win))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_ngrams"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_NGRAM_NOVELTY = f"""
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(
               w[CAST(i + 1 AS INT):CAST(i + {_NOVELTY_N} AS INT)], ' '))
           AS h
  FROM toks, UNNEST(range(0, len(w) - {_NOVELTY_N - 1})) AS t(i)
  WHERE len(w) >= {_NOVELTY_N}),
f AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM g)
SELECT doc_id, COUNT(*) AS n_ngrams,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM f
GROUP BY doc_id
ORDER BY doc_id
"""


# -- soft dedup weights (round 6, late) ---------------------------------------


def q_dedup_soft_weights(spark, sf_dir):
    """SoftDedup-style duplicate DOWN-WEIGHTING (He et al. 2024):
    instead of dropping exact duplicates, every doc gets sampling
    weight 1/cluster_size (cluster = exact-text md5 group), so each
    distinct text contributes one document-equivalent of gradient
    regardless of copy count.  eff_tokens = n_words·weight is the
    per-doc contribution to the deduped token budget.

    Scale plan: cluster size via a count window PARTITIONED by the
    16-byte text fingerprint — ONE hash exchange on a high-cardinality
    key (strictly cheaper than the groupBy+self-join form: no second
    shuffle, text never moves after the map-side md5).  Ratios are
    single double divisions of exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    )
    csize = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return (
        sized.withColumn("cluster_size", csize.cast("bigint"))
        .select(
            "doc_id",
            "cluster_size",
            (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
            (F.col("n_words").cast("double") / F.col("cluster_size")).alias(
                "eff_tokens"
            ),
        )
        .orderBy("doc_id")
    )


SQL_DEDUP_SOFT_WEIGHTS = """
WITH sized AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents),
c AS (
  SELECT doc_id, n_words,
         COUNT(*) OVER (PARTITION BY fp) AS cluster_size
  FROM sized)
SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(1 AS DOUBLE) / cluster_size AS weight,
       n_words / CAST(cluster_size AS DOUBLE) AS eff_tokens
FROM c
ORDER BY doc_id
"""


def q_curation_weighted_sample(spark, sf_dir):
    """Soft-dedup weights applied at mixture-sampling time — the
    RefinedWeb-style composition of three green parents: each doc's
    sampling mass is its character count DOWN-WEIGHTED by its exact-
    dup cluster size (`dedup_soft_weights`), the admission order
    within each source is the deterministic A-ES weighted draw on
    that mass (`sample_weighted`), and each source's budget fills
    until the running EFFECTIVE mass would exceed it
    (`mixture_budget_sample`'s 3000/1500-char budgets).  So a text
    duplicated 10× competes for budget with one-tenth the mass per
    copy instead of being dropped — duplicates are down-weighted,
    not discarded (He et al. 2024).

    Numerics: effective mass is kept as EXACT integer micro-chars
    (n_chars·10⁶ DIV cluster_size), so the per-source running sum is
    a BIGINT cumulative — no float-summation drift anywhere; the A-ES
    draw key is only ever COMPARED (identical IEEE doubles both
    engines), never summed.

    Scale plan: one fp exchange for the cluster-size window + one
    source exchange for the budget window (both high-cardinality /
    bounded-state respectively), draw key map-only — the same two-
    exchange shape as its parents combined; nothing global.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", "n_chars", F.md5("text").alias("fp")
    )
    csize = (
        F.count(F.lit(1)).over(Window.partitionBy("fp")).cast("bigint")
    )
    from ..operators.sampling import _U_DENOM, _portable_hash

    u = (_portable_hash(F.col("doc_id"), "w0") + 1) / F.lit(_U_DENOM)
    weighted = (
        sized.withColumn("cluster_size", csize)
        .withColumn(
            "eff_chars_q6",
            F.expr(
                "CAST(n_chars AS BIGINT) * 1000000 DIV cluster_size"
            ),
        )
        .withColumn(
            "__draw",
            -F.log(u)
            / (
                F.col("n_chars").cast("double")
                / F.col("cluster_size")
            ),
        )
    )
    budget_q6 = F.when(
        F.substring("source", -1, 1).isin("0", "1", "2", "3", "4"),
        F.lit(3000000000),
    ).otherwise(F.lit(1500000000))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("__draw").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weighted.select(
            "doc_id",
            "source",
            "cluster_size",
            "eff_chars_q6",
            F.sum("eff_chars_q6").over(w).cast("bigint").alias(
                "cum_eff_q6"
            ),
            budget_q6.cast("bigint").alias("budget_q6"),
        )
        .where(F.col("cum_eff_q6") <= F.col("budget_q6"))
        .orderBy("source", "cum_eff_q6", "doc_id")
    )


SQL_CURATION_WEIGHTED_SAMPLE = f"""
WITH sized AS (
  SELECT doc_id, source, n_chars, md5(text) AS fp FROM documents),
c AS (
  SELECT doc_id, source, n_chars,
         COUNT(*) OVER (PARTITION BY fp) AS cluster_size
  FROM sized),
drawn AS (
  SELECT doc_id, source, cluster_size,
         CAST(n_chars AS BIGINT) * 1000000 // cluster_size
           AS eff_chars_q6,
         -ln(({_DUCK_HASH_W} + 1) / 1152921504606846977.0)
           / (n_chars / CAST(cluster_size AS DOUBLE)) AS draw
  FROM c),
filled AS (
  SELECT doc_id, source,
         CAST(cluster_size AS BIGINT) AS cluster_size,
         eff_chars_q6,
         CAST(SUM(eff_chars_q6) OVER (PARTITION BY source
              ORDER BY draw ASC, doc_id ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_eff_q6,
         CAST(CASE WHEN substr(source, -1) IN ('0','1','2','3','4')
              THEN 3000000000 ELSE 1500000000 END AS BIGINT)
           AS budget_q6
  FROM drawn)
SELECT doc_id, source, cluster_size, eff_chars_q6, cum_eff_q6,
       budget_q6
FROM filled
WHERE cum_eff_q6 <= budget_q6
ORDER BY source, cum_eff_q6, doc_id
"""


# ---------------------------------------------------------------------------
# bigram_pmi — collocation mining via pointwise mutual information
# (round 10)
# ---------------------------------------------------------------------------

#: minimum bigram count for a PMI candidate (PMI explodes on
#: hapaxes — the standard collocation floor; Church & Hanks 1990)
PMI_MIN_COUNT = 5
PMI_TOPN = 20


def q_bigram_pmi(spark, sf_dir):
    """Top collocations by pointwise mutual information — the phrase
    -mining primitive (Church & Hanks 1990) a tokenizer pipeline runs
    to decide which adjacent word pairs deserve a merged vocabulary
    entry: PMI = ln(c(w1,w2)·N / (c(w1·)·c(·w2))) over the corpus
    bigram table, floored at count ≥ 5 because PMI explodes on
    hapaxes.  `bigram_logprob`'s counts answer "how surprising is
    this document?"; the SAME counts here answer "which pairs stick
    together?".

    Determinism: every probability ratio is built from exact integer
    counts (identical doubles on both engines before the det6 floor);
    the top-20 order is total — (pmi DESC, w1, w2) — so the cut line
    cannot flip on ties.

    Scale plan: ONE corpus explode into the bigram-count relation
    (persisted — it feeds both marginals and the scorer), marginals
    as two further hash-aggs of THAT table (vocabulary-sized, never
    the corpus again), the grand total a 1-row broadcast, and the
    head a TakeOrderedAndProject (no global sort materializes).
    Measured (bench_one --gc-each): sf1 1.83 s → sf10 3.74 s,
    2.0×/decade — sub-linear on 32 cores, scan-bound.
    """
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    pairs = (
        docs.select(arr.alias("a"))
        .where(F.size("a") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("a"), 1, F.size("a") - 1).alias("w1"),
                    F.slice(F.col("a"), 2, F.size("a") - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    cb = persist_scoped(
        "pmi_bigram_counts",
        pairs.groupBy("w1", "w2").agg(
            F.count("*").cast("bigint").alias("c12")
        ),
    )
    c1 = cb.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    c2 = cb.groupBy("w2").agg(F.sum("c12").cast("bigint").alias("c2"))
    total = cb.agg(F.sum("c12").cast("bigint").alias("n_big"))
    det6 = "CAST(FLOOR(({expr}) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    pmi = "ln((c12 * n_big) / (CAST(c1 AS DOUBLE) * c2))"
    return (
        cb.where(F.col("c12") >= PMI_MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "w1", "w2", "c12", det6.format(expr=pmi) + " AS pmi"
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOPN)
    )


SQL_BIGRAM_PMI = f"""
WITH toks AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                          'g')), ' ') AS a
  FROM documents
  WHERE len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
        'g')), ' ')) >= 2),
pairs AS (
  SELECT a[i] AS w1, a[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(a))) AS t(i)
  WHERE a[i] <> '' AND a[i + 1] <> ''),
cb AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cb GROUP BY w1),
c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM cb GROUP BY w2),
total AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_big FROM cb)
SELECT w1, w2, c12,
       CAST(FLOOR(ln((c12 * n_big) / (CAST(c1 AS DOUBLE) * c2))
                  * 1e6 + 0.5) AS DOUBLE) / 1e6 AS pmi
FROM cb
JOIN c1 USING (w1)
JOIN c2 USING (w2)
CROSS JOIN total
WHERE c12 >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOPN}
"""


# ---------------------------------------------------------------------------
# text_readability — Flesch reading-ease profile per language (round 10)
# ---------------------------------------------------------------------------


def q_text_readability(spark, sf_dir):
    """Per-language Flesch reading-ease profile — the grade-level
    signal curation recipes use next to the Gopher length/symbol
    rules (FRE = 206.835 − 1.015·W/S − 84.6·Y/W over words W,
    sentences S, syllables Y; Flesch 1948; Kincaid et al. 1975).
    Syllables use the standard vowel-group proxy ([aeiouy]+ runs) —
    the deterministic, language-agnostic estimator every large-scale
    readability pass uses, since dictionary syllabification doesn't
    distribute.

    Computed MACRO-LEVEL: the per-language W/S/Y totals are exact
    BIGINTs and FRE is evaluated on the aggregate ratios — summing
    per-doc float scores would be float-order-sensitive across
    engines, integer totals are not (the stats_agg discipline).

    Scale plan: three regexp_count projections (codegen, no explode —
    the counts never materialize token rows), one map-side-combined
    hash-agg to ≤|langs| rows.  One corpus scan, text column only.
    """
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.selectExpr(
        "lang",
        r"regexp_count(text, '\\S+') AS w",
        r"greatest(regexp_count(text, '[.!?]+'), 1) AS s",
        r"greatest(regexp_count(lower(text), '[aeiouy]+'), 1) AS y",
    )
    det6 = "CAST(FLOOR(({expr}) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    fre = (
        "206.835 - 1.015 * (words / CAST(sentences AS DOUBLE))"
        " - 84.6 * (syllables / CAST(words AS DOUBLE))"
    )
    return (
        counted.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("words"),
            F.sum("s").cast("bigint").alias("sentences"),
            F.sum("y").cast("bigint").alias("syllables"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "words",
            "sentences",
            "syllables",
            det6.format(expr=fre) + " AS flesch",
        )
        .orderBy("lang")
    )


SQL_TEXT_READABILITY = r"""
WITH counted AS (
  SELECT lang,
         len(regexp_extract_all(text, '\S+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS y
  FROM documents),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS words,
         CAST(SUM(s) AS BIGINT) AS sentences,
         CAST(SUM(y) AS BIGINT) AS syllables
  FROM counted GROUP BY lang)
SELECT lang, n_docs, words, sentences, syllables,
       CAST(FLOOR((206.835
                   - 1.015 * (words / CAST(sentences AS DOUBLE))
                   - 84.6 * (syllables / CAST(words AS DOUBLE)))
                  * 1e6 + 0.5) AS DOUBLE) / 1e6 AS flesch
FROM agg
ORDER BY lang
"""


#: RAKE stopword list (fixed; the fixture vocabulary uses 'a'/'the',
#: the rest future-proof the splitter) and candidate length cap
_RAKE_STOPS = ("a", "the", "of", "and", "in", "on", "to", "is")
_RAKE_MAX_LEN = 4
_RAKE_TOPK = 20


def q_text_keyphrases_rake(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free word runs (length ≤ 4); each word scores degree/frequency (degree = Σ length of
    candidate phrases containing it — co-occurrence reach; frequency
    = its candidate occurrences); a phrase scores the sum of its
    member words; top-20 phrases corpus-wide.  The unsupervised
    topic-labeling pass a curation pipeline runs to answer "what is
    this corpus about?" before mixing it.

    Determinism: word scores are floored to integer micro-units
    (deg·10⁶ DIV freq) BEFORE the phrase sum, so the sum is an exact
    integer fold in any order — summing rounded doubles instead would
    be float-order-sensitive under hash aggregation.  The top-k tie
    order is (score desc, phrase asc) — total.

    Scale plan: the only corpus-volume stage is the token explode
    (one pass); phrase-id assignment is a running stopword count —
    ONE window PARTITIONED BY doc_id over that explode (doc-bounded
    partitions); phrase assembly sorts ≤doc-length structs inside a
    hash-agg; word stats and phrase scores are hash-aggs on the
    bounded candidate vocabulary; the head is TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w"),
    ).where(F.col("w") != "")
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = words.withColumn(
        "is_stop", F.col("w").isin(*_RAKE_STOPS)
    ).withColumn(
        "phrase_id", F.sum(F.col("is_stop").cast("int")).over(w_run)
    )
    cands = (
        marked.where(~F.col("is_stop"))
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "w"))
            ).alias("parts")
        )
        .select(
            F.concat_ws(
                " ", F.transform("parts", lambda s: s["w"])
            ).alias("phrase"),
            F.size("parts").alias("plen"),
        )
        .where(F.col("plen") <= _RAKE_MAX_LEN)
    )
    cands = persist_scoped("rake_cands", cands)
    member = cands.select(
        "phrase",
        "plen",
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    wstats = member.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    # deg*1e6 first would overflow int64 once a word's summed phrase
    # lengths pass ~9.2e12 (reachable at 100 TB corpus frequencies);
    # the quotient/remainder split is the exact same value with the
    # largest intermediate bounded by freq*1e6 (the reduce-before-
    # multiply discipline from zone_map_effectiveness, VERDICT r12
    # item 7)
    wscore = wstats.select(
        "w",
        F.expr(
            "(deg DIV freq) * 1000000"
            " + (deg % freq) * 1000000 DIV freq"
        ).alias("uscore"),
    )
    pdist = cands.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    pmember = pdist.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    phrase_scores = (
        pmember.join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("uscore").cast("bigint").alias("uscore_sum"))
        .join(pdist, "phrase")
    )
    return (
        phrase_scores.selectExpr(
            "phrase",
            "n_occurrences",
            "CAST(uscore_sum AS DOUBLE) / 1e6 AS rake_score",
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(_RAKE_TOPK)
    )


def _sql_text_keyphrases_rake() -> str:
    # The oracle segments phrases with string surgery instead of a
    # positional window: doubling the spaces makes each token carry
    # its own delimiters, so the stopword regex can't eat its
    # neighbor's boundary, then runs split on the marker.
    stops = "|".join(_RAKE_STOPS)
    return f"""
WITH cands AS MATERIALIZED (
  SELECT phrase, len(str_split(phrase, ' ')) AS plen
  FROM (
    SELECT regexp_replace(trim(p), ' +', ' ', 'g') AS phrase
    FROM (SELECT str_split(regexp_replace(
             ' ' || replace(lower(text), ' ', '  ') || ' ',
             ' ({stops}) ', '|', 'g'), '|') AS ps
          FROM documents) t, UNNEST(t.ps) AS u(p))
  WHERE phrase <> ''
    AND len(str_split(phrase, ' ')) <= {_RAKE_MAX_LEN}),
member AS (
  SELECT phrase, plen, unnest(str_split(phrase, ' ')) AS w FROM cands),
wscore AS (
  SELECT w, (CAST(SUM(plen) AS BIGINT) // CAST(COUNT(*) AS BIGINT))
            * 1000000
            + (CAST(SUM(plen) AS BIGINT) % CAST(COUNT(*) AS BIGINT))
            * 1000000 // CAST(COUNT(*) AS BIGINT) AS uscore
  FROM member GROUP BY 1),
pdist AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM cands GROUP BY 1),
pmember AS (
  SELECT phrase, unnest(str_split(phrase, ' ')) AS w FROM pdist),
scored AS (
  SELECT phrase, CAST(SUM(uscore) AS BIGINT) AS uscore_sum
  FROM pmember JOIN wscore USING (w)
  GROUP BY 1)
SELECT s.phrase, p.n_occurrences,
       CAST(uscore_sum AS DOUBLE) / 1e6 AS rake_score
FROM scored s JOIN pdist p USING (phrase)
ORDER BY rake_score DESC, phrase ASC
LIMIT {_RAKE_TOPK}
"""


SQL_TEXT_KEYPHRASES_RAKE = _sql_text_keyphrases_rake()


#: RRF fusion constants (Cormack, Clarke & Büttcher 2009): the
#: classic k=60 dampener, 50-deep arms, 10 fused results per query
_RRF_K = 60
_RRF_DEPTH = 50
_RRF_TOPN = 10


#: graded-gain bucket width: an exact-top-k item's grade is how close
#: its cosine sits to the query's BEST cosine, in 0.05-wide buckets —
#: within 0.05 of the best → grade 4, within 0.10 → 3, 0.15 → 2,
#: anything further (but still in the exact top-k) → 1; non-relevant
#: retrieved items → gain 0.  Relative-to-best buckets, not absolute
#: cosine buckets: the fixture's top-k cosines live in 0.24-0.40, so
#: absolute buckets would collapse every grade to the same value.
_GRADE_BUCKET = 0.05


def q_retrieval_eval_graded(spark, sf_dir):
    """Graded-relevance nDCG@k (Järvelin & Kekäläinen 2002) that
    ranks THREE retrieval arms on one scale — BQ Hamming, IVFADC, and
    their reciprocal-rank fusion (the `hybrid_search_rrf` recipe
    applied in-domain): `retrieval_eval`'s binary gain can't separate
    an arm that returns the query's very best neighbors from one that
    returns its 10th-best ten times; gain 2^grade − 1 with
    cosine-bucket grades does (VERDICT r11 item 7).

    Determinism: grades are integer buckets of (best_cos − cos_sim)
    on the 4-dp-rounded cosines both engines already share; the exact
    ranking is an ideal ordering (grade is monotone in cosine) so
    IDCG reuses the exact ranks; the RRF arm ranks on the det6-rounded
    fused score with vec_id tie-breaks (the `hybrid_search_rrf`
    discipline); per-(method, qid) nDCG is a ≤k-term sum, det6.

    Scale plan: every input is an established ≤|Q|·k-row top-k
    relation (corpus touched only inside the arm builders); the
    graded relation is ≤|Q|·k rows and broadcast into each arm's
    left join; the RRF fusion is a full-outer equi-join of two
    ≤|Q|·k-row relations with a qid-partitioned top-k window.

    Measured (bench_one, fresh JVM, min-of-3, GC-each): sf1 5.74 s /
    sf10 13.95 s — 2.4×/decade, tracking the two corpus ANN scans
    (the fusion and scoring stages are ≤|Q|·k-row work)."""
    emb = load_table(spark, sf_dir, "embeddings")
    grade_expr = (
        f"CAST(GREATEST(1, 4 - CAST(FLOOR((best_cos - cos_sim)"
        f" / {_GRADE_BUCKET}) AS INT)) AS INT) AS grade"
    )

    def graded_arm():
        exact = similarity.cosine_topk(emb, QUERY_VEC_IDS, TOPK)
        best = exact.groupBy("qid").agg(F.max("cos_sim").alias("best_cos"))
        return persist_scoped(
            "retrieval_eval_graded_rels",
            exact.join(F.broadcast(best), "qid").selectExpr(
                "qid", "vec_id", "rk AS rk_exact", grade_expr
            ),
        )

    def bq_arm():
        return persist_scoped(
            "retrieval_eval_graded_bq",
            similarity.bq_topk(emb, QUERY_VEC_IDS, TOPK).select(
                "qid", "vec_id", "rk"
            ),
        )

    def ivf_arm():
        return persist_scoped(
            "retrieval_eval_graded_ivf",
            similarity.ivfpq_topk(
                emb,
                QUERY_VEC_IDS,
                TOPK,
                n_lists=IVF_N_LISTS,
                nprobe=IVF_NPROBE,
                m=PQ_M,
                k=PQ_K,
            ).select("qid", "vec_id", "rk"),
        )

    # the three arm relations are independent and each is consumed
    # 2-3x below: build (and so fill) them concurrently — the
    # scheduler backfills the lighter arms' tails with the IVFADC
    # arm's tasks, so the wall cost is ~max(arm) instead of Σ(arm)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        graded, bq_p, ivf_p = pool.map(
            lambda arm: arm(), (graded_arm, bq_arm, ivf_arm)
        )
    idcg = graded.groupBy("qid").agg(
        F.expr(
            "SUM((POW(2.0, grade) - 1.0) / LOG2(rk_exact + 1))"
        ).alias("idcg")
    )
    # RRF fusion as UNION + per-(qid, vec_id) sum: a missing arm
    # contributes 0.0 and the term sum is order-insensitive over at
    # most two doubles per key, so the fused score (and its det6
    # rounding) equals a full-outer-join formulation without the
    # full-outer SortMergeJoin (the one join shape that can never
    # broadcast).
    fused = (
        bq_p.selectExpr(
            "qid", "vec_id", f"1.0 / ({_RRF_K} + rk) AS term"
        )
        .unionAll(
            ivf_p.selectExpr(
                "qid", "vec_id", f"1.0 / ({_RRF_K} + rk) AS term"
            )
        )
        .groupBy("qid", "vec_id")
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(term) * 1e6 + 0.5) AS DOUBLE) / 1e6"
            ).alias("rrf_score")
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    rrf = (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK)
        .select("qid", "vec_id", "rk")
    )
    arms = (
        bq_p.select(F.lit("bq").alias("method"), "qid", "vec_id", "rk")
        .unionAll(
            ivf_p.select(
                F.lit("ivfadc").alias("method"), "qid", "vec_id", "rk"
            )
        )
        .unionAll(
            rrf.select(
                F.lit("rrf_bq_ivfadc").alias("method"),
                "qid",
                "vec_id",
                "rk",
            )
        )
    )
    dcg = (
        arms.join(F.broadcast(graded), ["qid", "vec_id"], "left")
        .groupBy("method", "qid")
        .agg(
            F.expr(
                "SUM(CASE WHEN grade IS NULL THEN 0.0"
                " ELSE (POW(2.0, grade) - 1.0) / LOG2(rk + 1) END)"
            ).alias("dcg")
        )
    )
    return (
        dcg.join(F.broadcast(idcg), "qid")
        .selectExpr(
            "method",
            "qid",
            "CAST(FLOOR(dcg / idcg * 1e6 + 0.5) AS DOUBLE) / 1e6"
            " AS ndcg_graded",
        )
        .orderBy("method", "qid")
    )


SQL_RETRIEVAL_EVAL_GRADED = f"""
WITH exact AS (SELECT qid, vec_id, cos_sim, rk FROM ({SQL_COSINE_TOPK})),
graded AS (
  SELECT e.qid, e.vec_id, e.rk AS rk_exact,
         CAST(GREATEST(1, 4 - CAST(FLOOR((b.best_cos - e.cos_sim)
              / {_GRADE_BUCKET}) AS INTEGER)) AS INTEGER) AS grade
  FROM exact e
  JOIN (SELECT qid, MAX(cos_sim) AS best_cos FROM exact GROUP BY 1) b
    USING (qid)),
idcg AS (
  SELECT qid, SUM((POW(2.0, grade) - 1.0) / LOG2(rk_exact + 1)) AS idcg
  FROM graded GROUP BY 1),
bq AS (SELECT qid, vec_id, rk FROM ({SQL_EMB_BQ_TOPK})),
ivf AS (SELECT qid, vec_id, rk FROM ({SQL_EMB_IVFPQ_TOPK})),
fused AS (
  SELECT COALESCE(b.qid, i.qid) AS qid,
         COALESCE(b.vec_id, i.vec_id) AS vec_id,
         CAST(FLOOR(((CASE WHEN b.rk IS NULL THEN 0.0
                      ELSE 1.0 / ({_RRF_K} + b.rk) END)
                   + (CASE WHEN i.rk IS NULL THEN 0.0
                      ELSE 1.0 / ({_RRF_K} + i.rk) END)) * 1e6 + 0.5)
              AS DOUBLE) / 1e6 AS rrf_score
  FROM bq b FULL JOIN ivf i ON b.qid = i.qid AND b.vec_id = i.vec_id),
rrf AS (
  SELECT qid, vec_id, rk
  FROM (SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY rrf_score DESC, vec_id ASC) AS rk
        FROM fused)
  WHERE rk <= {TOPK}),
arms AS (
  SELECT 'bq' AS method, qid, vec_id, rk FROM bq
  UNION ALL
  SELECT 'ivfadc' AS method, qid, vec_id, rk FROM ivf
  UNION ALL
  SELECT 'rrf_bq_ivfadc' AS method, qid, vec_id, rk FROM rrf),
dcg AS (
  SELECT a.method, a.qid,
         SUM(CASE WHEN g.grade IS NULL THEN 0.0
                  ELSE (POW(2.0, g.grade) - 1.0) / LOG2(a.rk + 1)
             END) AS dcg
  FROM arms a LEFT JOIN graded g
    ON a.qid = g.qid AND a.vec_id = g.vec_id
  GROUP BY 1, 2)
SELECT method, qid,
       CAST(FLOOR(d.dcg / ic.idcg * 1e6 + 0.5) AS DOUBLE) / 1e6
         AS ndcg_graded
FROM dcg d JOIN idcg ic USING (qid)
ORDER BY method, qid
"""


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion — the pattern every
    modern RAG stack runs: a LEXICAL arm (BM25 over the shared fixed
    term query) and a DENSE arm (cosine against each query vector;
    vec_id aligns with doc_id in the fixture) each produce a 50-deep
    ranking, and fusion scores 1/(60+r_lex) + 1/(60+r_dense) — rank
    fusion needs no score calibration between arms, which is exactly
    why RRF won over weighted-sum hybrids.  Docs on one list only get
    the other arm's term as 0.

    Determinism: both arms' ranks are integer row_numbers under total
    orders (det6 BM25 desc, doc_id asc; 4-dp cosine desc, vec_id asc);
    the fused score is 1/(60+r) + 1/(60+r) on small integers —
    identical doubles in both engines, det6-rounded; final order
    (fused desc, doc_id asc).

    Scale plan: the dense arm is `cosine_topk`'s broadcast-query scan
    (one corpus pass, WindowGroupLimit per qid); the lexical arm is
    the BM25 one-explode pipeline with its 50-deep head compiling to
    TakeOrderedAndProject, then REPLICATED per query by a cross join
    against the ≤5-row qid list (a bounded BNLJ — allowlisted) so its
    rank window is PARTITIONED by qid, never global.  Fusion is a
    full-outer equi-join of two ≤(|Q|·50)-row relations and a per-qid
    top-10 WindowGroupLimit.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    dense = similarity.cosine_topk(emb, QUERY_VEC_IDS, _RRF_DEPTH).select(
        "qid", F.col("vec_id").alias("doc_id"), F.col("rk").alias("r_dense")
    )
    per_doc = bm25_per_doc(docs)
    stats = bm25_corpus_stats(per_doc)
    lex_top = (
        bm25_scored(per_doc, stats)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
    )
    qids = emb.where(F.col("vec_id").isin(QUERY_VEC_IDS)).select(
        F.col("vec_id").alias("qid")
    )
    w_lex = Window.partitionBy("qid").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    lex = (
        lex_top.crossJoin(F.broadcast(qids))
        .withColumn("r_lex", F.row_number().over(w_lex))
        .select("qid", "doc_id", "r_lex")
    )
    fused = (
        dense.join(lex, ["qid", "doc_id"], "full_outer")
        .selectExpr(
            "qid",
            "doc_id",
            "r_dense",
            "r_lex",
            f"(CASE WHEN r_dense IS NULL THEN 0.0"
            f" ELSE 1.0 / ({_RRF_K} + r_dense) END)"
            f" + (CASE WHEN r_lex IS NULL THEN 0.0"
            f" ELSE 1.0 / ({_RRF_K} + r_lex) END) AS fused_raw",
        )
        .selectExpr(
            "qid",
            "doc_id",
            "r_dense",
            "r_lex",
            "CAST(FLOOR(fused_raw * 1e6 + 0.5) AS DOUBLE) / 1e6"
            " AS rrf_score",
        )
    )
    w_out = Window.partitionBy("qid").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(w_out))
        .where(F.col("rk") <= _RRF_TOPN)
        .select("qid", "doc_id", "r_dense", "r_lex", "rrf_score", "rk")
        .orderBy("qid", "rk")
    )


def _sql_hybrid_search_rrf() -> str:
    qid_list = ", ".join(map(str, QUERY_VEC_IDS))
    tf_sums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_sums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    terms = " + ".join(
        f"(ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * 2.2)"
        f" / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n_docs) / sum_dl)))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(str_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
         {tf_sums}
  FROM toks WHERE token <> '' GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_sums}
  FROM per_doc),
lex_top AS (
  SELECT doc_id, FLOOR(({terms}) * 1e6 + 0.5) / 1e6 AS bm25
  FROM per_doc, stats
  ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_DEPTH}),
qids AS (
  SELECT vec_id AS qid FROM embeddings WHERE vec_id IN ({qid_list})),
lex AS (
  SELECT qid, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS r_lex
  FROM lex_top CROSS JOIN qids),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id IN ({qid_list})),
dense_scored AS (
  SELECT q.qid, e.vec_id AS doc_id,
         ROUND(list_cosine_similarity(q.qvec,
               CAST(e.embedding AS DOUBLE[])), 4) AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
dense AS (
  SELECT qid, doc_id, r_dense FROM (
    SELECT qid, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cos_sim DESC, doc_id ASC) AS INTEGER)
             AS r_dense
    FROM dense_scored)
  WHERE r_dense <= {_RRF_DEPTH}),
fused AS (
  SELECT COALESCE(d.qid, l.qid) AS qid,
         COALESCE(d.doc_id, l.doc_id) AS doc_id,
         d.r_dense, l.r_lex,
         CAST(FLOOR(((CASE WHEN d.r_dense IS NULL THEN 0.0
                      ELSE 1.0 / ({_RRF_K} + d.r_dense) END)
                   + (CASE WHEN l.r_lex IS NULL THEN 0.0
                      ELSE 1.0 / ({_RRF_K} + l.r_lex) END)) * 1e6 + 0.5)
           AS DOUBLE) / 1e6 AS rrf_score
  FROM dense d FULL OUTER JOIN lex l
       ON d.qid = l.qid AND d.doc_id = l.doc_id)
SELECT qid, doc_id, r_dense, r_lex, rrf_score, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY rrf_score DESC, doc_id ASC) AS INTEGER) AS rk
  FROM fused)
WHERE rk <= {_RRF_TOPN}
ORDER BY qid, rk
"""


#: span-corruption mask budget: block width 20 tokens, span 3 -> a
#: 15% mask ratio on full blocks (the T5 recipe's defaults)
_SPAN_BLOCK = 20
_SPAN_LEN = 3


def q_span_corruption(spark, sf_dir):
    """Span-corruption mask budget per document (the T5 denoising
    recipe, Raffel et al. 2020): tokens are partitioned into
    20-token blocks, each full block masks one 3-token span at a
    hash-derived offset (non-overlapping by construction, exactly
    15%), the ragged tail masks what fits — the accounting pass a
    pretraining pipeline runs to size its denoising batches before
    any tensor is built (n_masked drives sequence-pack budgets, the
    ratio audit catches tokenizer drift).

    Determinism: the only randomness is the portable md5 hash of
    doc_id for the tail-block offset (full blocks mask 3 regardless
    of offset, so per-block hashes are unnecessary); token counts
    follow the corpus-wide whitespace rule (`vocab_topk`).

    Scale plan: map-only — token counts come from `size(split(...))`
    without exploding the corpus, and the mask census is pure
    per-row arithmetic; no shuffle at all before the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.sampling import _portable_hash

    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    t = F.when(norm == "", F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    )
    base = docs.select(
        "doc_id",
        t.cast("bigint").alias("n_tokens"),
        (
            _portable_hash(F.col("doc_id"), "span")
            % (_SPAN_BLOCK - _SPAN_LEN)
        ).alias("s"),
    ).withColumn("n_full", F.expr(f"n_tokens DIV {_SPAN_BLOCK}"))
    tail = (
        f"LEAST({_SPAN_LEN}, GREATEST(0,"
        f" n_tokens % {_SPAN_BLOCK} - s))"
    )
    return (
        base.selectExpr(
            "doc_id",
            "n_tokens",
            f"CAST(n_full + CAST(({tail}) > 0 AS INT) AS BIGINT)"
            " AS n_spans",
            f"CAST(n_full * {_SPAN_LEN} + ({tail}) AS BIGINT)"
            " AS n_masked",
            f"CASE WHEN n_tokens = 0 THEN 0.0D ELSE"
            f" CAST(FLOOR((n_full * {_SPAN_LEN} + ({tail}))"
            " / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) AS DOUBLE)"
            " / 1e6 END AS mask_ratio",
        )
        .orderBy("doc_id")
    )


SQL_SPAN_CORRUPTION = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                   = '' THEN 0
              ELSE len(str_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' '))
         END AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
              || 'span'), 1, 15)) AS BIGINT)
           % {_SPAN_BLOCK - _SPAN_LEN} AS s
  FROM documents),
blocks AS (
  SELECT doc_id, n_tokens, s,
         n_tokens // {_SPAN_BLOCK} AS n_full,
         LEAST({_SPAN_LEN}, GREATEST(0,
               n_tokens % {_SPAN_BLOCK} - s)) AS tail
  FROM base)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_full + CASE WHEN tail > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_spans,
       CAST(n_full * {_SPAN_LEN} + tail AS BIGINT) AS n_masked,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE CAST(FLOOR((n_full * {_SPAN_LEN} + tail)
                 / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) AS DOUBLE)
                 / 1e6
       END AS mask_ratio
FROM blocks
ORDER BY doc_id
"""


_CHANGER_TOPK = 20


def q_heavy_changers(spark, sf_dir):
    """Vocabulary heavy CHANGERS between two corpus halves (doc_id
    parity): the top-20 tokens by absolute relative-frequency shift —
    the drift panel that answers "what changed between crawl A and
    crawl B" at the term level (the differencing companion to
    `heavy_hitters_cms`: hitters rank one distribution, changers rank
    the delta between two; Cormode & Muthukrishnan's deltoids
    problem, solved exactly here because the aggregated term relation
    is vocabulary-bounded).

    Determinism: per-half frequencies are exact-integer counts over
    per-half totals — one double division each, identical text both
    engines; the ranking key is that bit-equal delta with a token
    tie-break.

    Scale plan: one corpus explode -> (token, half) map-side-combined
    hash-agg (the `vocab_topk` shape with a 2-way key); the 2-row
    totals relation joins back as a broadcast EQUI-join on the half
    key (no scalar cross join), and the top-k is
    TakeOrderedAndProject over the vocabulary-bounded relation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("h"),
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                " ",
            )
        ).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("token", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy("h").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    freqs = counts.join(F.broadcast(totals), "h").select(
        "token",
        "h",
        (F.col("c") / F.col("tot").cast("double")).alias("f"),
    )
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        freqs.groupBy("token")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("h") == 0, F.col("f"))), F.lit(0.0)
            ).alias("f0"),
            F.coalesce(
                F.sum(F.when(F.col("h") == 1, F.col("f"))), F.lit(0.0)
            ).alias("f1"),
        )
        .withColumn("d", F.abs(F.col("f1") - F.col("f0")))
        .orderBy(F.desc("d"), F.asc("token"))
        .limit(_CHANGER_TOPK)
        .selectExpr(
            "token",
            det6.format(x="f0", n="freq_even"),
            det6.format(x="f1", n="freq_odd"),
            det6.format(x="d", n="abs_shift"),
        )
    )


SQL_HEAVY_CHANGERS = f"""
WITH toks AS (
  SELECT CAST(doc_id % 2 AS INT) AS h,
         unnest(str_split(trim(regexp_replace(lower(text),
                '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
counts AS (
  SELECT token, h, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE token <> '' GROUP BY 1, 2),
totals AS (
  SELECT h, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
freqs AS (
  SELECT c.token, c.h, c.c / CAST(t.tot AS DOUBLE) AS f
  FROM counts c JOIN totals t USING (h)),
wide AS (
  SELECT token,
         COALESCE(SUM(CASE WHEN h = 0 THEN f END), 0.0) AS f0,
         COALESCE(SUM(CASE WHEN h = 1 THEN f END), 0.0) AS f1
  FROM freqs GROUP BY 1),
ranked AS (
  SELECT token, f0, f1, ABS(f1 - f0) AS d
  FROM wide
  ORDER BY d DESC, token ASC
  LIMIT {_CHANGER_TOPK})
SELECT token,
       CAST(FLOOR((f0) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS freq_even,
       CAST(FLOOR((f1) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS freq_odd,
       CAST(FLOOR((d) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS abs_shift
FROM ranked
ORDER BY abs_shift DESC, token ASC
"""


# -- round 13: tokenizer sizing, corpus information rate, mixture ------------
# -- scheduling, and Bloom capacity planning ---------------------------------

#: vocabulary sizes the coverage curve is quoted at (the tokenizer-
#: budget decision grid) and the rank cap the curve is computed from
_VOCAB_GRID = (100, 500, 1000, 2000, 5000, 10000)
_VOCAB_CAP = 10000


def q_vocab_coverage_curve(spark, sf_dir):
    """Cumulative token coverage at candidate vocabulary sizes — the
    tokenizer-budget decision table (`vocab_topk` lists the words;
    this says WHAT FRACTION of all running tokens a size-V vocab
    covers, the number a BPE budget is chosen against; Zipf's law
    makes the curve concave, `corpus_zipf_fit` measures how).

    Determinism: counts are exact integers; ranking ties break by
    token text in both engines; coverage is one division, det6.

    Scale plan: explode → map-side-combinable token count; the
    top-{cap} head comes off a TakeOrderedAndProject (no global
    sort); the curve itself is array math over the head crossed with
    the 1-row corpus-total scalar (the Q11 shape), so nothing
    vocabulary-sized is windowed or re-sorted."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                " ",
            )
        ).alias("token")
    ).where(F.col("token") != "")
    wc = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = wc.agg(F.sum("n").cast("bigint").alias("t"))
    head = (
        wc.orderBy(F.desc("n"), F.asc("token"))
        .limit(_VOCAB_CAP)
        .agg(
            F.expr(
                "array_sort(collect_list(named_struct("
                "'neg_n', -n, 'token', token, 'n', n)))"
            ).alias("a")
        )
    )
    grid = ", ".join(str(v) for v in _VOCAB_GRID)
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        head.crossJoin(F.broadcast(tot))
        # token-less corpus: no curve (matches the oracle's inner
        # join against the empty ranked head — 0 rows, not 6 NULLs)
        .where("t > 0")
        .selectExpr(
            "a", "t", f"explode(array({grid})) AS vocab_size"
        )
        .selectExpr(
            "CAST(vocab_size AS BIGINT) AS vocab_size",
            "CAST(LEAST(vocab_size, size(a)) AS BIGINT) AS n_types",
            """AGGREGATE(
                 slice(a, 1, CAST(LEAST(vocab_size, size(a)) AS INT)),
                 CAST(0 AS BIGINT), (acc, x) -> acc + x.n)
               AS covered_tokens""",
            "t AS total_tokens",
        )
        .selectExpr(
            "vocab_size",
            "n_types",
            "covered_tokens",
            "total_tokens",
            det6.format(
                x="CAST(covered_tokens AS DOUBLE)"
                " / CAST(total_tokens AS DOUBLE)",
                n="coverage",
            ),
        )
        .orderBy("vocab_size")
    )


def _sql_vocab_coverage_curve() -> str:
    grid = ", ".join(f"({v})" for v in _VOCAB_GRID)
    return f"""
WITH wc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(str_split(
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
             ' ')) AS token
    FROM documents) t
  WHERE token <> ''
  GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM wc),
ranked AS (
  SELECT n,
         ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rn
  FROM wc QUALIFY rn <= {_VOCAB_CAP}),
grid (vocab_size) AS (VALUES {grid})
SELECT CAST(g.vocab_size AS BIGINT) AS vocab_size,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(r.n) AS BIGINT) AS covered_tokens,
       CAST(MIN(tot.t) AS BIGINT) AS total_tokens,
       CAST(FLOOR(CAST(SUM(r.n) AS DOUBLE) / CAST(MIN(tot.t) AS DOUBLE)
            * 1e6 + 0.5) AS DOUBLE) / 1e6 AS coverage
FROM grid g
JOIN ranked r ON r.rn <= g.vocab_size
CROSS JOIN tot
GROUP BY g.vocab_size
ORDER BY vocab_size
"""


SQL_VOCAB_COVERAGE_CURVE = _sql_vocab_coverage_curve()


def q_ngram_entropy_rate(spark, sf_dir):
    """Bigram conditional entropy rate H(W₂|W₁) per source, in bits —
    the information-rate quality signal (Shannon 1951's printed-
    English estimate, applied per corpus slice): templated/boiler-
    plate sources sit LOW (the next word is predictable), organic
    text sits high; reads directly as a curation filter axis beside
    `doc_entropy`'s per-doc character entropy.

    Determinism: H = −(1/N)·Σ c₁₂·log2(c₁₂/c₁) over exact
    integer bigram counts — both engines feed identical integer
    ratios to log2; one vocab-sized double sum (the
    `mutual_information` precedent), det6.

    Scale plan: the corpus explodes once to a (source, w1, w2)
    bigram count (map-side combinable); contexts derive from the
    bigram relation by a second hash-agg, the join back is an
    equi-join on (source, w1); per-source totals broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    pairs = (
        docs.select("source", arr.alias("a"))
        .where(F.size("a") >= 2)
        .select(
            "source",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("a"), 1, F.size("a") - 1).alias("w1"),
                    F.slice(F.col("a"), 2, F.size("a") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select(
            "source",
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    cb = persist_scoped(
        "entropy_cb",
        pairs.groupBy("source", "w1", "w2").agg(
            F.count(F.lit(1)).cast("bigint").alias("c12")
        ),
    )
    c1 = cb.groupBy("source", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        cb.join(c1, ["source", "w1"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_bigrams"),
            F.sum("c12").cast("bigint").alias("total_bigrams"),
            F.sum(
                F.expr(
                    "c12 * (LOG2(CAST(c12 AS DOUBLE))"
                    " - LOG2(CAST(c1 AS DOUBLE)))"
                )
            ).alias("h_num_part"),
        )
        .selectExpr(
            "source",
            "n_distinct_bigrams",
            "total_bigrams",
            "-h_num_part AS h_num",
        )
        .selectExpr(
            "source",
            "n_distinct_bigrams",
            "total_bigrams",
            det6.format(
                x="h_num / CAST(total_bigrams AS DOUBLE)",
                n="entropy_bits",
            ),
            det6.format(
                x="POW(2.0, h_num / CAST(total_bigrams AS DOUBLE))",
                n="perplexity",
            ),
        )
        .orderBy("source")
    )


SQL_NGRAM_ENTROPY_RATE = """
WITH toks AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                      'g')), ' ') AS a
  FROM documents
  WHERE len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
        'g')), ' ')) >= 2),
pairs AS (
  SELECT source, a[i] AS w1, a[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(a))) AS t(i)
  WHERE a[i] <> '' AND a[i + 1] <> ''),
cb AS (
  SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pairs GROUP BY 1, 2, 3),
c1 AS (
  SELECT source, w1, CAST(SUM(c12) AS BIGINT) AS c1
  FROM cb GROUP BY 1, 2),
g AS (
  SELECT cb.source,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(SUM(cb.c12) AS BIGINT) AS total_bigrams,
         -SUM(cb.c12 * (LOG2(CAST(cb.c12 AS DOUBLE))
                        - LOG2(CAST(c1.c1 AS DOUBLE)))) AS h_num
  FROM cb JOIN c1 USING (source, w1)
  GROUP BY 1)
SELECT source,
       n_distinct_bigrams,
       total_bigrams,
       CAST(FLOOR((h_num / CAST(total_bigrams AS DOUBLE))
            * 1e6 + 0.5) AS DOUBLE) / 1e6 AS entropy_bits,
       CAST(FLOOR(POW(2.0, h_num / CAST(total_bigrams AS DOUBLE))
            * 1e6 + 0.5) AS DOUBLE) / 1e6 AS perplexity
FROM g
ORDER BY source
"""


#: Bloom sizing targets: the false-positive-rate grid a dedup screen
#: is provisioned against (`dedup_bloom`'s planning sibling)
_BLOOM_FPP_GRID = (0.01, 0.001, 0.0001)


def q_bloom_filter_sizing(spark, sf_dir):
    """Bloom filter capacity plan for the exact-dedup fingerprint set
    (Bloom 1970; the m = −n·ln p/ln²2 sizing identities) —
    `dedup_bloom`'s planning sibling the way `lsh_band_planner` plans
    the banding: for each target false-positive rate, the required
    bits, optimal hash count k = (m/n)·ln 2, MiB footprint, and the
    achieved rate at the rounded k — the memory/precision trade a
    100 TB incremental-dedup screen is provisioned against.

    Determinism: n is an exact distinct count of md5 fingerprints;
    the sizing identities are one closed-form expression per grid
    row on (n, p) literals, det6.

    Scale plan: one distinct-count hash-agg; the 3-literal grid
    explodes off the 1-row scalar — no join at all."""
    docs = load_table(spark, sf_dir, "documents")
    n1 = docs.agg(
        F.count_distinct(F.md5("text")).cast("bigint").alias("n")
    )
    grid = ", ".join(f"CAST({p!r} AS DOUBLE)" for p in _BLOOM_FPP_GRID)
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    m = "CEIL(-CAST(n AS DOUBLE) * LN(fpp) / (LN(2.0) * LN(2.0)))"
    k = f"GREATEST(1, CAST(ROUND({m} / CAST(n AS DOUBLE) * LN(2.0)) AS BIGINT))"
    return (
        n1.where("n > 0")  # empty key set: nothing to size, 0 rows
        .selectExpr("n", f"explode(array({grid})) AS fpp")
        .selectExpr(
            "n AS n_keys",
            det6.format(x="fpp", n="target_fpp"),
            f"CAST({m} AS BIGINT) AS m_bits",
            f"{k} AS k_hashes",
            det6.format(x=f"{m} / 8.0 / 1048576.0", n="mib"),
            det6.format(
                x=f"POW(1.0 - EXP(-CAST({k} AS DOUBLE)"
                f" * CAST(n AS DOUBLE) / {m}), CAST({k} AS DOUBLE))",
                n="achieved_fpp",
            ),
        )
        .orderBy(F.desc("target_fpp"))
    )


def _sql_bloom_filter_sizing() -> str:
    grid = ", ".join(f"(CAST({p!r} AS DOUBLE))" for p in _BLOOM_FPP_GRID)
    m = "CEIL(-CAST(n AS DOUBLE) * LN(fpp) / (LN(2.0) * LN(2.0)))"
    k = (
        f"GREATEST(1, CAST(ROUND({m} / CAST(n AS DOUBLE) * LN(2.0))"
        " AS BIGINT))"
    )
    return f"""
WITH n1 AS (
  SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n
  FROM documents),
grid (fpp) AS (VALUES {grid})
SELECT n AS n_keys,
       CAST(FLOOR(fpp * 1e6 + 0.5) AS DOUBLE) / 1e6 AS target_fpp,
       CAST({m} AS BIGINT) AS m_bits,
       {k} AS k_hashes,
       CAST(FLOOR(({m} / 8.0 / 1048576.0) * 1e6 + 0.5)
            AS DOUBLE) / 1e6 AS mib,
       CAST(FLOOR(POW(1.0 - EXP(-CAST({k} AS DOUBLE)
            * CAST(n AS DOUBLE) / {m}), CAST({k} AS DOUBLE))
            * 1e6 + 0.5) AS DOUBLE) / 1e6 AS achieved_fpp
FROM n1 CROSS JOIN grid
WHERE n > 0
ORDER BY target_fpp DESC
"""


SQL_BLOOM_FILTER_SIZING = _sql_bloom_filter_sizing()


#: minibatch scheduling: batch size the integer allocation targets
_BATCH_SIZE = 1024


def q_minibatch_mixture_plan(spark, sf_dir):
    """Integer per-source allocation of a {bs}-sample minibatch under
    the temperature mixture (largest-remainder / Hamilton
    apportionment) — the step between `mixture_temperature_weights`
    (real-valued weights) and a data loader that must draw WHOLE
    examples: base = ⌊wᵢ·B⌋ per source, and the B − Σbase leftover
    seats go to the largest fractional remainders (ties by source
    name).  Σ final_alloc = B exactly, every batch, deterministically.

    Determinism: token counts exact; weights are the
    `mixture_temperature_weights` expressions; the apportionment is
    integer floor + a rank over ≤|sources| remainders with a total
    order (remainder desc, source asc) — identical in both engines.

    Scale plan: one token-count hash-agg to |sources| rows, then the
    whole apportionment is array math on ONE row (sorted
    collect_list, two lambda folds) — no window, no join."""
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.select(
            "source", F.size(F.split("text", " ")).alias("tok")
        )
        .groupBy("source")
        .agg(F.sum("tok").cast("bigint").alias("n_i"))
    )
    b = _BATCH_SIZE
    det6 = "CAST(FLOOR(({x}) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS {n}"
    return (
        src.agg(
            F.expr(
                "array_sort(collect_list(named_struct("
                "'source', source, 'n_i', n_i)))"
            ).alias("a")
        )
        .selectExpr(
            "a",
            f"AGGREGATE(a, CAST(0.0 AS DOUBLE),"
            f" (acc, x) -> acc + POW(CAST(x.n_i AS DOUBLE),"
            f" {MIX_ALPHA})) AS z",
        )
        .selectExpr(
            """TRANSFORM(a, x -> named_struct(
                 'source', x.source,
                 'n_i', x.n_i,
                 'w', POW(CAST(x.n_i AS DOUBLE), {alpha}) / z,
                 'base', CAST(FLOOR(POW(CAST(x.n_i AS DOUBLE),
                         {alpha}) / z * {b}.0) AS BIGINT),
                 'rem', POW(CAST(x.n_i AS DOUBLE), {alpha}) / z
                        * {b}.0
                        - FLOOR(POW(CAST(x.n_i AS DOUBLE), {alpha})
                                / z * {b}.0)))
               AS w""".format(alpha=MIX_ALPHA, b=b)
        )
        .selectExpr(
            "w",
            f"CAST({b} - AGGREGATE(w, CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x.base) AS INT) AS r",
            "array_sort(TRANSFORM(w, x -> named_struct("
            "'neg_rem', -x.rem, 'source', x.source))) AS byrem",
        )
        .selectExpr(
            "EXPLODE(TRANSFORM(w, x -> named_struct("
            "'source', x.source, 'n_i', x.n_i, 'w', x.w,"
            "'base', x.base,"
            "'extra', CAST(array_position(TRANSFORM(byrem,"
            " y -> y.source), x.source) <= r AS INT)))) AS p"
        )
        .selectExpr(
            "p.source",
            "p.n_i AS n_tokens",
            det6.format(x="p.w", n="temp_weight"),
            "p.base AS base_alloc",
            "CAST(p.base + p.extra AS BIGINT) AS final_alloc",
        )
        .orderBy("source")
    )


q_minibatch_mixture_plan.__doc__ = q_minibatch_mixture_plan.__doc__.format(
    bs=_BATCH_SIZE
)


def _sql_minibatch_mixture_plan() -> str:
    a = MIX_ALPHA
    b = _BATCH_SIZE
    w = f"(POW(CAST(n_i AS DOUBLE), {a}) / z)"
    return f"""
WITH src AS (
  SELECT source,
         CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_i
  FROM documents GROUP BY 1),
tot AS (
  -- ordered left fold over the source-sorted list: the IDENTICAL
  -- double-addition sequence as the Spark side's AGGREGATE over the
  -- source-sorted array (an unordered SUM could differ in the last
  -- ulp and flip a FLOOR/seat-rank integer downstream)
  SELECT list_reduce(list(POW(CAST(n_i AS DOUBLE), {a})
                          ORDER BY source),
                     (acc, x) -> acc + x) AS z
  FROM src),
wts AS (
  SELECT source, n_i, {w} AS w,
         CAST(FLOOR({w} * {b}.0) AS BIGINT) AS base,
         {w} * {b}.0 - FLOOR({w} * {b}.0) AS rem
  FROM src CROSS JOIN tot),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
         {b} - SUM(base) OVER () AS r
  FROM wts)
SELECT source,
       n_i AS n_tokens,
       CAST(FLOOR(w * 1e6 + 0.5) AS DOUBLE) / 1e6 AS temp_weight,
       base AS base_alloc,
       CAST(base + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
         AS final_alloc
FROM ranked
ORDER BY source
"""


SQL_MINIBATCH_MIXTURE_PLAN = _sql_minibatch_mixture_plan()


REGISTRY: dict[str, QuerySpec] = {
    "vocab_coverage_curve": QuerySpec(
        q_vocab_coverage_curve, SQL_VOCAB_COVERAGE_CURVE
    ),
    "ngram_entropy_rate": QuerySpec(
        q_ngram_entropy_rate, SQL_NGRAM_ENTROPY_RATE
    ),
    "bloom_filter_sizing": QuerySpec(
        q_bloom_filter_sizing, SQL_BLOOM_FILTER_SIZING
    ),
    "minibatch_mixture_plan": QuerySpec(
        q_minibatch_mixture_plan, SQL_MINIBATCH_MIXTURE_PLAN
    ),
    "text_readability": QuerySpec(
        q_text_readability, SQL_TEXT_READABILITY
    ),
    "bigram_pmi": QuerySpec(q_bigram_pmi, SQL_BIGRAM_PMI),
    "filter_waterfall": QuerySpec(q_filter_waterfall, SQL_FILTER_WATERFALL),
    "curation_weighted_sample": QuerySpec(
        q_curation_weighted_sample, SQL_CURATION_WEIGHTED_SAMPLE
    ),
    "lang_balance_sample": QuerySpec(
        q_lang_balance_sample, SQL_LANG_BALANCE_SAMPLE
    ),
    "tokenizer_fertility": QuerySpec(
        q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY
    ),
    "doc_ngram_novelty": QuerySpec(
        q_doc_ngram_novelty, SQL_DOC_NGRAM_NOVELTY
    ),
    "dedup_soft_weights": QuerySpec(
        q_dedup_soft_weights, SQL_DEDUP_SOFT_WEIGHTS
    ),
    "gopher_quality": QuerySpec(q_gopher_quality, SQL_GOPHER_QUALITY),
    "gopher_report": QuerySpec(q_gopher_report, SQL_GOPHER_REPORT),
    "doc_embedding_stats": QuerySpec(
        q_doc_embedding_stats, SQL_DOC_EMBEDDING_STATS
    ),
    "neardup_jaccard_histogram": QuerySpec(
        q_neardup_jaccard_histogram,
        SQL_NEARDUP_JACCARD_HISTOGRAM.replace(
            "{_DUCK_SHINGLES}", _DUCK_SHINGLES
        ),
    ),
    "corpus_dup_stats": QuerySpec(
        q_corpus_dup_stats, SQL_CORPUS_DUP_STATS
    ),
    "train_split": QuerySpec(q_train_split, SQL_TRAIN_SPLIT),
    "train_split_leakage_safe": QuerySpec(
        q_train_split_leakage_safe, SQL_TRAIN_SPLIT_LEAKAGE_SAFE
    ),
    "ccnet_ppl_buckets": QuerySpec(
        q_ccnet_ppl_buckets, SQL_CCNET_PPL_BUCKETS
    ),
    "emb_pq_codes": QuerySpec(q_emb_pq_codes, SQL_EMB_PQ_CODES),
    "emb_pq_recall": QuerySpec(q_emb_pq_recall, SQL_EMB_PQ_RECALL),
    "emb_pq_refine": QuerySpec(q_emb_pq_refine, SQL_EMB_PQ_REFINE),
    "emb_ivfpq_topk": QuerySpec(q_emb_ivfpq_topk, SQL_EMB_IVFPQ_TOPK),
    "emb_bq_topk": QuerySpec(q_emb_bq_topk, SQL_EMB_BQ_TOPK),
    "emb_bq_rerank": QuerySpec(q_emb_bq_rerank, SQL_EMB_BQ_RERANK),
    "emb_bq_ivfpq_rerank": QuerySpec(
        q_emb_bq_ivfpq_rerank, SQL_EMB_BQ_IVFPQ_RERANK
    ),
    "emb_bq_ivfpq_recall": QuerySpec(
        q_emb_bq_ivfpq_recall, SQL_EMB_BQ_IVFPQ_RECALL
    ),
    "emb_bq_recall": QuerySpec(q_emb_bq_recall, SQL_EMB_BQ_RECALL),
    "retrieval_eval": QuerySpec(q_retrieval_eval, SQL_RETRIEVAL_EVAL),
    "retrieval_eval_graded": QuerySpec(
        q_retrieval_eval_graded, SQL_RETRIEVAL_EVAL_GRADED
    ),
    "emb_ivfpq_recall": QuerySpec(
        q_emb_ivfpq_recall, SQL_EMB_IVFPQ_RECALL
    ),
    "bpe_learn_merges": QuerySpec(q_bpe_learn_merges, SQL_BPE_LEARN_MERGES),
    "line_dedup": QuerySpec(q_line_dedup, SQL_LINE_DEDUP),
    "emb_pca_power": QuerySpec(q_emb_pca_power, SQL_EMB_PCA_POWER),
    "dedup_source_overlap": QuerySpec(
        q_dedup_source_overlap, SQL_DEDUP_SOURCE_OVERLAP
    ),
    "doc_lang_mismatch": QuerySpec(
        q_doc_lang_mismatch, SQL_DOC_LANG_MISMATCH
    ),
    "emb_semantic_dedup": QuerySpec(
        q_emb_semantic_dedup, SQL_EMB_SEMANTIC_DEDUP
    ),
    "unigram_logprob": QuerySpec(q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    "emb_kmeans_refine": QuerySpec(
        q_emb_kmeans_refine, SQL_EMB_KMEANS_REFINE
    ),
    "tfidf_topk": QuerySpec(q_tfidf_topk, SQL_TFIDF_TOPK),
    "bm25_topk": QuerySpec(q_bm25_topk, SQL_BM25_TOPK),
    "emb_outliers": QuerySpec(q_emb_outliers, SQL_EMB_OUTLIERS),
    "bpe_token_count": QuerySpec(q_bpe_token_count, SQL_BPE_TOKEN_COUNT),
    "emb_centroid": QuerySpec(q_emb_centroid, SQL_EMB_CENTROID),
    "doc_chunking": QuerySpec(q_doc_chunking, SQL_DOC_CHUNKING),
    "doc_winnow": QuerySpec(q_doc_winnow, SQL_DOC_WINNOW),
    "substring_dedup": QuerySpec(q_substring_dedup, SQL_SUBSTRING_DEDUP),
    "dsir_importance": QuerySpec(q_dsir_importance, SQL_DSIR_IMPORTANCE),
    "text_sentiment": QuerySpec(q_text_sentiment, SQL_TEXT_SENTIMENT),
    "emb_near_dup_lsh": QuerySpec(q_emb_near_dup_lsh, SQL_EMB_NEAR_DUP_LSH),
    "text_stats": QuerySpec(q_text_stats, SQL_TEXT_STATS),
    "text_language_id": QuerySpec(q_language_id, SQL_LANGUAGE_ID),
    "text_quality": QuerySpec(q_quality_score, SQL_QUALITY_SCORE),
    "dedup_exact": QuerySpec(q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_pairs": QuerySpec(q_minhash_pairs, SQL_MINHASH_PAIRS),
    "lsh_band_planner": QuerySpec(
        q_lsh_band_planner, SQL_LSH_BAND_PLANNER
    ),
    "emb_cosine_sim_histogram": QuerySpec(
        q_emb_cosine_sim_histogram, SQL_EMB_COSINE_SIM_HISTOGRAM
    ),
    "doc_boilerplate_ratio": QuerySpec(
        q_doc_boilerplate_ratio, SQL_DOC_BOILERPLATE_RATIO
    ),
    "mixture_temperature_weights": QuerySpec(
        q_mixture_temperature_weights, SQL_MIXTURE_TEMPERATURE_WEIGHTS
    ),
    "neardup_edit_verify": QuerySpec(
        q_neardup_edit_verify, SQL_NEARDUP_EDIT_VERIFY
    ),
    "dedup_minhash_est": QuerySpec(
        q_dedup_minhash_est, SQL_DEDUP_MINHASH_EST
    ),
    "dedup_minhash_drops": QuerySpec(q_minhash_drops, SQL_MINHASH_DROPS),
    "dedup_clusters": QuerySpec(q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "sample_bernoulli": QuerySpec(q_sample_bernoulli, SQL_SAMPLE_BERNOULLI),
    "vocab_topk": QuerySpec(q_vocab_topk, SQL_VOCAB_TOPK),
    "text_keyphrases_rake": QuerySpec(
        q_text_keyphrases_rake, SQL_TEXT_KEYPHRASES_RAKE
    ),
    "hybrid_search_rrf": QuerySpec(
        q_hybrid_search_rrf, _sql_hybrid_search_rrf()
    ),
    "doc_repetition": QuerySpec(q_doc_repetition, SQL_DOC_REPETITION),
    "emb_quantize": QuerySpec(q_emb_quantize, SQL_EMB_QUANTIZE),
    "ngram_counts": QuerySpec(q_ngram_counts, SQL_NGRAM_COUNTS),
    "sample_weighted": QuerySpec(q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "shard_manifest": QuerySpec(q_shard_manifest, SQL_SHARD_MANIFEST),
    "bigram_logprob": QuerySpec(q_bigram_logprob, SQL_BIGRAM_LOGPROB),
    "mixture_budget_sample": QuerySpec(
        q_mixture_budget_sample, SQL_MIXTURE_BUDGET_SAMPLE
    ),
    "sample_stratified": QuerySpec(
        q_sample_stratified, SQL_SAMPLE_STRATIFIED
    ),
    "dedup_ngram_jaccard": QuerySpec(
        q_ngram_jaccard_bruteforce, SQL_MINHASH_PAIRS
    ),
    "dedup_simhash_pairs": QuerySpec(q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "dedup_char_ngram": QuerySpec(q_char_ngram_pairs, SQL_CHAR_NGRAM_PAIRS),
    "emb_cosine_topk": QuerySpec(q_cosine_topk, SQL_COSINE_TOPK),
    "emb_knn_label": QuerySpec(q_emb_knn_label, SQL_EMB_KNN_LABEL),
    "span_corruption": QuerySpec(q_span_corruption, SQL_SPAN_CORRUPTION),
    "heavy_changers": QuerySpec(q_heavy_changers, SQL_HEAVY_CHANGERS),
    "emb_centroid_drift": QuerySpec(
        q_emb_centroid_drift, SQL_EMB_CENTROID_DRIFT
    ),
    "emb_knn_label_bq": QuerySpec(
        q_emb_knn_label_bq, SQL_EMB_KNN_LABEL_BQ
    ),
    "emb_knn_label_recall": QuerySpec(
        q_emb_knn_label_recall, SQL_EMB_KNN_LABEL_RECALL
    ),
    "emb_hard_negatives": QuerySpec(
        q_emb_hard_negatives, SQL_EMB_HARD_NEGATIVES
    ),
    "emb_cosine_pairs": QuerySpec(q_cosine_pairs, SQL_COSINE_PAIRS),
    "emb_ann_topk_lsh": QuerySpec(q_ann_topk_lsh, SQL_ANN_TOPK_LSH),
    "emb_ann_topk_ivf": QuerySpec(q_ann_topk_ivf, SQL_ANN_TOPK_IVF),
    "emb_ann_recall": QuerySpec(q_ann_recall, SQL_ANN_RECALL),
    "emb_jl_recall": QuerySpec(q_emb_jl_recall, _sql_emb_jl_recall()),
    "emb_matryoshka_recall": QuerySpec(
        q_emb_matryoshka_recall, SQL_EMB_MATRYOSHKA_RECALL
    ),
    "text_pii": QuerySpec(q_text_pii, SQL_TEXT_PII),
    "decontaminate": QuerySpec(q_decontaminate, SQL_DECONTAMINATE),
    "decontaminate_fuzzy": QuerySpec(
        q_decontaminate_fuzzy, SQL_DECONTAMINATE_FUZZY
    ),
    "pack_sequences": QuerySpec(q_pack_sequences, SQL_PACK_SEQUENCES),
    "length_histogram": QuerySpec(q_length_histogram, SQL_LENGTH_HISTOGRAM),
    "oov_rate": QuerySpec(q_oov_rate, SQL_OOV_RATE),
    "dedup_incremental": QuerySpec(q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_prefix": QuerySpec(q_dedup_prefix, SQL_DEDUP_PREFIX),
    "doc_entropy": QuerySpec(q_doc_entropy, SQL_DOC_ENTROPY),
    "corpus_zipf_fit": QuerySpec(q_corpus_zipf_fit, SQL_CORPUS_ZIPF_FIT),
    "dedup_survivorship": QuerySpec(
        q_dedup_survivorship, _sql_dedup_survivorship()
    ),
    "dedup_containment": QuerySpec(q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "curation_report": QuerySpec(q_curation_report, SQL_CURATION_REPORT),
}
