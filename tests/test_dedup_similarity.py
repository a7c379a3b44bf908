"""Dedup and similarity operator tests (north-star extensions)."""

from __future__ import annotations

from pyspark.sql import Row

from projetbigdatastreaming_spark.catalog import load_table
from projetbigdatastreaming_spark.operators import dedup, similarity


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away today"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog and runs far away tonight"
)
OTHER = "completely different words about spark query engines and shuffles"


def test_exact_duplicate_groups(spark):
    docs = _docs(spark, [BASE, BASE + " ", "  THE  quick brown fox jumps over the lazy dog and runs far away today", OTHER])
    groups = dedup.exact_duplicate_groups(docs).collect()
    by_keep = {r.keep_doc_id: r.n_copies for r in groups}
    # normalization folds case/whitespace: docs 0,1,2 collapse
    assert by_keep == {0: 3, 3: 1}


def test_minhash_finds_planted_near_dup(spark):
    docs = _docs(spark, [BASE, NEAR, OTHER])
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    assert 0.5 <= pairs[0].jaccard < 1.0
    drops = dedup.minhash_dedup_drops(docs, threshold=0.5).collect()
    assert [(d.drop_doc_id, d.kept_doc_id) for d in drops] == [(1, 0)]


def test_simhash_near_duplicates(spark):
    docs = _docs(spark, [BASE, NEAR, OTHER])
    pairs = dedup.simhash_near_duplicates(docs, max_hamming=10).collect()
    assert any((p.doc_a, p.doc_b) == (0, 1) for p in pairs)
    assert not any(
        (p.doc_a, p.doc_b) in {(0, 2), (1, 2)} for p in pairs
    )


def test_simhash_identical_texts_distance_zero(spark):
    docs = _docs(spark, [BASE, BASE])
    hashed = dedup.with_simhash(docs).collect()
    assert hashed[0].simhash == hashed[1].simhash
    assert hashed[0].simhash >= 0  # 60-bit: never negative


def test_lsh_candidates_subset_property(spark, sf_dir):
    """Every verified pair must also be found by the brute-force
    verifier — LSH can only prune, not invent."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    signed = dedup.with_minhash_signature(docs)
    lsh_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_verify(
            dedup.lsh_candidate_pairs(signed), signed, 0.8
        ).collect()
    }
    sh = signed.select("doc_id", "shingles")
    from pyspark.sql import functions as F

    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("j"),
        )
        .where(F.col("j") >= 0.8)
        .collect()
    }
    assert lsh_pairs == brute


def test_lsh_candidate_volume_grows_linearly(spark, sf_dir):
    """Scale-audit for the band join: doubling the corpus with
    DECORRELATED content (per-word copy prefix — the gen_scale
    scheme) must ~double the banded candidate count, not square it.
    A band-key bug that collapses keys (hash ignoring content, slice
    off-by-one hashing the same rows per band) blows candidates up
    quadratically — the failure mode that hides inside 'minhash is
    just slow' at the bench scale point."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c1 = dedup.lsh_candidate_pairs(
        dedup.with_minhash_signature(docs)
    ).count()
    assert c1 > 0  # fixture plants near-dups; 0 would mask the ratio
    copy = docs.select(
        (F.col("doc_id") + 10_000_000_000).alias("doc_id"),
        F.regexp_replace("text", r"\b(\w)", "q1$1").alias("text"),
    )
    c2 = dedup.lsh_candidate_pairs(
        dedup.with_minhash_signature(docs.unionAll(copy))
    ).count()
    # exact linear doubling is ratio 2.0 (each copy contributes its
    # own internal pairs, decorrelation kills cross-copy pairs);
    # quadratic key collapse is ratio ~4.  Allow band-hash luck noise.
    assert 1.8 <= c2 / c1 <= 2.5, (c1, c2)


def test_cosine_topk_properties(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, [0, 1], k=5).collect()
    assert len(out) == 10
    for r in out:
        assert r.vec_id != r.qid
        assert -1.0001 <= r.cos_sim <= 1.0001
    # ranks are 1..5 per query, scores non-increasing
    for qid in (0, 1):
        rows = [r for r in out if r.qid == qid]
        assert [r.rk for r in rows] == [1, 2, 3, 4, 5]
        scores = [r.cos_sim for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_ann_results_are_valid_neighbors(spark, sf_dir):
    """ANN output (both LSH and IVF) must be a subset of valid
    (non-self) neighbors with correctly computed cosine (spot-check
    against the exact scorer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.qid, r.vec_id): r.cos_sim
        for r in similarity.cosine_topk(emb, [0], k=1000).collect()
    }
    for name, fn in (
        ("lsh", similarity.ann_topk_lsh),
        ("ivf", similarity.ann_topk_ivf),
    ):
        ann = fn(emb, [0], k=10).collect()
        assert ann, f"{name} returned no candidates"
        for r in ann:
            assert exact[(r.qid, r.vec_id)] == r.cos_sim


def test_ivf_assignment_covers_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = similarity.ivf_assign(emb, n_lists=8)
    assert assigned.count() == emb.count()
    assert cents.count() == 8
    # every vector lands in exactly one existing list
    lists = {r.list_id for r in cents.collect()}
    got = {r.list_id for r in assigned.select("list_id").distinct().collect()}
    assert got <= lists


def test_duplicate_clusters_transitive_chain(spark):
    """Connected components: a ~ b ~ c chains into ONE cluster even
    when a and c alone wouldn't pair; unrelated docs form their own
    component; singletons (docs with no near-dup) are excluded."""
    a = BASE
    b = BASE.replace("today", "tonight")          # near a
    c = BASE.replace("today", "tonight").replace("quick", "swift")  # near b
    d = OTHER
    e = OTHER + " indeed"                          # near d
    docs = _docs(spark, [a, b, c, d, e, "zebra xylophone quartz"])
    out = dedup.duplicate_clusters(docs, threshold=0.5).collect()
    got = {(r.doc_id): (r.cluster_id, r.cluster_size) for r in out}
    assert got == {
        0: (0, 3), 1: (0, 3), 2: (0, 3),   # chain a-b-c
        3: (3, 2), 4: (3, 2),              # d-e pair
    }  # doc 5 is a singleton: absent


def test_substring_dedup_detects_shifted_shared_runs(spark, tmp_path):
    """The round-4 review finding: positional stride windows only
    matched runs shared at congruent offsets.  The content-defined
    anchors must flag the same run even when the two documents embed
    it at DIFFERENT offsets."""
    import hashlib

    from projetbigdatastreaming_spark.plans.llmdata import (
        SUB_ANCHOR_MOD,
        q_substring_dedup,
    )

    def is_anchor(tok):
        h = int(
            hashlib.md5(f"{tok}sd0".encode()).hexdigest()[:15], 16
        )
        return h % SUB_ANCHOR_MOD == 0

    anchor = next(f"tok{i}" for i in range(1000) if is_anchor(f"tok{i}"))
    # shared run: anchor at its 3rd token with >=20 tokens after it
    shared = ["r1", "r2", anchor] + [f"run{i}" for i in range(25)]
    doc_a = " ".join(shared + [f"atail{i}" for i in range(10)])
    doc_b = " ".join(
        ["b1", "b2", "b3", "b4", "b5"]  # shifts the run by 5 (≠ 0 mod 10)
        + shared
        + [f"btail{i}" for i in range(10)]
    )
    doc_c = " ".join(f"c{i}" for i in range(40))
    spark.createDataFrame(
        [
            (1, doc_a, "en", "t", len(doc_a)),
            (2, doc_b, "en", "t", len(doc_b)),
            (3, doc_c, "en", "t", len(doc_c)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r.doc_id: r for r in q_substring_dedup(spark, str(tmp_path)).collect()
    }
    assert out[1].n_dup_windows >= 1, "run missed in doc A"
    assert out[2].n_dup_windows >= 1, "shifted run missed in doc B"
    assert out[3].n_dup_windows == 0
    assert 0.0 < out[1].dup_frac <= 1.0


def test_minhash_cross_near_duplicates_bipartite(spark):
    """Bipartite fuzzy decontamination: a corpus doc near-duplicating
    a benchmark doc is flagged (corpus id as doc_a, benchmark id as
    doc_b); corpus-corpus near-dups are NOT (not this operator's
    question); unrelated docs never flag."""
    corpus = _docs(spark, [BASE, NEAR, OTHER])  # 0 ~ 1, 2 unrelated
    bench = spark.createDataFrame(
        [Row(doc_id=100, text=BASE), Row(doc_id=101, text="zz " * 40)]
    )
    pairs = dedup.minhash_cross_near_duplicates(
        corpus, bench, threshold=0.5
    ).collect()
    got = {(p.doc_a, p.doc_b) for p in pairs}
    # corpus docs 0 AND its near-dup 1 both match benchmark doc 100;
    # the corpus-internal (0, 1) pair must NOT appear
    assert (0, 100) in got
    assert all(b in (100, 101) for _, b in got)
    assert (0, 1) not in got and (1, 0) not in got
    assert not any(b == 101 for _, b in got)


def test_minhash_cross_overlapping_id_spaces(spark):
    """Regression (ADVICE r08): the two sides are independent
    relations — a benchmark doc sharing an id with an unrelated corpus
    doc must still match its true corpus near-dup, and each side's
    shingles must resolve from its OWN relation (the old union-based
    verify picked an arbitrary side for a shared id)."""
    corpus = _docs(spark, [BASE, NEAR, OTHER])  # ids 0,1,2
    bench = spark.createDataFrame(
        [Row(doc_id=0, text=BASE), Row(doc_id=2, text="zz " * 40)]
    )  # bench id 0 == corpus id 0, bench id 2 collides with OTHER
    got = {
        (p.doc_a, p.doc_b)
        for p in dedup.minhash_cross_near_duplicates(
            corpus, bench, threshold=0.5
        ).collect()
    }
    # corpus 0 (BASE) and 1 (NEAR) both match benchmark 0 (BASE),
    # including the same-id cross pair (0, 0); the colliding-but-
    # unrelated id 2 never flags despite sharing an id
    assert (0, 0) in got and (1, 0) in got
    assert not any(b == 2 for _, b in got)


def test_shingle_hash_rel_matches_hashed_word_shingles(spark):
    """The codegen kernel's hash set per doc equals xxhash64 over
    ``functions.text.word_shingles`` (the string-shingle form): docs
    of fewer than three tokens hash the whole text, repeated shingles
    collapse to one hash."""
    from pyspark.sql import functions as F

    from projetbigdatastreaming_spark.functions.text import word_shingles

    docs = _docs(
        spark,
        [
            "",
            "solo",
            "two words",
            "a b c a b c a b c",  # 3 distinct shingles, 7 occurrences
            "x x x x x",  # 1 distinct shingle
            BASE,
            NEAR,
            OTHER,
        ],
    )
    got = {
        r.doc_id: sorted(r.sh_hashes)
        for r in dedup.shingle_hash_rel(docs).collect()
    }
    hashed = F.transform(word_shingles("text"), lambda s: F.xxhash64(s))
    want = {
        r.doc_id: sorted(r.h)
        for r in docs.select("doc_id", hashed.alias("h")).collect()
    }
    assert got == want
    assert len(got[3]) == 3 and len(got[4]) == 1
