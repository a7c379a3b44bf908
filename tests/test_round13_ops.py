"""Directed tests for the 16 round-13 queries — hand-computable
synthetic inputs pinning the math, plus fixture-level invariants.
(The DuckDB oracle pins cross-engine equality; these pin that both
engines compute the RIGHT thing.)
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from projetbigdatastreaming_spark.plans import advanced, llmdata, timeseries


def _write_events(spark, tmp_path, rows):
    """rows: (event_type, day_offset, value) triples; ids/users synth."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    data = [
        (i, base + dt.timedelta(days=d), i % 97, t, float(v), "{}")
        for i, (t, d, v) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _write_docs(spark, tmp_path, rows):
    """rows: (text, source) pairs."""
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


# --- stats panel -------------------------------------------------------------


def test_welch_equals_classic_anova_under_equal_variance(spark, sf_dir):
    """With near-equal group variances Welch's F approximates the
    classic F (they coincide exactly only for equal n and var); on
    the fixture both must at least be finite, positive, and within
    an order of magnitude."""
    fw = advanced.q_welch_anova(spark, sf_dir).collect()[0]
    fa = advanced.q_anova_oneway(spark, sf_dir).collect()[0]
    assert fw.k == fa.k
    assert fw.f_stat > 0 and fw.df2 > 0
    assert fw.f_stat < fa.f_stat * 10 + 10
    assert fa.f_stat < fw.f_stat * 10 + 10


def test_welch_textbook_two_group(spark, tmp_path):
    """Two groups, hand-computed Welch F: a=(1,2,3), b=(2,4,6,8)
    (values in whole units -> exact cents)."""
    rows = [("a", i, v) for i, v in enumerate([1, 2, 3])]
    rows += [("b", i, v) for i, v in enumerate([2, 4, 6, 8])]
    d = _write_events(spark, tmp_path, rows)
    r = advanced.q_welch_anova(spark, d).collect()[0]
    # hand math in cents: a: n=3 m=200 v=10000; b: n=4 m=500 v=200000/3
    va, vb = 10000.0, 200000.0 / 3.0
    wa, wb = 3 / va, 4 / vb
    w = wa + wb
    mbar = (wa * 200 + wb * 500) / w
    a_num = (wa * (200 - mbar) ** 2 + wb * (500 - mbar) ** 2) / 1.0
    c = (1 - wa / w) ** 2 / 2 + (1 - wb / w) ** 2 / 3
    f = a_num  # k=2 -> the 2(k-2)/(k^2-1) Welch denominator term is 0
    df2 = (2 * 2 - 1) / (3 * c)
    assert abs(r.f_stat - f) < 1e-4, (r.f_stat, f)
    assert abs(r.df2 - df2) < 1e-4, (r.df2, df2)


def test_levene_detects_unequal_spread(spark, tmp_path):
    """Same medians, wildly different spread -> large F (deviations
    vary WITHIN each group so the denominator is nonzero)."""
    tight = [("a", i, 100 + (i % 3)) for i in range(42)]
    wide = [("b", i, 100 + (10 + 40 * (i % 3)) * ((i % 2) * 2 - 1))
            for i in range(42)]
    d = _write_events(spark, tmp_path, tight + wide)
    r = advanced.q_levene_test(spark, d).collect()[0]
    assert r.k == 2 and r.f_stat > 50


def test_levene_degenerate_within_variance_is_null(spark, tmp_path):
    """Constant |x − median| inside every group -> F undefined ->
    NULL (the round-13 guard), not a divide-by-zero error."""
    rows = [("a", i, 100 + (i % 2)) for i in range(20)]
    rows += [("b", i, 100 + 50 * ((i % 2) * 2 - 1)) for i in range(20)]
    d = _write_events(spark, tmp_path, rows)
    r = advanced.q_levene_test(spark, d).collect()[0]
    assert r.f_stat is None


def test_cohens_d_sign_and_count(spark, sf_dir):
    per = {
        r.event_type: r
        for r in advanced.moments_by_type(
            __import__(
                "projetbigdatastreaming_spark.catalog", fromlist=["x"]
            ).load_table(spark, sf_dir, "events")
        ).collect()
    }
    rows = advanced.q_cohens_d_pairs(spark, sf_dir).collect()
    k = len(per)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        ma = float(per[r.type_a].s1) / per[r.type_a].n
        mb = float(per[r.type_b].s1) / per[r.type_b].n
        if abs(ma - mb) > 1e-9:
            assert (r.cohens_d > 0) == (ma > mb), r
        assert abs(r.hedges_g) <= abs(r.cohens_d) + 1e-12


def test_bh_fdr_adjusted_never_below_raw(spark, sf_dir):
    rows = advanced.q_bh_fdr(spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert 0.0 <= r.p_raw <= 1.0
        assert r.p_bh >= r.p_raw - 1e-9
        assert r.p_bh <= 1.0
        assert r.reject_q05 == (r.p_bh <= 0.05)
    # step-up monotonicity: sorted by raw p, adjusted p nondecreasing
    srt = sorted(rows, key=lambda r: (r.p_raw, r.event_type))
    for a, b in zip(srt, srt[1:]):
        assert a.p_bh <= b.p_bh + 1e-9


def test_normal_p_polynomial_accuracy():
    """The shared A&S 26.2.17 polynomial vs known two-sided values."""
    import duckdb

    expr = advanced._norm_two_sided_p("z")
    for z, want in [(0.0, 1.0), (1.0, 0.3173105), (1.959964, 0.05),
                    (2.575829, 0.01), (3.0, 0.0026998)]:
        got = duckdb.sql(
            f"SELECT {expr} AS p FROM (SELECT CAST({z} AS DOUBLE) AS z)"
        ).fetchone()[0]
        assert abs(got - want) < 2e-7, (z, got, want)


def test_friedman_complete_blocks_and_correction(spark, sf_dir):
    r = advanced.q_friedman_test(spark, sf_dir).collect()[0]
    assert r.k >= 2 and r.n_blocks >= 1
    assert r.q_stat >= 0
    assert r.q_corrected >= r.q_stat - 1e-9  # C <= 1


def test_friedman_textbook(spark, tmp_path):
    """3 treatments x 3 blocks on daily COUNTS, no ties; ranks
    hand-computed: Q = 12/(n k (k+1)) * sum R_j^2 - 3 n (k+1)."""
    # counts per (type, day): a=1, b=2, c=3 events -> ranks 1,2,3 in
    # every block -> R = (3, 6, 9)
    rows = []
    for d in range(3):
        rows += [("a", d, 1.0)]
        rows += [("b", d, 1.0)] * 2
        rows += [("c", d, 1.0)] * 3
    dpath = _write_events(spark, tmp_path, rows)
    r = advanced.q_friedman_test(spark, dpath).collect()[0]
    q = 12.0 / (3 * 3 * 4) * (9 + 36 + 81) - 3 * 3 * 4
    assert abs(r.q_stat - q) < 1e-6 and r.n_blocks == 3 and r.k == 3
    assert abs(r.q_corrected - q) < 1e-6  # no ties


def test_friedman_all_tied_is_null(spark, tmp_path):
    """Every type with the same count every day: the tie correction
    hits 0 and q_corrected must be NULL, not a divide-by-zero."""
    rows = []
    for d in range(4):
        rows += [("a", d, 1.0), ("b", d, 1.0), ("c", d, 1.0)]
    dpath = _write_events(spark, tmp_path, rows)
    r = advanced.q_friedman_test(spark, dpath).collect()[0]
    assert r.q_corrected is None and abs(r.q_stat) < 1e-9


def test_permutation_p_bounds(spark, sf_dir):
    for r in advanced.q_permutation_test(spark, sf_dir).collect():
        assert 1.0 / (advanced._PERM_B + 1) <= r.p_value <= 1.0
        assert r.n_resamples == advanced._PERM_B


# --- time series -------------------------------------------------------------


def test_mann_kendall_monotone_series(spark, tmp_path):
    """Strictly increasing daily counts: S = n(n-1)/2, z > 0."""
    rows = []
    for d in range(10):
        rows += [("up", d, 1.0)] * (d + 1)
    dpath = _write_events(spark, tmp_path, rows)
    r = timeseries.q_mann_kendall_trend(spark, dpath).collect()[0]
    assert r.s_stat == 45 and r.z_score > 0 and r.n_days == 10


def test_stl_seasonal_strength_bounds(spark, sf_dir):
    for r in timeseries.q_stl_seasonal_strength(spark, sf_dir).collect():
        assert 0.0 <= r.seasonal_strength <= 1.0
        assert 0.0 <= r.trend_strength <= 1.0


def test_croston_hand_fold(spark, tmp_path):
    """Demands y=(4, 6) on days 0 and 10 -> one fold step:
    z = .25*6+.75*4 = 4.5, x = .25*10+.75*1 = 3.25."""
    rows = [("a", 0, 400.0)] * 4 + [("a", 10, 400.0)] * 6
    # value 400 >= threshold 250 -> every event is a demand unit
    dpath = _write_events(spark, tmp_path, rows)
    r = timeseries.q_croston_forecast(spark, dpath).collect()[0]
    assert r.n_demands == 2
    assert abs(r.ses_size - 4.5) < 1e-9
    assert abs(r.ses_interval - 3.25) < 1e-9
    assert abs(r.demand_rate_per_day - 4.5 / 3.25) < 1e-6


def test_holt_winters_recovers_seasonal_pattern(spark, tmp_path):
    """Pure weekly pattern + linear trend: HW forecast lands near the
    true continuation."""
    season = [10, -5, 0, 5, -10, 20, -20]
    rows = []
    for d in range(35):
        y = 100 + 2 * d + season[d % 7]
        rows += [("s", d, 1.0)] * y
    dpath = _write_events(spark, tmp_path, rows)
    r = timeseries.q_holt_winters_forecast(spark, dpath).collect()[0]
    want = 100 + 2 * (35 - 1 + 7) + season[(35 - 1 + 7) % 7]
    assert abs(r.trend - 2.0) < 0.5
    assert abs(r.forecast_7d - want) < 8.0, (r.forecast_7d, want)


# --- corpus / planning -------------------------------------------------------


def test_vocab_coverage_monotone(spark, sf_dir):
    rows = llmdata.q_vocab_coverage_curve(spark, sf_dir).collect()
    assert [r.vocab_size for r in rows] == sorted(
        r.vocab_size for r in rows
    )
    for a, b in zip(rows, rows[1:]):
        assert b.coverage >= a.coverage - 1e-9
    assert all(0 < r.coverage <= 1.0 for r in rows)


def test_ngram_entropy_zero_for_deterministic_text(spark, tmp_path):
    """'a b a b ...' has H(W2|W1) = 0; a 4-way uniform continuation
    has H = 2 bits."""
    det = "a b " * 50
    # after 'x', continuations c1..c4 uniformly: H(.|x) = 2 bits; the
    # returns to x are deterministic (H contribution 0), so total
    # H = (mass of x-contexts) * 2
    uni = " ".join(f"x c{i % 4 + 1}" for i in range(80))
    d = _write_docs(spark, tmp_path, [(det, "det"), (uni, "uni")])
    out = {
        r.source: r
        for r in llmdata.q_ngram_entropy_rate(spark, d).collect()
    }
    assert out["det"].entropy_bits == 0.0
    # uni: ~half the bigrams are (x, c_i) at 2 bits, rest deterministic
    assert 0.9 < out["uni"].entropy_bits < 1.1
    assert abs(out["uni"].perplexity - 2 ** out["uni"].entropy_bits) < 1e-4


def test_bloom_sizing_identities(spark, sf_dir):
    rows = llmdata.q_bloom_filter_sizing(spark, sf_dir).collect()
    assert len(rows) == len(llmdata._BLOOM_FPP_GRID)
    for r in rows:
        want_m = math.ceil(
            -r.n_keys * math.log(r.target_fpp) / math.log(2.0) ** 2
        )
        assert abs(r.m_bits - want_m) <= 1
        assert r.achieved_fpp <= r.target_fpp * 1.15
        # tighter fpp -> more bits
    ms = [r.m_bits for r in rows]
    assert ms == sorted(ms)  # ordered by target_fpp desc -> m ascending


def test_minibatch_alloc_sums_to_batch(spark, sf_dir):
    rows = llmdata.q_minibatch_mixture_plan(spark, sf_dir).collect()
    assert sum(r.final_alloc for r in rows) == llmdata._BATCH_SIZE
    for r in rows:
        assert r.final_alloc in (r.base_alloc, r.base_alloc + 1)
    # weights normalize
    assert abs(sum(r.temp_weight for r in rows) - 1.0) < 1e-3


def test_shard_balance_totals_and_skew(spark, sf_dir):
    import duckdb

    total = duckdb.sql(
        f"SELECT SUM(n_chars) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    rows = advanced.q_shard_balance_planner(spark, sf_dir).collect()
    assert len(rows) == len(advanced._SHARD_GRID)
    for r in rows:
        assert r.total_bytes == total
        assert r.max_over_mean >= 1.0 - 1e-9
        assert r.shards_used <= r.n_shards


def test_broadcast_planner_survey(spark, sf_dir):
    rows = {
        r.table_name: r
        for r in advanced.q_broadcast_budget_planner(
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == set(advanced._BCAST_TABLES)
    assert rows["region"].n_rows == 5
    assert rows["region"].broadcastable
    assert rows["region"].dim_side_strategy == "broadcast"
