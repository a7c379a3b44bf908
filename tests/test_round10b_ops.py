"""Property tests for the round-10 second-wave operators:
t_closeness, linreg_ols, yoy_growth, acf_lags, seasonal_dow_index,
ams_f2.  Each asserts an operator-level invariant the DuckDB oracle
can't express (cross-checks against an independent numpy/pandas
computation, conservation laws, analytic bounds)."""

from __future__ import annotations

import math

import numpy as np

import __spark_entry__ as entry


def _q(spark, sf_dir, name):
    return entry.queries()[name](spark, sf_dir)


def test_t_closeness_bounds_and_population_reconciles(spark, sf_dir):
    rows = _q(spark, sf_dir, "t_closeness").collect()
    assert rows
    for r in rows:
        # EMD under the normalized ordinal ground distance is in [0, 1]
        assert 0.0 <= r.t_value <= 1.0
        # the flag is the exact-integer form of t > 0.2; the rounded
        # t_value can differ from the flag only within rounding slack
        if r.t_value > 0.200001:
            assert r.violates
        if r.t_value < 0.199999:
            assert not r.violates
    # group populations cover the customer⋈orders left-join exactly
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    expected = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        ).count()
    )
    assert sum(r.group_n for r in rows) == expected


def test_linreg_ols_matches_numpy_lstsq(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    got = {
        r.l_returnflag: r
        for r in _q(spark, sf_dir, "linreg_ols").collect()
    }
    for flag, grp in li.groupby("l_returnflag"):
        x1 = grp["l_quantity"].astype("int64").to_numpy()
        x2 = np.floor(grp["l_discount"] * 100 + 0.5).astype("int64")
        y = np.floor(grp["l_extendedprice"] * 100 + 0.5).astype("int64")
        X = np.column_stack([np.ones(len(grp)), x1, x2])
        beta, *_ = np.linalg.lstsq(X, y.to_numpy(), rcond=None)
        r = got[flag]
        assert r.n == len(grp)
        assert math.isclose(r.b0_cents, beta[0], rel_tol=1e-4, abs_tol=1e-2)
        assert math.isclose(
            r.b1_cents_per_qty, beta[1], rel_tol=1e-4, abs_tol=1e-2
        )
        assert math.isclose(
            r.b2_cents_per_disc_pct, beta[2], rel_tol=1e-4, abs_tol=1e-2
        )
        assert 0.0 <= r.r2 <= 1.0


def test_yoy_growth_reconciles_and_first_year_null(spark, sf_dir):
    rows = _q(spark, sf_dir, "yoy_growth").collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").toPandas()
    total_cents = int(np.floor(orders["o_totalprice"] * 100 + 0.5).sum())
    assert sum(r.revenue_cents for r in rows) == total_cents
    seen_first = set()
    for r in rows:  # ordered by (n_name, yr)
        if r.n_name not in seen_first:
            assert r.growth_pct is None
            seen_first.add(r.n_name)
        else:
            assert r.growth_pct is not None


def test_acf_matches_numpy(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.date
    got = {}
    for r in _q(spark, sf_dir, "acf_lags").collect():
        got[(r.event_type, r.lag)] = r.acf
        assert -1.0 <= r.acf <= 1.0
    for etype, grp in ev.groupby("event_type"):
        y = (
            grp.groupby("day").size().sort_index().to_numpy(dtype="float64")
        )
        dev = y - y.mean()
        den = float(dev @ dev)
        for k in range(1, 8):
            if (etype, k) not in got:
                continue
            expect = float(dev[k:] @ dev[:-k]) / den
            assert math.isclose(
                got[(etype, k)], expect, rel_tol=1e-4, abs_tol=1e-5
            )


def test_seasonal_index_weighted_mean_is_one(spark, sf_dir):
    # Σ_d index(d) · (c_d / n_t) = Σ_d s_d / S_t = 1 by construction
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.date
    daily = ev.groupby(["event_type", "day"]).size().reset_index(name="y")
    daily["dow"] = [d.weekday() for d in daily["day"]]
    rows = _q(spark, sf_dir, "seasonal_dow_index").collect()
    by_type: dict[str, float] = {}
    for r in rows:
        grp = daily[daily.event_type == r.event_type]
        c_d = int((grp.dow == r.dow).sum())
        n_t = len(grp)
        by_type[r.event_type] = by_type.get(r.event_type, 0.0) + (
            r.seasonal_index * c_d / n_t
        )
        assert r.seasonal_index > 0
        # cross-check the index value itself
        s_d = int(grp[grp.dow == r.dow]["y"].sum())
        s_t = int(grp["y"].sum())
        assert math.isclose(
            r.seasonal_index,
            (s_d * n_t) / (c_d * s_t),
            rel_tol=1e-5,
            abs_tol=1e-6,
        )
    for total in by_type.values():
        assert math.isclose(total, 1.0, rel_tol=1e-4)


def test_ams_f2_exact_moment_and_tolerance(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    counts = li.groupby("l_partkey").size().to_numpy(dtype="int64")
    f2 = int((counts.astype(object) ** 2).sum())
    row = _q(spark, sf_dir, "ams_f2").collect()[0]
    assert row.exact_f2 == f2
    assert row.within_tol
    assert abs(row.rel_err) <= 0.55


def test_ols_stream_fold_equals_batch(spark, sf_dir, tmp_path):
    """Streaming OLS: additive sufficient-statistic partials over 3
    micro-batches fold to EXACTLY the batch regression, and an
    at-least-once redelivery restates instead of double-counting
    (double-counted sums would bias every coefficient)."""
    from projetbigdatastreaming_spark.catalog import load_table
    from projetbigdatastreaming_spark.plans.advanced import q_linreg_ols
    from projetbigdatastreaming_spark.streaming.timeseries import (
        ols_partials_writer,
        read_ols,
    )

    li = load_table(spark, sf_dir, "lineitem")
    state = str(tmp_path / "ols")
    write = ols_partials_writer(state)
    for i in range(3):
        write(li.where(f"l_orderkey % 3 = {i}"), i)

    def rows(df):
        return [tuple(r) for r in df.collect()]

    want = rows(q_linreg_ols(spark, sf_dir))
    assert rows(read_ols(spark, state)) == want and len(want) > 0

    write(li.where("l_orderkey % 3 = 1"), 1)  # redelivery restates
    assert rows(read_ols(spark, state)) == want


def test_kcore_converged_and_sound(spark, sf_dir):
    """A converged 2-core has min degree >= 2 BY DEFINITION — if the
    unrolled peel hadn't reached the fixpoint within _KCORE_ROUNDS,
    some surviving node would still show core_degree < 2.  Also: the
    core's nodes are a subset of the d>=2 nodes of the full graph."""
    from projetbigdatastreaming_spark.cache import _SCOPED_PERSISTS

    def assert_no_dead_handles():
        # one key per plan, so no eviction can uncache a relation
        # still registered under another key
        dead = [
            k
            for k, df in _SCOPED_PERSISTS.items()
            if not df.storageLevel.useMemory
        ]
        assert not dead, dead

    rows = _q(spark, sf_dir, "graph_kcore").collect()
    assert_no_dead_handles()
    assert rows, "fixture 2-core should be non-empty"
    assert min(r.core_degree for r in rows) >= 2
    lcc_nodes = {
        r.doc_id for r in _q(spark, sf_dir, "graph_clustering_coeff").collect()
    }
    assert_no_dead_handles()
    assert {r.doc_id for r in rows} <= lcc_nodes


def test_clustering_coeff_matches_bruteforce(spark, sf_dir):
    """Per-node lcc cross-checked against a pure-Python adjacency
    computation over the same (collected, fixture-small) edge list."""
    from projetbigdatastreaming_spark.catalog import load_table
    from projetbigdatastreaming_spark.operators import dedup
    from projetbigdatastreaming_spark.plans.graph import _TRI_THRESHOLD

    edges = [
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_near_duplicates(
            load_table(spark, sf_dir, "documents"), _TRI_THRESHOLD
        ).collect()
    ]
    adj: dict[str, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    got = {
        r.doc_id: r
        for r in _q(spark, sf_dir, "graph_clustering_coeff").collect()
    }
    expect_nodes = {x for x, nb in adj.items() if len(nb) >= 2}
    assert set(got) == expect_nodes
    for x in expect_nodes:
        nb = adj[x]
        d = len(nb)
        t = sum(
            1
            for a in nb
            for b in nb
            if a < b and b in adj.get(a, set())
        )
        r = got[x]
        assert r.degree == d and r.n_triangles == t
        assert math.isclose(
            r.lcc, (2.0 * t) / (d * (d - 1)), rel_tol=1e-5, abs_tol=1e-6
        )


def test_ams_join_size_exact_and_tolerance(spark, sf_dir):
    import pandas as pd

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    in_r = li["l_shipdate"] < pd.Timestamp("1998-01-01")
    cr = li[in_r].groupby("l_partkey").size()
    cs = li[~in_r].groupby("l_partkey").size()
    exact = int((cr * cs).dropna().sum())
    row = _q(spark, sf_dir, "ams_join_size").collect()[0]
    assert row.exact_join_size == exact
    assert row.within_tol


def test_robust_trimmed_stats_matches_numpy(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    for r in _q(spark, sf_dir, "robust_trimmed_stats").collect():
        x = np.sort(ev.loc[ev.event_type == r.event_type, "cents"])
        n = len(x)
        assert r.n == n
        # quantile_disc: smallest value whose cum count >= ceil(q*n)
        lo = int(x[math.ceil(0.05 * n) - 1])
        hi = int(x[math.ceil(0.95 * n) - 1])
        assert (r.p05_cents, r.p95_cents) == (lo, hi)
        assert lo <= r.trimmed_mean_cents <= hi
        assert lo <= r.winsorized_mean_cents <= hi
        wins = np.clip(x, lo, hi)
        trim = x[(x >= lo) & (x <= hi)]
        assert math.isclose(
            r.winsorized_mean_cents, wins.mean(), rel_tol=1e-6, abs_tol=1e-5
        )
        assert math.isclose(
            r.trimmed_mean_cents, trim.mean(), rel_tol=1e-6, abs_tol=1e-5
        )


def test_robust_stats_stream_fold_equals_batch(spark, sf_dir, tmp_path):
    """Streaming exact percentiles: additive histogram partials over 3
    micro-batches fold to EXACTLY the batch winsorized/trimmed panel;
    a redelivery restates instead of double-counting (which would
    shift every cumulative rank and so the percentile bounds)."""
    from projetbigdatastreaming_spark.catalog import load_table
    from projetbigdatastreaming_spark.plans.advanced import (
        q_robust_trimmed_stats,
    )
    from projetbigdatastreaming_spark.streaming.timeseries import (
        hist_partials_writer,
        read_robust_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    state = str(tmp_path / "hist")
    write = hist_partials_writer(state)
    for i in range(3):
        write(ev.where(f"event_id % 3 = {i}"), i)

    def rows(df):
        return [tuple(r) for r in df.collect()]

    want = rows(q_robust_trimmed_stats(spark, sf_dir))
    assert rows(read_robust_stats(spark, state)) == want and len(want) > 0

    write(ev.where("event_id % 3 = 0"), 0)  # redelivery restates
    assert rows(read_robust_stats(spark, state)) == want


def test_temporal_scd2_attribution_correct(spark, sf_dir):
    """Every purchase attributes to the LATEST signup tier at or
    before its timestamp — cross-checked by a pure-Python replay."""
    import json

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type", "value", "props")
        .collect()
    )
    changes: dict = {}
    for r in ev:
        if r.event_type == "signup":
            changes.setdefault(r.user_id, []).append(
                (r.ts, r.event_id, json.loads(r.props)["k"] % 4)
            )
    for v in changes.values():
        v.sort()
    agg: dict = {}
    for r in ev:
        if r.event_type != "purchase":
            continue
        tier = None
        for ts, eid, k in changes.get(r.user_id, []):
            if ts <= r.ts:
                tier = k
            else:
                break
        n, cents, users = agg.get(tier, (0, 0, set()))
        users = users | {r.user_id}
        agg[tier] = (n + 1, cents + int(np.floor(r.value * 100 + 0.5)), users)
    got = {
        r.tier_at: (r.n_purchases, r.revenue_cents, r.n_users)
        for r in _q(spark, sf_dir, "join_temporal_scd2").collect()
    }
    expect = {k: (n, c, len(u)) for k, (n, c, u) in agg.items()}
    assert got == expect


def test_ab_split_balanced_and_z_matches_scipy_free_formula(spark, sf_dir):
    # randomization balance holds at the UNIT of assignment (users) —
    # event counts cluster per user, so na/nb may legitimately skew
    from projetbigdatastreaming_spark.operators.sampling import (
        _portable_hash,
    )
    from pyspark.sql import functions as F

    users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .select((_portable_hash(F.col("user_id"), "ab0") % 2 == 0).alias("a"))
        .collect()
    )
    n_users = len(users)
    n_a = sum(1 for u in users if u.a)
    assert abs(n_a - n_users / 2) < 5 * math.sqrt(n_users / 4) + 1
    rows = _q(spark, sf_dir, "ab_test_zscore").collect()
    assert rows
    for r in rows:
        assert r.na > 1 and r.nb > 1
        # null-effect data: z should be finite and modest
        assert abs(r.z_score) < 6
        assert r.significant == (abs(r.z_score) > 1.96) or (
            abs(abs(r.z_score) - 1.96) < 1e-5
        )


def test_forecast_skill_consistent(spark, sf_dir):
    for r in _q(spark, sf_dir, "forecast_seasonal_naive").collect():
        assert r.n_eval_days > 0
        assert r.mae_seasonal >= 0 and r.mae_naive >= 0
        if r.skill is not None and r.mae_naive > 0:
            assert math.isclose(
                r.skill,
                1.0 - r.mae_seasonal / r.mae_naive,
                rel_tol=1e-4,
                abs_tol=2e-6,
            )


def test_fifo_fill_conserves_and_matches_replay(spark, sf_dir):
    """FIFO interval-clamp identity cross-checked by a literal
    walk-the-demand-in-order Python replay; total filled per part is
    min(total demand, supply)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    supply = (
        li[li.l_linestatus == "F"]
        .groupby("l_partkey")["l_quantity"]
        .sum()
        .astype("int64")
    )
    demand = li[li.l_linestatus == "O"].sort_values(
        ["l_partkey", "l_shipdate", "l_orderkey", "l_linenumber"]
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").toPandas()
    prio = dict(zip(orders.o_orderkey, orders.o_orderpriority))
    agg: dict = {}
    stock: dict = {}
    for r in demand.itertuples():
        s = stock.setdefault(r.l_partkey, int(supply.get(r.l_partkey, 0)))
        q = int(r.l_quantity)
        fill = min(q, s)
        stock[r.l_partkey] = s - fill
        p = prio[r.l_orderkey]
        n, d, f = agg.get(p, (0, 0, 0))
        agg[p] = (n + 1, d + q, f + fill)
    got = {
        r.o_orderpriority: (r.n_lines, r.demand_qty, r.filled_qty)
        for r in _q(spark, sf_dir, "fifo_fill").collect()
    }
    assert got == agg


def test_rake_scores_consistent_with_corpus_stats(spark, sf_dir):
    """Recompute RAKE from scratch in Python over the raw text and
    check the returned top-k rows carry the exact same scores."""
    stops = {"a", "the", "of", "and", "in", "on", "to", "is"}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    freq: dict = {}
    deg: dict = {}
    occ: dict = {}
    for text in docs.text:
        run: list = []
        for w in text.lower().split(" ") + ["the"]:
            if w in stops or w == "":
                if run and len(run) <= 4:
                    p = " ".join(run)
                    occ[p] = occ.get(p, 0) + 1
                    for x in run:
                        freq[x] = freq.get(x, 0) + 1
                        deg[x] = deg.get(x, 0) + len(run)
                run = []
            else:
                run.append(w)
    uscore = {w: deg[w] * 1000000 // freq[w] for w in freq}
    rows = _q(spark, sf_dir, "text_keyphrases_rake").collect()
    assert len(rows) == 20
    expect_scores = {
        p: sum(uscore[w] for w in p.split(" ")) / 1e6 for p in occ
    }
    for r in rows:
        assert r.n_occurrences == occ[r.phrase]
        assert math.isclose(
            r.rake_score, expect_scores[r.phrase], abs_tol=1e-9
        )
    # the returned rows are the true top-k under (score desc, phrase)
    topk = sorted(
        expect_scores.items(), key=lambda kv: (-kv[1], kv[0])
    )[:20]
    assert [(r.phrase, r.rake_score) for r in rows] == [
        (p, s) for p, s in topk
    ]


def test_did_placebo_near_zero_and_matches_pandas(spark, sf_dir):
    """Null-effect placebo: the DiD z should not blow up; and the
    estimate matches a pandas recomputation of the four cell means."""
    import pandas as pd
    from projetbigdatastreaming_spark.operators.sampling import (
        _portable_hash,
    )
    from pyspark.sql import functions as F

    sdf = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        "user_id",
        "ts",
        "value",
        (_portable_hash(F.col("user_id"), "did0") % 2 == 0).alias("treat"),
    )
    ev = sdf.toPandas()
    ev["post"] = ev["ts"].dt.date >= pd.Timestamp("2024-01-16").date()
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    unit = (
        ev.groupby(["event_type", "user_id", "post", "treat"])["cents"]
        .sum()
        .reset_index()
    )
    got = {r.event_type: r for r in _q(spark, sf_dir, "diff_in_diff").collect()}
    for etype, g in unit.groupby("event_type"):
        m = {
            (t, p): g[(g.treat == t) & (g.post == p)]["cents"].mean()
            for t in (True, False)
            for p in (True, False)
        }
        did = (m[(True, True)] - m[(True, False)]) - (
            m[(False, True)] - m[(False, False)]
        )
        r = got[etype]
        assert math.isclose(r.did_cents, did, rel_tol=1e-6, abs_tol=2e-6)
        assert abs(r.z_score) < 6  # placebo on null data


def test_cuped_variance_identity(spark, sf_dir):
    """var_cuped == var_post·(1−ρ²) by construction, and the reported
    θ/ρ² match a numpy recomputation on per-user pre/post totals."""
    import pandas as pd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["post"] = ev["ts"].dt.date >= pd.Timestamp("2024-01-16").date()
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    got = {
        r.event_type: r
        for r in _q(spark, sf_dir, "cuped_adjustment").collect()
    }
    for etype, g in ev.groupby("event_type"):
        per_user = g.pivot_table(
            index="user_id",
            columns="post",
            values="cents",
            aggfunc="sum",
            fill_value=0,
        )
        x = per_user.get(False, 0)
        y = per_user.get(True, 0)
        x = np.asarray(x, dtype="float64")
        y = np.asarray(y, dtype="float64")
        vx = x.var(ddof=1)
        vy = y.var(ddof=1)
        cxy = np.cov(x, y, ddof=1)[0, 1]
        r = got[etype]
        assert math.isclose(r.theta, cxy / vx, rel_tol=1e-5, abs_tol=2e-6)
        rho2 = cxy * cxy / (vx * vy)
        assert math.isclose(r.rho2, rho2, rel_tol=1e-5, abs_tol=2e-6)
        assert math.isclose(
            r.var_cuped, r.var_post * (1 - rho2),
            rel_tol=1e-5, abs_tol=0.5,
        )
        assert 0.0 <= r.rho2 <= 1.0


def test_rrf_fuses_the_two_arms_consistently(spark, sf_dir):
    """Every fused row's score recomputes from its two ranks; rows
    missing an arm contribute 0 for it; per-qid output is the true
    top-10 under (score desc, doc_id)."""
    rows = _q(spark, sf_dir, "hybrid_search_rrf").collect()
    assert rows
    by_qid: dict = {}
    for r in rows:
        expect = 0.0
        if r.r_dense is not None:
            expect += 1.0 / (60 + r.r_dense)
        if r.r_lex is not None:
            expect += 1.0 / (60 + r.r_lex)
        assert math.isclose(r.rrf_score, expect, abs_tol=1.1e-6)
        assert r.r_dense is not None or r.r_lex is not None
        by_qid.setdefault(r.qid, []).append(r)
    for qid, rs in by_qid.items():
        assert [r.rk for r in rs] == list(range(1, 11))
        scores = [(-r.rrf_score, r.doc_id) for r in rs]
        assert scores == sorted(scores)
    # the dense arm agrees with the standalone cosine ranking
    dense_std = {
        (r.qid, r.vec_id): r.rk
        for r in _q(spark, sf_dir, "emb_cosine_topk").collect()
    }
    for r in rows:
        if r.r_dense is not None and r.r_dense <= 10:
            assert dense_std.get((r.qid, r.doc_id)) == r.r_dense


def test_temporal_align_partitions_time_and_matches_replay(spark, sf_dir):
    """Aligned intervals per user tile time without gaps or overlaps,
    and every interval's (tier, level) equals a pure-Python as-of
    replay at its start instant."""
    import json

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type", "props")
        .collect()
    )
    changes: dict = {}
    for r in ev:
        if r.event_type == "signup":
            changes.setdefault(r.user_id, []).append(
                (r.ts, 0, r.event_id, "tier", json.loads(r.props)["k"] % 4)
            )
        elif r.event_type == "purchase":
            changes.setdefault(r.user_id, []).append(
                (r.ts, 1, r.event_id, "level", json.loads(r.props)["k"] % 3)
            )
    rows = _q(spark, sf_dir, "temporal_align").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(changes)
    for u, ivs in by_user.items():
        # tiling: consecutive intervals abut; the last one is open
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from
        assert ivs[-1].valid_to is None
        # replay: state at each interval start
        seq = sorted(changes[u])
        state: dict = {"tier": None, "level": None}
        k = 0
        for iv in ivs:
            while k < len(seq) and seq[k][0] <= iv.valid_from:
                state[seq[k][3]] = seq[k][4]
                k += 1
            assert (iv.tier, iv.level) == (state["tier"], state["level"])


def test_median_ci_brackets_true_median(spark, sf_dir):
    """Order-statistic CI: lo <= median <= hi, the median equals the
    numpy ceil-rank median on cents, and the CI ranks match the
    binomial formula."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    for r in _q(spark, sf_dir, "median_ci").collect():
        x = np.sort(ev.loc[ev.event_type == r.event_type, "cents"])
        n = len(x)
        assert r.n == n
        assert r.median_cents == int(x[math.ceil(n / 2.0) - 1])
        lo = max(1, math.floor(n / 2.0 - 0.98 * math.sqrt(n)))
        hi = min(n, math.ceil(n / 2.0 + 1 + 0.98 * math.sqrt(n)))
        assert r.ci_lo_cents == int(x[lo - 1])
        assert r.ci_hi_cents == int(x[hi - 1])
        assert r.ci_lo_cents <= r.median_cents <= r.ci_hi_cents


def test_ks_test_matches_scipy_free_model(spark, sf_dir):
    """KS D per event type equals a numpy two-sample sup|F_A−F_B| on
    the same hash split; on a null split D should not reject at
    alpha=0.05 for most types."""
    from projetbigdatastreaming_spark.operators.sampling import (
        _portable_hash,
    )
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_type",
            "value",
            (_portable_hash(F.col("user_id"), "ab0") % 2 == 0).alias("a"),
        )
        .toPandas()
    )
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    got = {r.event_type: r for r in _q(spark, sf_dir, "ks_test").collect()}
    rejected = 0
    for etype, g in ev.groupby("event_type"):
        xa = np.sort(g[g.a]["cents"].to_numpy())
        xb = np.sort(g[~g.a]["cents"].to_numpy())
        grid = np.unique(np.concatenate([xa, xb]))
        fa = np.searchsorted(xa, grid, side="right") / len(xa)
        fb = np.searchsorted(xb, grid, side="right") / len(xb)
        d = float(np.max(np.abs(fa - fb)))
        r = got[etype]
        assert math.isclose(r.ks_d, d, rel_tol=1e-5, abs_tol=2e-6)
        assert (r.na, r.nb) == (len(xa), len(xb))
        rejected += bool(r.reject_h0)
    assert rejected <= 2  # null data: mostly no rejection


def test_mwu_matches_pure_python_ranksum(spark, sf_dir):
    """U_A and the tie-corrected z match a from-scratch midrank
    computation; on a null hash split z stays modest."""
    from projetbigdatastreaming_spark.operators.sampling import (
        _portable_hash,
    )
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_type",
            "value",
            (_portable_hash(F.col("user_id"), "ab0") % 2 == 0).alias("a"),
        )
        .toPandas()
    )
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    got = {
        r.event_type: r
        for r in _q(spark, sf_dir, "mann_whitney_u").collect()
    }
    for etype, g in ev.groupby("event_type"):
        vals = g["cents"].to_numpy()
        a_mask = g["a"].to_numpy()
        order = np.argsort(vals, kind="stable")
        ranks = np.empty(len(vals), dtype="float64")
        sv = vals[order]
        i = 0
        pos = 1
        tie_s = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            t = j - i
            mid = pos + (t - 1) / 2.0
            ranks[order[i:j]] = mid
            tie_s += t**3 - t
            pos += t
            i = j
        na = int(a_mask.sum())
        nb = len(vals) - na
        ra = float(ranks[a_mask].sum())
        u_a = ra - na * (na + 1) / 2.0
        nn = na + nb
        var_u = na * nb / 12.0 * ((nn + 1) - tie_s / (nn * (nn - 1)))
        z = (u_a - na * nb / 2.0) / math.sqrt(var_u)
        r = got[etype]
        assert (r.na, r.nb) == (na, nb)
        assert math.isclose(r.u_a, u_a, rel_tol=1e-9, abs_tol=1e-6)
        assert math.isclose(r.z_score, z, rel_tol=1e-5, abs_tol=2e-6)
        assert abs(r.z_score) < 6


def test_chi2_cells_reconcile_with_pandas(spark, sf_dir):
    """Expected counts, contributions, and residuals match a pandas
    contingency computation; expecteds sum to N per row/column."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").toPandas()
    # nation names come from the dim join; rebuild via the nation table
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").toPandas()
    cust = cust.merge(
        nat, left_on="c_nationkey", right_on="n_nationkey"
    )
    tab = cust.groupby(["n_name", "c_mktsegment"]).size()
    r = cust.groupby("n_name").size()
    c = cust.groupby("c_mktsegment").size()
    n = len(cust)
    rows = _q(spark, sf_dir, "chi2_independence").collect()
    assert len(rows) == len(tab)
    for row in rows:
        o = int(tab[(row.n_name, row.c_mktsegment)])
        e = r[row.n_name] * c[row.c_mktsegment] / n
        assert row.o == o
        assert math.isclose(row.expected, e, rel_tol=1e-6, abs_tol=2e-6)
        assert math.isclose(
            row.chi2_contrib, (o - e) ** 2 / e, rel_tol=1e-5, abs_tol=2e-6
        )
        assert math.isclose(
            row.std_resid, (o - e) / math.sqrt(e),
            rel_tol=1e-5, abs_tol=2e-6,
        )


def test_theil_sen_matches_numpy_median_of_slopes(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.date
    got = {r.event_type: r for r in _q(spark, sf_dir, "theil_sen").collect()}
    for etype, g in ev.groupby("event_type"):
        daily = g.groupby("day").size().sort_index()
        days = list(daily.index)
        y = daily.to_numpy(dtype="float64")
        slopes = []
        for i in range(len(y)):
            for j in range(i + 1, len(y)):
                slopes.append((y[j] - y[i]) / (days[j] - days[i]).days)
        slopes.sort()
        n = len(slopes)
        lower_median = slopes[(n - 1) // 2]  # exact ceil(n/2)-th element
        r = got[etype]
        assert r.n_pairs == n
        assert math.isclose(
            r.sen_slope, lower_median, rel_tol=1e-5, abs_tol=2e-6
        )


def test_sign_test_counts_reconcile(spark, sf_dir):
    import pandas as pd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["post"] = ev["ts"].dt.date >= pd.Timestamp("2024-01-16").date()
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    got = {r.event_type: r for r in _q(spark, sf_dir, "sign_test").collect()}
    for etype, g in ev.groupby("event_type"):
        pre = g[~g.post].groupby("user_id")["cents"].sum()
        post = g[g.post].groupby("user_id")["cents"].sum()
        users = set(pre.index) | set(post.index)
        d = {u: post.get(u, 0) - pre.get(u, 0) for u in users}
        n_pos = sum(1 for v in d.values() if v > 0)
        n_neg = sum(1 for v in d.values() if v < 0)
        n_zero = len(users) - n_pos - n_neg
        r = got[etype]
        assert (r.n_pos, r.n_neg, r.n_zero) == (n_pos, n_neg, n_zero)
        assert abs(r.z_score) < 6  # null data


def test_bootstrap_ci_brackets_and_is_tight(spark, sf_dir):
    """Poisson-bootstrap interval: lo <= hi, the point mean matches
    pandas exactly, the CI brackets it, and its width is in the CLT
    ballpark (0.5x-4x the normal-theory width) — i.e. the replicates
    are genuinely resampling, not collapsing or exploding."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    for r in _q(spark, sf_dir, "bootstrap_ci").collect():
        x = ev.loc[ev.event_type == r.event_type, "cents"].to_numpy()
        assert r.n == len(x)
        assert math.isclose(
            r.mean_cents, x.mean(), rel_tol=1e-9, abs_tol=1e-5
        )
        assert r.ci_lo_cents <= r.mean_cents <= r.ci_hi_cents
        clt_half = 1.96 * x.std(ddof=1) / math.sqrt(len(x))
        width = r.ci_hi_cents - r.ci_lo_cents
        assert 0.5 * 2 * clt_half <= width <= 4 * 2 * clt_half


def test_edge_jaccard_matches_adjacency_model(spark, sf_dir):
    from projetbigdatastreaming_spark.catalog import load_table
    from projetbigdatastreaming_spark.operators import dedup
    from projetbigdatastreaming_spark.plans.graph import _TRI_THRESHOLD

    edges = [
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_near_duplicates(
            load_table(spark, sf_dir, "documents"), _TRI_THRESHOLD
        ).collect()
    ]
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    rows = _q(spark, sf_dir, "graph_edge_jaccard").collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == set(edges)
    for r in rows:
        nu = adj[r.doc_a] - {r.doc_b}
        nv = adj[r.doc_b] - {r.doc_a}
        common = len(nu & nv)
        union = len(nu | nv)
        assert r.common_neighbors == common
        expect = common / union if union else 1.0
        assert math.isclose(
            r.neighbor_jaccard, expect, rel_tol=1e-5, abs_tol=1e-6
        )


def test_bootstrap_stream_fold_equals_batch(spark, sf_dir, tmp_path):
    """Streaming bootstrap CI: deterministic per-(event, replicate)
    weights make replicate sums additive across batches, so the fold
    equals the batch interval EXACTLY and a redelivery restates."""
    from projetbigdatastreaming_spark.catalog import load_table
    from projetbigdatastreaming_spark.plans.advanced import q_bootstrap_ci
    from projetbigdatastreaming_spark.streaming.timeseries import (
        bootstrap_partials_writer,
        read_bootstrap_ci,
    )

    ev = load_table(spark, sf_dir, "events")
    state = str(tmp_path / "boot")
    write = bootstrap_partials_writer(state)
    for i in range(3):
        write(ev.where(f"event_id % 3 = {i}"), i)

    def rows(df):
        return [tuple(r) for r in df.collect()]

    want = rows(q_bootstrap_ci(spark, sf_dir))
    assert rows(read_bootstrap_ci(spark, state)) == want and len(want) > 0

    write(ev.where("event_id % 3 = 2"), 2)  # redelivery restates
    assert rows(read_bootstrap_ci(spark, state)) == want


def test_window_funnel_matches_replay(spark, sf_dir):
    """Depth census equals a literal per-user replay of the windowed
    funnel rules, and depths sum to the signup-user population."""
    import datetime

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    window = datetime.timedelta(days=7)
    census: dict = {}
    n_signup_users = 0
    for u, rows in by_user.items():
        t1 = min((t for t, e in rows if e == "signup"), default=None)
        if t1 is None:
            continue
        n_signup_users += 1
        t2 = min(
            (t for t, e in rows
             if e == "view" and t1 <= t <= t1 + window),
            default=None,
        )
        t3 = None
        if t2 is not None:
            t3 = min(
                (t for t, e in rows
                 if e == "purchase" and t2 <= t <= t1 + window),
                default=None,
            )
        depth = 3 if t3 else 2 if t2 else 1
        census[depth] = census.get(depth, 0) + 1
    got = {
        r.depth: r.n_users
        for r in _q(spark, sf_dir, "window_funnel").collect()
    }
    assert got == census
    assert sum(got.values()) == n_signup_users


def test_burstiness_matches_numpy(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.date
    got = {r.event_type: r for r in _q(spark, sf_dir, "burstiness").collect()}
    for etype, g in ev.groupby("event_type"):
        y = g.groupby("day").size().to_numpy(dtype="float64")
        mean, var = y.mean(), y.var(ddof=1)
        r = got[etype]
        assert r.n_days == len(y)
        assert math.isclose(r.mean_daily, mean, rel_tol=1e-6, abs_tol=2e-6)
        assert math.isclose(
            r.fano_factor, var / mean, rel_tol=1e-5, abs_tol=2e-6
        )
        sd = math.sqrt(var)
        assert math.isclose(
            r.burstiness, (sd - mean) / (sd + mean),
            rel_tol=1e-5, abs_tol=2e-6,
        )
        assert -1.0 < r.burstiness < 1.0
