"""``batch_queries``: the analyst path.

A fixed set of registered queries runs one after another into a noop
sink over seeded tables at ``SF`` (the size of the repository's oracle
fixture).  A first pass, timed as the cold operation, fills caches and
warms the JVM; its collected rows are checked against each query's
oracle twin after the timed window.  The set is split into families so that a
change aimed at one family predicts no change in the others.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import fixtures
import tracing

SF = 0.01
SETUP_REPEATS = 3
FAMILIES = {
    "dedup_graph": (
        "dedup_minhash_pairs",
        "dedup_simhash_pairs",
        "graph_triangles",
        "graph_kcore",
    ),
    "relational": (
        "kpi_quarter_hour",
        "tpch_q3",
        "tpch_q9",
        "tpch_q21",
        "star_join",
        "sessionize",
        "join_asof",
        "basket_lift",
    ),
    "retrieval": ("retrieval_eval_graded",),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)


def _round(x: float, digits: int) -> float:
    """DuckDB's ROUND: half away from zero."""
    m = 10.0**digits
    return math.copysign(math.floor(abs(x) * m + 0.5), x) / m


def dedup_graph_reference(sf_dir: str) -> dict[str, tuple[list, list]]:
    """The dedup/graph family's expected rows, transcribed from their
    oracle SQL: all pairs at word-3-gram Jaccard >= 0.8, the triangle
    census of that pair graph, and its 2-core after six peel rounds.
    Their DuckDB twins evaluate the quadratic pair join with list
    functions and take about a minute on 500 documents, which does not
    fit a benchmark run; this computes the same relation in a second."""
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = docs["doc_id"].to_pylist()
    sh = [fixtures.word_shingles(t) for t in docs["text"].to_pylist()]
    pairs = []
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                inter = len(sh[i] & sh[j])
                jac = inter / len(sh[i] | sh[j]) if inter else 0.0
                if jac >= 0.8:
                    pairs.append((ids[i], ids[j], _round(jac, 4)))
    edges = {(u, v) for u, v, _j in pairs}

    def degrees(es):
        deg: dict[int, int] = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        return deg

    deg = degrees(edges)
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    out_of: dict[int, set] = {}
    for u, v in edges:
        out_of.setdefault(u, set()).add(v)
    triangles = sum(
        1 for u, v in edges for w in out_of.get(v, ()) if (u, w) in edges
    )
    gcc = math.floor(3.0 * triangles / wedges * 1e6 + 0.5) / 1e6 if wedges else 0.0
    core = edges
    for _ in range(6):
        d = degrees(core)
        core = {(u, v) for u, v in core if d[u] >= 2 and d[v] >= 2}
    return {
        "dedup_minhash_pairs": (["doc_a", "doc_b", "jaccard"], pairs),
        "graph_triangles": (
            ["n_edges", "n_wedges", "n_triangles", "gcc"],
            [(len(edges), wedges, triangles, gcc)],
        ),
        "graph_kcore": (
            ["doc_id", "core_degree"],
            sorted(degrees(core).items()),
        ),
    }


def oracle_mismatches(sf_dir: str, results: dict, oracles: dict) -> list[str]:
    """Names of queries whose collected rows differ from their
    reference (row count, column names, or order-insensitive value
    hash): the DuckDB oracle twin, or for the three queries built on
    the all-pairs near-dup relation, ``dedup_graph_reference``."""
    import duckdb

    from projetbigdatastreaming_spark.catalog import TABLES
    from tools.check_oracle import _hash_rows

    expected = dedup_graph_reference(sf_dir)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in results:
            if name not in expected:
                res = con.execute(oracles[name])
                expected[name] = ([c[0] for c in res.description], res.fetchall())
    finally:
        con.close()
    bad = []
    for name, (cols, rows) in results.items():
        ocols, orows = expected[name]
        if (
            len(rows) != len(orows)
            or sorted(cols) != sorted(ocols)
            or _hash_rows(cols, rows)[0] != _hash_rows(ocols, orows)[0]
        ):
            bad.append(name)
    return bad


def run(spark, work: str, seed: int, seconds: float, traced: bool) -> dict:
    import __spark_entry__ as entry

    from projetbigdatastreaming_spark.catalog import register_views

    sc = spark.sparkContext
    sf_dir = os.path.join(work, "tables")
    sizes = fixtures.write_tables(sf_dir, seed, SF)
    queries, oracles = entry.queries(), entry.oracle_sql()

    setup = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        register_views(spark, sf_dir)
        setup.append(time.perf_counter() - t0)

    results = {}
    t0 = time.perf_counter()
    for name in QUERIES:
        df = queries[name](spark, sf_dir)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
    cold = time.perf_counter() - t0

    tracer = tracing.Tracer()
    api = tracing.RestApi(sc) if traced else None
    poller = tracing.StoragePoller(api, tracer) if traced else None
    passes: list[dict[str, float]] = []
    family_of = {q: f for f, qs in FAMILIES.items() for q in qs}
    if poller:
        poller.start()
    try:
        window_t0 = time.perf_counter()
        tracer.active = traced
        while not passes or time.perf_counter() - window_t0 < seconds:
            p = len(passes)
            times = {}
            for name in QUERIES:
                # as in bench.py: a forced GC before every timed query
                # keeps one query's garbage out of the next one's time
                # and makes the heap high-water mark repeatable
                sc._jvm.System.gc()
                if traced:
                    sc.setJobGroup(f"p{p}:{name}", name)
                t = time.perf_counter()
                with tracer.span(f"plans.{family_of[name]}.{name}"):
                    queries[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                times[name] = time.perf_counter() - t
            passes.append(times)
        tracer.active = False
    finally:
        if poller:
            poller.stop()

    failed = oracle_mismatches(sf_dir, results, oracles)
    totals = [sum(t.values()) for t in passes]
    detail = {
        "tables": sizes,
        "passes": len(passes),
        "pass_s": totals,
        "setup_s": setup,
        "query_s": {q: statistics.median(t[q] for t in passes) for q in QUERIES},
        "oracle_mismatches": failed,
    }
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "op_p50_s": (statistics.median(totals), "s"),
        "cold_op_s": (cold, "s"),
    }
    layer = {}
    if traced:
        layer = _layer_metrics(api, poller, passes)
        detail["self_s"] = tracer.self_times()
        detail["spans"] = tracer.spans
    return {
        "attempted": len(QUERIES),
        "failed": len(failed),
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }


def layer_units() -> dict[str, str]:
    units = {f"plans.{fam}_pct": "%" for fam in FAMILIES}
    for q in QUERIES:
        units.update(
            {
                f"plans.{q}.pct": "%",
                f"plans.{q}.stages": "count",
                f"plans.{q}.tasks": "count",
                f"plans.{q}.shuffle_write_bytes": "bytes",
                f"plans.{q}.single_task_stage_pct": "%",
            }
        )
    return units


def _layer_metrics(api, poller, passes) -> dict:
    groups = api.group_stats()
    n = len(passes)
    pass_s = [sum(t.values()) for t in passes]
    out = tracing.engine_metrics(
        api,
        poller,
        [[groups.get(f"p{p}:{q}", {}) for q in QUERIES] for p in range(n)],
        pass_s,
    )
    vals = {}
    for fam, qs in FAMILIES.items():
        share = [sum(t[q] for q in qs) / s for t, s in zip(passes, pass_s)]
        vals[f"plans.{fam}_pct"] = 100.0 * statistics.median(share)
    for q in QUERIES:
        gs = [groups.get(f"p{p}:{q}", {}) for p in range(n)]

        def mean(key, gs=gs):
            return sum(g.get(key, 0) for g in gs) / n

        share = [t[q] / s for t, s in zip(passes, pass_s)]
        vals[f"plans.{q}.pct"] = 100.0 * statistics.median(share)
        vals[f"plans.{q}.stages"] = mean("stages")
        vals[f"plans.{q}.tasks"] = mean("tasks")
        vals[f"plans.{q}.shuffle_write_bytes"] = mean("shuffle_write_bytes")
        run_s = mean("executor_run_s")
        vals[f"plans.{q}.single_task_stage_pct"] = (
            100.0 * mean("single_task_stage_s") / run_s if run_s else 0.0
        )
    units = layer_units()
    out.update({k: (v, units[k]) for k, v in vals.items()})
    return out
