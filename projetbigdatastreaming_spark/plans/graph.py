"""Iterative graph analytics over the relational fixtures.

The reference has no graph surface; this module covers the "iterative
algorithm" class the driver contract calls out (alongside
``dedup_clusters``' label propagation): a fixed-iteration weighted
PageRank over the customer↔supplier trade graph, fully unrolled so the
SAME computation is expressible as chained CTEs for the DuckDB oracle —
an iterative algorithm does not have to forfeit its correctness row.

Cross-engine determinism discipline (same rules as stats_agg): every
aggregate that feeds a later stage is rounded — edge weights to 2 dp,
transition probabilities to 10 dp, per-iteration ranks to 8 dp — so
both engines iterate on identical doubles and float-sum ordering can
never compound across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist_scoped
from ..catalog import load_table
from ..operators.dedup import minhash_near_duplicates
from .registry import QuerySpec

#: damping factor and unrolled iteration count (fixed: the unroll IS
#: the oracle-expressibility trick)
_DAMPING = 0.85
_ITERATIONS = 3
_TOPK = 20


def _edges(spark, sf_dir) -> DataFrame:
    """Undirected weighted bipartite edges customer↔supplier.

    Weight = discounted revenue of their trade, rounded to 2 dp at the
    aggregate so both engines hold identical weights.  Node ids are
    prefixed ('c:', 's:') into one namespace.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    flow = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("w")
        )
    )
    c = F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
    fwd = flow.select(c.alias("src"), s.alias("dst"), "w")
    rev = flow.select(s.alias("src"), c.alias("dst"), "w")
    return fwd.unionAll(rev)


def q_pagerank(spark, sf_dir):
    """Weighted PageRank (3 unrolled iterations, d=0.85) over the
    customer↔supplier trade graph; top-20 nodes.

    Scale plan: the transition matrix (src, dst, p) is built ONCE —
    per-src out-weight is an aggregate reusing the edge shuffle, and p
    is rounded to 10 dp so the matrix is engine-identical.  Each
    iteration is exactly one shuffle: join ranks⋈edges on src
    (rank side is |V| rows, edge side |E|), aggregate contributions on
    dst.  Node count enters as a broadcast single-row aggregate, never
    a driver-side count.  Ranks are re-rounded to 8 dp per iteration so
    float-sum ordering cannot compound.  Dangling mass: none by
    construction (every node has out-edges in an undirected graph).
    """
    edges = _edges(spark, sf_dir)
    outw = edges.groupBy(F.col("src").alias("ow_src")).agg(
        F.round(F.sum("w"), 2).alias("total_w")
    )
    # checkpoint the transition matrix and seed ranks: every unrolled
    # iteration references trans, so without lineage truncation the
    # final plan embeds the fact-join subtree once PER iteration (the
    # PCA/BPE lesson).  At 3 iterations the wall time is stage-count
    # dominated either way (~5 s at sf0.1); the checkpoint is what
    # keeps plan size LINEAR in iterations when K grows.
    trans = (
        edges.join(outw, F.col("src") == F.col("ow_src"))
        .select(
            "src",
            "dst",
            F.round(F.col("w") / F.col("total_w"), 10).alias("p"),
        )
    ).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.agg(
        F.count("*").cast("double").alias("n")
    )
    ranks = nodes.join(F.broadcast(n_nodes)).select(
        "node", "n", F.round(F.lit(1.0) / F.col("n"), 8).alias("rank")
    ).localCheckpoint(eager=False)
    for _ in range(_ITERATIONS):
        contribs = trans.join(
            ranks, trans.src == ranks.node
        ).select("dst", "n", (F.col("p") * F.col("rank")).alias("c"))
        ranks = (
            contribs.groupBy(F.col("dst").alias("node"))
            .agg(
                F.first("n").alias("n"),
                F.round(
                    F.lit(1 - _DAMPING) / F.first("n")
                    + F.lit(_DAMPING) * F.sum("c"),
                    8,
                ).alias("rank"),
            )
        )
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(_TOPK)
    )


def _pagerank_sql() -> str:
    it_cte = ""
    prev = "r0"
    for i in range(1, _ITERATIONS + 1):
        it_cte += f""",
r{i} AS (
  SELECT dst AS node, any_value(n) AS n,
         ROUND({1 - _DAMPING} / any_value(n)
               + {_DAMPING} * SUM(p * rank), 8) AS rank
  FROM trans JOIN {prev} ON trans.src = {prev}.node
  GROUP BY dst)"""
        prev = f"r{i}"
    return f"""
WITH flow AS (
  SELECT o_custkey, l_suppkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey),
edges AS (
  SELECT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst, w FROM flow
  UNION ALL
  SELECT 's:' || l_suppkey AS src, 'c:' || o_custkey AS dst, w FROM flow),
outw AS (
  SELECT src AS ow_src, ROUND(SUM(w), 2) AS total_w
  FROM edges GROUP BY src),
trans AS (
  SELECT src, dst, ROUND(w / total_w, 10) AS p
  FROM edges JOIN outw ON src = ow_src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS (
  SELECT node, n, ROUND(1.0 / n, 8) AS rank FROM nodes CROSS JOIN nn){it_cte}
SELECT node, ROUND(rank, 6) AS rank
FROM {prev}
ORDER BY rank DESC, node ASC
LIMIT {_TOPK}
"""


SQL_PAGERANK = _pagerank_sql()


def q_graph_triangles(spark, sf_dir):
    """Triangle census of the NEAR-DUP PAIR GRAPH: edges, wedges
    (open 2-paths), triangles, and the global clustering coefficient
    3·triangles/wedges — "how clique-like are the duplicate
    clusters?", the structural signal pairwise dedup counts miss (a
    size-3 cluster can be a chain a–b–c or a clique; only the clique
    closes the triangle, and survivorship/retraction blast radius
    differs between the two).  With PageRank and the connected
    components this completes the graph-primitive trio.

    Graph choice is the scale lesson: the first cut enumerated
    triangles over the supplier co-purchase projection and MEASURED
    29 s at sf0.1 / 140 s at sf1 — co-occurrence projections densify
    (avg degree ~1.2 k at sf1 ⇒ ~7e9 wedges), and no join order saves
    an output-volume blowup.  The near-dup graph is the opposite:
    pair density tracks true duplication (linear in corpus by
    construction of the fixture and of real corpora), so every stage
    stays pair-volume-bounded.

    Scale plan: edges come from the exact-verified LSH pipeline
    (`minhash_near_duplicates`, already a<b oriented — each triangle
    counted once as a<b<c); the wedge count is a per-node degree agg
    (Σ d·(d−1)/2, exact integers); the triangle count is two
    equi-join shuffles of the pair relation (e1.v=e2.u, then
    (e1.u,e2.v)=(e3.u,e3.v)); the three 1-row aggregates cross into
    one summary row (allowed 1×1 BNLJs).
    """
    # referenced 5x below (degree + count + three join legs)
    edges = _near_dup_edges(spark, sf_dir)
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    deg = (
        edges.selectExpr("explode(array(u, v)) AS x")
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("d"))
    )
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    n_tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(n_tri)
        .selectExpr(
            "n_edges",
            "n_wedges",
            "n_triangles",
            "CASE WHEN n_wedges > 0 THEN"
            " CAST(floor(3.0 * n_triangles / n_wedges * 1e6 + 0.5)"
            " AS DOUBLE) / 1e6 ELSE CAST(0.0 AS DOUBLE) END AS gcc",
        )
    )


#: near-dup threshold shared with the dedup family's queries
_TRI_THRESHOLD = 0.8


def _near_dup_edges(spark, sf_dir) -> DataFrame:
    """The near-dup pair graph every graph query below reads: (u, v)
    with u < v, from the exact-verified LSH pipeline, cached under ONE
    scoped key — one key per plan is what keeps each invocation on its
    own cache (two keys for one plan share a CacheManager entry, and
    replacing either key would uncache the other)."""
    return persist_scoped(
        "graph_near_dup_edges",
        minhash_near_duplicates(
            load_table(spark, sf_dir, "documents"), _TRI_THRESHOLD
        ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
    )


#: brute-force near-dup pair CTE (the dedup oracles' shingle recipe)
_SQL_TRI_EDGES = """\
sh AS (
  SELECT doc_id,
         CASE WHEN len(str_split(text, ' ')) >= 3
              THEN list_distinct([
                     str_split(text,' ')[i] || ' ' ||
                     str_split(text,' ')[i+1] || ' ' ||
                     str_split(text,' ')[i+2]
                     for i in range(1, len(str_split(text,' ')) - 1)])
              ELSE [text] END AS sh
  FROM documents),
edges AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8)"""

SQL_GRAPH_TRIANGLES = f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
  GROUP BY x),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
nw AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
nt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v)
SELECT n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN FLOOR(3.0 * n_triangles / n_wedges * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS gcc
FROM ne, nw, nt
"""



def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity of the near-dup pair graph — the Pearson
    correlation of endpoint degrees over edges (Newman 2002): r > 0
    means hub documents duplicate other hubs (one template family
    snowballing), r < 0 means hubs attach to leaves (a star — one
    canonical doc with many variants).  With the triangle census this
    tells takedown planning whether removing a hub shatters a clique
    or a star.

    Determinism: every moment (Σd, Σd², Σdᵤdᵥ over both edge
    orientations — symmetric, so Sx=Sy and Sxx=Syy) accumulates as
    exact BIGINTs; ONE double division + sqrt at the end, det6
    floored.  At extreme degree scales the int64 moments would need a
    double switch — the near-dup graph's degrees are duplication
    multiplicities, far below that bound.

    Scale plan: same pair-volume-bounded edge relation as
    `graph_triangles` (exact-verified LSH — never a co-occurrence
    projection); degrees are one hash-agg; the two degree lookups are
    equi-joins AQE broadcasts (the degree table is |nodes-with-dups|
    rows); the moments collapse to ONE row.  Measured (bench_one
    --gc-each, round 10): sf1 3.20 s → sf10 8.34 s, 2.6×/decade —
    the cost is the shared LSH signing, like the triangle census.
    """
    edges = _near_dup_edges(spark, sf_dir)
    deg = (
        edges.selectExpr("explode(array(u, v)) AS x")
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("d"))
    )
    j = (
        edges.join(deg.selectExpr("x AS u", "d AS du"), "u")
        .join(deg.selectExpr("x AS v", "d AS dv"), "v")
    )
    det6 = "CAST(FLOOR(({expr}) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    r = (
        "(n * sxy - sx * sx)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    )
    return j.agg(
        (F.count("*") * 2).cast("long").alias("n"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("sx"),
        F.sum(F.lit(2) * F.col("du") * F.col("dv"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("long")
        .alias("sxx"),
    ).selectExpr(
        "CAST(n DIV 2 AS BIGINT) AS n_edges",
        "CASE WHEN n * sxx - sx * sx > 0 THEN "
        + det6.format(expr=r)
        + " ELSE CAST(0.0 AS DOUBLE) END AS assortativity",
    )


SQL_GRAPH_ASSORTATIVITY = f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
  GROUP BY x),
j AS (
  SELECT a.d AS du, b.d AS dv
  FROM edges e
  JOIN deg a ON e.u = a.x
  JOIN deg b ON e.v = b.x),
m AS (
  SELECT CAST(COUNT(*) * 2 AS BIGINT) AS n,
         CAST(SUM(du + dv) AS BIGINT) AS sx,
         CAST(SUM(2 * du * dv) AS BIGINT) AS sxy,
         CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx
  FROM j)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       CASE WHEN n * sxx - sx * sx > 0
            THEN CAST(FLOOR(((n * sxy - sx * sx)
                   / (CAST(n AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx)) * 1e6 + 0.5)
                 AS DOUBLE) / 1e6
            ELSE CAST(0.0 AS DOUBLE) END AS assortativity
FROM m
"""


def q_graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per node of the near-dup pair
    graph — the per-document version of `graph_triangles`' global
    census: lcc(x) = 2·t(x) / (d(x)·(d(x)−1)) where t(x) counts
    triangles through x (Watts & Strogatz 1998).  lcc=1 marks a
    document embedded in a duplication CLIQUE (template family —
    takedown of any member leaves the others mutually duplicated);
    lcc=0 on a d≥2 node marks a STAR center (one canonical doc whose
    variants don't match each other — retraction shatters the
    cluster).  The per-node refinement of the assortativity/census
    signals.

    Determinism: t(x) and d(x) are exact integer counts; one double
    division rounded 6 dp.

    Scale plan: the same pair-volume-bounded edge relation as the
    census (LSH-banded, never all-pairs), scoped-persisted and
    referenced by the degree agg and the triangle join.  Per-node
    triangle counts come from the ONE a<b<c triangle join with its 3
    corners exploded — 3 rows per triangle, hash-agg on node; output
    is nodes with d≥2 (triangle-eligible), ordered by node id.
    Measured (bench_one, min-of-2): sf0.1 1.8 s / sf1 3.1 s / sf10
    10.1 s — the census family's pair-volume growth, sub-quadratic
    across both decades.
    """
    edges = _near_dup_edges(spark, sf_dir)
    deg = (
        edges.selectExpr("explode(array(u, v)) AS x")
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri_per_node = (
        tri.selectExpr("explode(array(a, b, c)) AS x")
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("t"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(tri_per_node, "x", "left")
        .selectExpr(
            "x AS doc_id",
            "d AS degree",
            "COALESCE(t, 0) AS n_triangles",
            "CAST(FLOOR(2.0 * COALESCE(t, 0) / (d * (d - 1))"
            " * 1e6 + 0.5) AS DOUBLE) / 1e6 AS lcc",
        )
        .orderBy("doc_id")
    )


SQL_GRAPH_CLUSTERING_COEFF = f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
  GROUP BY x),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v),
tpn AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
        UNION ALL SELECT c AS x FROM tri)
  GROUP BY x)
SELECT deg.x AS doc_id, d AS degree,
       COALESCE(t, 0) AS n_triangles,
       CAST(FLOOR(2.0 * COALESCE(t, 0) / (d * (d - 1)) * 1e6 + 0.5)
         AS DOUBLE) / 1e6 AS lcc
FROM deg LEFT JOIN tpn ON deg.x = tpn.x
WHERE d >= 2
ORDER BY doc_id
"""


#: k-core parameters: fixed k and a fixed unrolled peel depth (the
#: PageRank unroll trick applied to a monotone-shrinking computation;
#: the fixpoint test pins that _KCORE_ROUNDS suffices on the fixture,
#: and the docstring gives the general bound)
_KCORE_K = 2
_KCORE_ROUNDS = 6


def q_graph_kcore(spark, sf_dir):
    """k-core decomposition (k=2, 6 unrolled peel rounds) of the
    near-dup pair graph — Seidman 1983: repeatedly delete nodes with
    degree < k; what survives is the maximal subgraph of minimum
    degree k.  The 2-core separates documents in CYCLIC duplication
    structure (template families that must be retracted as a unit)
    from chain/star periphery that pairwise survivorship handles one
    edge at a time.  With PageRank (unrolled power iteration),
    triangles, assortativity, components (`dedup_clusters`) and lcc,
    this completes the graph-primitive surface.

    Semantics of the fixed unroll: peeling is monotone (the edge set
    only shrinks), so R rounds compute the exact 2-core whenever the
    peel converges within R; `test_kcore_converged_and_sound` pins
    that on the fixture (convergence needs ≤ the graph's
    degeneracy-peel depth, which for near-dup graphs — bounded cluster
    width — is small; raising _KCORE_ROUNDS costs one shuffle per
    extra round).

    Scale plan: each round is ONE hash-agg (degrees of the current
    edge relation) + TWO broadcast-able semi-joins filtering the edge
    list (survivor side is ≤|V| rows of ids).  Each round's edge
    relation is scoped-persisted under one key, so it is filled from
    the previous round's live cache and then frees it: the loop holds
    at most two rounds.  Before each round a probe for any node of
    degree < k is a FIXPOINT TEST: with no such node the peel is the
    identity, and so is every later round — the loop exits early with
    the exact same output the full unroll produces (the oracle's R
    fixed rounds are a superset of the converged peel).  Edge volume
    is pair-bounded by LSH construction, and only shrinks.
    """
    edges = _near_dup_edges(spark, sf_dir)
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.selectExpr("explode(array(u, v)) AS x")
            .groupBy("x")
            .agg(F.count("*").cast("long").alias("d"))
        )
        if deg.where(F.col("d") < _KCORE_K).limit(1).count() == 0:
            break  # fixpoint: no node to peel, so this round and every
            # later one is the identity (monotone-shrinking edge set)
        keep = deg.where(F.col("d") >= _KCORE_K).select("x")
        edges = persist_scoped(
            "graph_kcore_core",
            edges.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v"),
        )
    core_deg = (
        edges.selectExpr("explode(array(u, v)) AS x")
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("core_degree"))
    )
    return core_deg.selectExpr("x AS doc_id", "core_degree").orderBy(
        "doc_id"
    )


def _sql_graph_kcore() -> str:
    # Each round references its predecessor 4x (two IN-filters + the
    # two-sided degree union); default CTE inlining would duplicate
    # the shingle self-join 4^R times (DuckDB ran out of file handles
    # at R=6) — MATERIALIZED pins every round to one evaluation, the
    # SQL analogue of the Spark side's per-round localCheckpoint.
    prev = "e_base"
    steps = f",\ne_base AS MATERIALIZED (SELECT u, v FROM edges)"
    for i in range(_KCORE_ROUNDS):
        steps += f""",
deg{i} AS MATERIALIZED (
  SELECT x, COUNT(*) AS d
  FROM (SELECT u AS x FROM {prev} UNION ALL SELECT v AS x FROM {prev})
  GROUP BY x),
e{i} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT x FROM deg{i} WHERE d >= {_KCORE_K})
    AND v IN (SELECT x FROM deg{i} WHERE d >= {_KCORE_K}))"""
        prev = f"e{i}"
    return f"""
WITH {_SQL_TRI_EDGES}{steps}
SELECT x AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS x FROM {prev} UNION ALL SELECT v AS x FROM {prev})
GROUP BY x
ORDER BY doc_id
"""


SQL_GRAPH_KCORE = _sql_graph_kcore()


def q_graph_edge_jaccard(spark, sf_dir):
    """Neighbor-set Jaccard per EDGE of the near-dup pair graph — the
    classic link-prediction / edge-strength score (Liben-Nowell &
    Kleinberg 2003): for an edge (u,v), J = |N(u)∩N(v)| /
    |N(u)\\{v} ∪ N(v)\\{u}|.  J≈1 marks an edge inside a tight clique
    (redundant — its removal can't disconnect the cluster); J=0 marks
    a BRIDGE between otherwise-unrelated duplicate groups, the edges
    a cautious dedup reviewer audits first.

    Determinism: common-neighbor counts are exact (each a<b<c
    triangle contributes to its three edges); degrees are exact; one
    det6 division.

    Scale plan: the same pair-volume-bounded machinery as the census
    — scoped-persisted edges, the ONE triangle join exploded to its
    three edge slots, degree agg broadcast back onto edges.  No new
    join shapes, no all-pairs anything.
    """
    edges = _near_dup_edges(spark, sf_dir)
    deg = (
        edges.selectExpr("explode(array(u, v)) AS x")
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri_per_edge = (
        tri.selectExpr(
            "explode(array(struct(a AS u, b AS v),"
            " struct(a AS u, c AS v), struct(b AS u, c AS v))) AS e"
        )
        .selectExpr("e.u AS u", "e.v AS v")
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("common"))
    )
    return (
        edges.join(tri_per_edge, ["u", "v"], "left")
        .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .selectExpr(
            "u AS doc_a",
            "v AS doc_b",
            "COALESCE(common, 0) AS common_neighbors",
            "CASE WHEN du + dv - 2 - COALESCE(common, 0) > 0 THEN"
            " CAST(FLOOR(CAST(COALESCE(common, 0) AS DOUBLE)"
            " / (du + dv - 2 - COALESCE(common, 0)) * 1e6 + 0.5)"
            " AS DOUBLE) / 1e6"
            " ELSE CAST(1.0 AS DOUBLE) END AS neighbor_jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


SQL_GRAPH_EDGE_JACCARD = f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
  GROUP BY x),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v),
tpe AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common
  FROM (SELECT a AS u, b AS v FROM tri
        UNION ALL SELECT a AS u, c AS v FROM tri
        UNION ALL SELECT b AS u, c AS v FROM tri)
  GROUP BY u, v)
SELECT e.u AS doc_a, e.v AS doc_b,
       COALESCE(t.common, 0) AS common_neighbors,
       CASE WHEN du.d + dv.d - 2 - COALESCE(t.common, 0) > 0 THEN
         CAST(FLOOR(CAST(COALESCE(t.common, 0) AS DOUBLE)
           / (du.d + dv.d - 2 - COALESCE(t.common, 0)) * 1e6 + 0.5)
           AS DOUBLE) / 1e6
       ELSE 1.0 END AS neighbor_jaccard
FROM edges e
LEFT JOIN tpe t ON e.u = t.u AND e.v = t.v
JOIN deg du ON e.u = du.x
JOIN deg dv ON e.v = dv.x
ORDER BY doc_a, doc_b
"""


REGISTRY = {
    "graph_pagerank": QuerySpec(q_pagerank, SQL_PAGERANK),
    "graph_edge_jaccard": QuerySpec(
        q_graph_edge_jaccard, SQL_GRAPH_EDGE_JACCARD
    ),
    "graph_clustering_coeff": QuerySpec(
        q_graph_clustering_coeff, SQL_GRAPH_CLUSTERING_COEFF
    ),
    "graph_kcore": QuerySpec(q_graph_kcore, SQL_GRAPH_KCORE),
    "graph_triangles": QuerySpec(q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "graph_assortativity": QuerySpec(
        q_graph_assortativity, SQL_GRAPH_ASSORTATIVITY
    ),
}
