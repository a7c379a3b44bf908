"""Modern Spark SQL surface: recursive CTEs and SQL-defined functions.

Two capabilities the reference era (Spark 2.2) did not have, landed in
Spark 4 and re-expressed here with full DuckDB oracles:

- ``WITH RECURSIVE`` (SPARK-24497): iterative expansion inside ONE SQL
  statement — the declarative twin of the driver-loop iteration used by
  ``graph.py`` (PageRank unrolls a fixed number of joins; a recursive
  CTE lets the ENGINE drive the fixpoint).  Execution model at scale:
  each recursion step is an equi-join of the frontier against the edge
  relation plus a union — the frontier shuffles per step, the edge side
  stays partitioned; bounded-depth recursion (hop counter in the
  predicate) is the planner-safe shape.

- ``CREATE FUNCTION ... RETURN expr`` (SQL scalar UDF): named, typed,
  catalog-registered expression macros that inline into the plan at
  analysis time — whole-stage codegen treats them exactly like the
  written-out expression, so unlike a Python UDF they cost NOTHING at
  runtime.  The right home for shared business formulas (the
  reference's retweet-rate KPI formula would be one).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..cache import persist_scoped
from .registry import QuerySpec

# ---------------------------------------------------------------------------
# recursive_cte — bounded transitive closure over the nation trade graph
# ---------------------------------------------------------------------------

_EDGES_SQL = """
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
"""

_RECURSIVE_BODY = """
WITH RECURSIVE reach(nation, hop) AS (
  SELECT CAST(0 AS INT) AS nation, 0 AS hop
  UNION ALL
  SELECT e.dst AS nation, r.hop + 1 AS hop
  FROM reach r JOIN {edges} e ON r.nation = e.src
  WHERE r.hop < 2
)
SELECT n.n_name AS nation_name, MIN(r.hop) AS min_hops
FROM reach r JOIN nation n ON r.nation = n.n_nationkey
GROUP BY n.n_name
ORDER BY min_hops, nation_name
"""


def q_recursive_cte(spark, sf_dir):
    """Bounded-depth transitive closure: which nations are reachable
    from nation 0 within 2 hops of the customer→supplier trade graph,
    and at what minimum hop distance.

    The edge relation is MATERIALIZED before the recursive statement
    (persisted ≤ 25×25-row relation behind a temp view): Spark's
    UnionLoop executes the loop body per step, so an edges CTE inlined
    into the recursion would re-run the 4-way fact join every hop —
    verified in the physical plan, which shows the joins inside the
    loop.  Staging collapses the 100 TB fact join to the closure input
    ONCE; each recursion step is then a frontier⋈edges equi-join over
    the cached relation.  That is the scale rule: never recurse over
    facts.
    """
    from ..catalog import register_views

    register_views(
        spark, sf_dir,
        only=("lineitem", "orders", "customer", "supplier", "nation"),
    )
    edges = persist_scoped("recursive_cte_edges", spark.sql(_EDGES_SQL))
    edges.createOrReplaceTempView("trade_edges")
    return spark.sql(_RECURSIVE_BODY.format(edges="trade_edges"))


# DuckDB runs the semantically identical single statement (its
# optimizer materializes the edges CTE once)
SQL_RECURSIVE_CTE = f"WITH RECURSIVE edges AS ({_EDGES_SQL}),\n" + (
    _RECURSIVE_BODY.format(edges="edges").replace("WITH RECURSIVE ", "", 1)
)


# ---------------------------------------------------------------------------
# sql_udf — catalog-registered scalar SQL functions, codegen-inlined
# ---------------------------------------------------------------------------


def q_sql_udf(spark, sf_dir):
    """SQL scalar UDFs as shared business formulas: net revenue and a
    discount band label defined ONCE via ``CREATE FUNCTION``, reused
    across the select list and the grouping — and inlined by the
    analyzer, so the physical plan is identical to writing the
    expressions out (no function-call overhead, full codegen).

    The oracle inlines the same expressions textually — which is
    exactly the claim being tested: a SQL UDF is a macro, not a
    runtime call.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir, only=("lineitem",))
    # input precision chosen so the 3-factor product is (34,6) —
    # EXACT decimal on both engines (precision ≤ 38 means no
    # scale-reduction rounding on the intermediate); the single round
    # is the function's RETURNS cast, per row, identically replayed by
    # the oracle
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_revenue("
        "price DECIMAL(10,2), disc DECIMAL(10,2), tax DECIMAL(10,2)) "
        "RETURNS DECIMAL(18,4) "
        "RETURN price * (1 - disc) * (1 + tax)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_band(d DECIMAL(10,2)) "
        "RETURNS STRING "
        "RETURN CASE WHEN d < 0.03 THEN 'low' "
        "WHEN d < 0.07 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT disc_band(l_discount) AS band,
               COUNT(*) AS n,
               CAST(CAST(SUM(net_revenue(l_extendedprice, l_discount,
                                         l_tax))
                         AS DECIMAL(20,4)) AS DOUBLE) AS net_rev
        FROM lineitem
        GROUP BY disc_band(l_discount)
        ORDER BY band
        """
    )


SQL_SQL_UDF = """
WITH d AS (
  SELECT CAST(l_extendedprice AS DECIMAL(10,2)) AS price,
         CAST(l_discount AS DECIMAL(10,2)) AS disc,
         CAST(l_tax AS DECIMAL(10,2)) AS tax
  FROM lineitem),
x AS (
  SELECT CASE WHEN disc < 0.03 THEN 'low'
              WHEN disc < 0.07 THEN 'mid' ELSE 'high' END AS band,
         -- DuckDB's decimal downscale-cast TRUNCATES; Spark's rounds
         -- HALF_UP — explicit ROUND makes the engines agree
         CAST(ROUND(price * (1 - disc) * (1 + tax), 4)
              AS DECIMAL(18,4)) AS net
  FROM d)
SELECT band, COUNT(*) AS n,
       -- the aggregate is EXACT decimal in both engines; the final
       -- double cast is correctly-rounded, so both emit identical
       -- float64 (DECIMAL outputs hash as pandas Decimal on Spark vs
       -- float64 on DuckDB — the r03 representation-divergence class)
       CAST(CAST(SUM(net) AS DECIMAL(20,4)) AS DOUBLE) AS net_rev
FROM x
GROUP BY band
ORDER BY band
"""


# ---------------------------------------------------------------------------
# file_provenance — scan-level lineage via the _metadata column
# ---------------------------------------------------------------------------


def q_file_provenance(spark, sf_dir):
    """Scan-level lineage: Spark's hidden ``_metadata`` struct exposes
    the source file of every row at ZERO cost (it is materialized by
    the scan itself, no extra IO).  Per input file: row count and
    span of row indices — the first artifact to reach for when a 100
    TB table has a corrupt or straggler file.

    The oracle sees only registered views (no file paths), so the
    checkable projection is the basename + counts; the full path /
    size / mtime fields exist on the Spark side for real debugging.
    """
    from ..catalog import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select(
        F.regexp_extract(
            F.col("_metadata.file_path"), r"[^/]+$", 0
        ).alias("file_name"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    return (
        docs.groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("first_row_index"),
            F.max("row_index").alias("last_row_index"),
        )
        .orderBy("file_name")
    )


SQL_FILE_PROVENANCE = """
SELECT 'documents.parquet' AS file_name, COUNT(*) AS n_rows,
       CAST(0 AS BIGINT) AS first_row_index,
       CAST(COUNT(*) - 1 AS BIGINT) AS last_row_index
FROM documents
"""


# ---------------------------------------------------------------------------
# param_query — named-parameter SQL + GROUP BY ALL
# ---------------------------------------------------------------------------


def q_param_query(spark, sf_dir):
    """Parameterized SQL (Spark 4 named parameter markers): the query
    text is constant and values bind server-side — the
    injection-proof templating the reference's string-built SQL
    (``IndicateursStreaming.scala:139-170``) never had.  Also
    exercises ``GROUP BY ALL`` (grouping keys inferred from the
    select list — no drift between projection and grouping).

    ``total`` sums exact integer cents and divides once at the end, so
    both engines emit identical float64 (a DECIMAL output hashes as
    pandas ``Decimal`` on Spark vs float64 on DuckDB — the r03
    representation-divergence class).
    """
    from ..catalog import register_views

    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS total
        FROM orders
        WHERE o_orderdate >= :start AND o_orderdate < :end
        GROUP BY ALL
        ORDER BY o_orderpriority
        """,
        args={"start": "1996-01-01", "end": "1997-01-01"},
    )


SQL_PARAM_QUERY = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


_LATERAL_SQL = """
SELECT n_name, c_name, bal
FROM nation,
LATERAL (
  SELECT c_name, c_acctbal AS bal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
)
ORDER BY n_name, bal DESC, c_name
"""


def q_join_lateral(spark, sf_dir):
    """LATERAL correlated subquery in FROM (SQL:1999; Spark 3.2+,
    DuckDB native): per nation, the top-2 customers by account
    balance — the "per-row top-k lookup" shape analysts write
    directly, IDENTICAL query text on both engines.

    Scale plan: Spark DECORRELATES the lateral limit — the executed
    plan is a DomainJoin rewrite ending in a per-nation window limit
    + equi-join, never a per-outer-row re-scan of customer; at 100 TB
    this is the same cost class as `window_topk_per_group`.  The
    registry-wide plan audit (no CartesianProduct, window must be
    partitioned) keeps that honest.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir, only=("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


SQL_JOIN_LATERAL = _LATERAL_SQL


_SET_OPS_ALL_SQL = """
WITH a AS (SELECT o_orderpriority AS p FROM orders
           WHERE o_orderkey % 3 = 0),
b AS (SELECT o_orderpriority AS p FROM orders
      WHERE o_orderkey % 2 = 0)
SELECT op, p, n FROM (
  SELECT 'except_all' AS op, p, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b) GROUP BY p
  UNION ALL
  SELECT 'intersect_all' AS op, p, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b) GROUP BY p
)
ORDER BY op, p
"""


def q_set_ops_all(spark, sf_dir):
    """Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL:
    unlike the distinct forms (`except_`, `intersect`), the ALL forms
    subtract/intersect per-OCCURRENCE (a row appearing 5× and 3×
    survives EXCEPT ALL twice), which is what reconciliation and
    inventory-style comparisons actually need.  Identical query text
    on both engines; output aggregated per value so the answer is
    bounded.

    Scale plan: Spark compiles both ALL forms to a hash aggregate
    computing per-key multiplicities then a generate/replicate —
    one shuffle per side on the compared columns, no join blowup.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(_SET_OPS_ALL_SQL)


SQL_SET_OPS_ALL = _SET_OPS_ALL_SQL


def q_nested_hof(spark, sf_dir):
    """Higher-order-function surface over nested data: each customer's
    orders collected into a SORTED array of structs, then filtered /
    transformed / folded / sliced entirely with array lambdas — the
    denormalized "one row per entity, history as a column" layout a
    feature store or document-shaped export uses, processed without
    ever re-exploding.

    Determinism: the array is array_sort'ed on the (date, orderkey)
    total order before any positional op (collect_list order is
    engine-arbitrary); money stays exact cents; the fold
    (F.aggregate / list_sum) is integer addition — order-free.

    Scale plan: one shuffle to collect per-customer arrays (bounded by
    per-customer order count, the natural entity grain); every lambda
    then runs inside the row — map-only, no second shuffle, no
    explode-regroup round trip.  Output is entity-grain (like
    `scd2_history`), capped here to customers with ≥8 orders to keep
    the panel focused.
    """
    from ..catalog import load_table as _lt

    orders = _lt(spark, sf_dir, "orders").select(
        "o_custkey",
        F.struct(
            F.col("o_orderdate").cast("date").alias("d"),
            F.col("o_orderkey").alias("k"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        ).alias("o"),
    )
    nested = orders.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list("o")).alias("orders")
    )
    return (
        nested.where(F.size("orders") >= 8)
        .select(
            "o_custkey",
            F.size("orders").cast("bigint").alias("n_orders"),
            F.size(
                F.filter("orders", lambda o: o["cents"] > 15_000_00)
            )
            .cast("bigint")
            .alias("n_big"),
            F.aggregate(
                F.transform("orders", lambda o: o["cents"]),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("total_cents"),
            F.array_max(
                F.transform("orders", lambda o: o["cents"])
            ).alias("max_cents"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("orders", 1, 3),
                    lambda o: o["cents"].cast("string"),
                ),
            ).alias("first3_cents"),
        )
        .orderBy("o_custkey")
    )


SQL_NESTED_HOF = """
WITH nested AS (
  SELECT o_custkey,
         list_sort(list({'d': CAST(o_orderdate AS DATE),
                         'k': o_orderkey,
                         'cents': CAST(FLOOR(o_totalprice * 100 + 0.5)
                                       AS BIGINT)})) AS orders
  FROM orders GROUP BY 1)
SELECT o_custkey,
       CAST(len(orders) AS BIGINT) AS n_orders,
       CAST(len(list_filter(orders, o -> o.cents > 1500000))
         AS BIGINT) AS n_big,
       CAST(list_sum(list_transform(orders, o -> o.cents)) AS BIGINT)
         AS total_cents,
       CAST(list_max(list_transform(orders, o -> o.cents)) AS BIGINT)
         AS max_cents,
       array_to_string(list_transform(orders[1:3],
                                      o -> CAST(o.cents AS VARCHAR)),
                       ',') AS first3_cents
FROM nested
WHERE len(orders) >= 8
ORDER BY o_custkey
"""


REGISTRY: dict[str, QuerySpec] = {
    "join_lateral": QuerySpec(q_join_lateral, SQL_JOIN_LATERAL),
    "nested_hof": QuerySpec(q_nested_hof, SQL_NESTED_HOF),
    "set_ops_all": QuerySpec(q_set_ops_all, SQL_SET_OPS_ALL),
    "recursive_cte": QuerySpec(q_recursive_cte, SQL_RECURSIVE_CTE),
    "sql_udf": QuerySpec(q_sql_udf, SQL_SQL_UDF),
    "file_provenance": QuerySpec(q_file_provenance, SQL_FILE_PROVENANCE),
    "param_query": QuerySpec(q_param_query, SQL_PARAM_QUERY),
}
