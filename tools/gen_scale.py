"""Scale-up generator: build a K×-larger copy of a driver fixture dir
for benchmarking (the sf0.1 noise-floor problem: every headline query
sits at 0.2-0.7 s, where Spark job-scheduling noise hides algorithmic
regressions; at ~sf1 the heavy shapes run 1-10 s and a 2× blowup is
unmistakable).

Method: union K key-shifted copies of each table.  Foreign keys shift
together (order/cust/part/supp/user ids share per-copy offsets), so
join selectivity and group cardinalities scale the way a real K×
corpus would.  Copy-sensitive columns are perturbed so SEMANTIC
density stays linear rather than blowing up combinatorially:

- ``documents.text``: EVERY word gets a copy-specific prefix for
  copies i>0 (kills cross-copy near-duplicate pairs — MinHash/SimHash
  pair volume scales linearly like a real corpus, instead of every
  doc gaining C(K,2) >0.8-jaccard twins; a vowel-only variant left
  vowel-free docs as exact cross-copy dups, 45 candidate pairs each);
  ``n_chars`` is recomputed to stay consistent.
- ``embeddings.embedding``: deterministic per-copy/per-dimension
  scaling (cosine neighborhoods across copies decorrelate).
- ``events``: user ids shift per copy (user cardinality scales);
  timestamps stay — time-bucket density grows K×, which is what a
  bigger firehose over the same window does.

NOT oracle-checked data — throughput scale point only; correctness is
pinned at sf0.01 by the driver's DuckDB gate.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: per-copy offset for int64 surrogate keys — far above any fixture id
KEY_OFF = 10_000_000_000

_DONE_MARKER = "_SCALED_OK"


def _copies(df, factor: int, build_copy):
    out = build_copy(df, 0)
    for i in range(1, factor):
        out = out.unionAll(build_copy(df, i))
    return out


def build_scaled(
    spark: SparkSession, src_dir: str, out_dir: str, factor: int = 10
) -> None:
    """Write the K×-scaled copy of every table to ``out_dir``."""
    from projetbigdatastreaming_spark.catalog import load_table

    # read through the catalog, NOT raw spark.read.parquet: events.ts
    # has shipped as TIMESTAMP(NANOS) in some fixture vintages, and
    # load_table normalizes it to a true timestamp — an inferred read
    # refuses that type (or, with spark.sql.legacy.parquet.nanosAsLong
    # set, surfaces LONG nanos and writes an unannotated INT64 ts the
    # sf2 sweep then refuses to read)
    rd = lambda t: load_table(spark, src_dir, t)  # noqa: E731
    wr = lambda df, t: df.write.mode("overwrite").parquet(  # noqa: E731
        os.path.join(out_dir, f"{t}.parquet")
    )

    def shift(col, i):
        return (F.col(col) + F.lit(i * KEY_OFF)).alias(col)

    for t in ("region", "nation"):  # fixed-size dimensions
        wr(rd(t), t)

    wr(
        _copies(
            rd("customer"),
            factor,
            lambda df, i: df.select(
                shift("c_custkey", i),
                "c_name",
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            ),
        ),
        "customer",
    )
    wr(
        _copies(
            rd("supplier"),
            factor,
            lambda df, i: df.select(
                shift("s_suppkey", i), "s_name", "s_nationkey", "s_acctbal"
            ),
        ),
        "supplier",
    )
    wr(
        _copies(
            rd("part"),
            factor,
            lambda df, i: df.select(
                shift("p_partkey", i),
                "p_name",
                "p_brand",
                "p_type",
                "p_size",
                "p_retailprice",
            ),
        ),
        "part",
    )
    wr(
        _copies(
            rd("orders"),
            factor,
            lambda df, i: df.select(
                shift("o_orderkey", i),
                shift("o_custkey", i),
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ),
        ),
        "orders",
    )
    wr(
        _copies(
            rd("lineitem"),
            factor,
            lambda df, i: df.select(
                shift("l_orderkey", i),
                shift("l_partkey", i),
                shift("l_suppkey", i),
                "l_linenumber",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
                "l_returnflag",
                "l_linestatus",
                "l_shipdate",
            ),
        ),
        "lineitem",
    )
    wr(
        _copies(
            rd("events"),
            factor,
            lambda df, i: df.select(
                shift("event_id", i),
                "ts",
                shift("user_id", i),
                "event_type",
                "value",
                "props",
            ),
        ),
        "events",
    )

    def doc_copy(df, i):
        text = (
            F.col("text")
            if i == 0
            else F.regexp_replace("text", r"\b(\w)", f"q{i}$1")
        )
        return df.select(
            shift("doc_id", i),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )

    wr(_copies(rd("documents"), factor, doc_copy), "documents")

    def emb_copy(df, i):
        vec = (
            F.col("embedding")
            if i == 0
            else F.transform(
                "embedding",
                lambda x, j: (
                    x * (1.0 + ((j + F.lit(i * 3)) % 7 - 3) * 0.02)
                ).cast("float"),
            )
        )
        return df.select(
            shift("vec_id", i), vec.alias("embedding"), "label"
        )

    wr(_copies(rd("embeddings"), factor, emb_copy), "embeddings")

    # media scale table: the driver fixture dirs carry no media, so
    # build factor x the per-copy encoder set here (pyarrow-direct,
    # bounded row count — no Spark needed).  plans/media.py reads
    # {sf_dir}/media.parquet only under SPARK_GRAFT_MEDIA_SCALED=1
    # (bench.py's sf2 sweep); correctness runs always use the fixture.
    # ONE FILE PER COPY, not one file: a single small parquet is one
    # scan split, so the decode stage would serialize on one core —
    # whereas a real media lake is thousands of objects and
    # parallelism comes free from file splits.  Mirror that here.
    from tools.make_media_fixture import scaled_rows, write_rows

    import shutil as _shutil

    media_dir = os.path.join(out_dir, "media.parquet")
    _shutil.rmtree(media_dir, ignore_errors=True)
    by_copy: dict[int, list] = {}
    for r in scaled_rows(factor):
        by_copy.setdefault(r[0] // 1000, []).append(r)
    for c, chunk in sorted(by_copy.items()):
        write_rows(
            chunk, os.path.join(media_dir, f"part-{c:05d}.parquet")
        )

    with open(os.path.join(out_dir, _DONE_MARKER), "w") as fh:
        fh.write(_marker_text(factor, src_dir))


def _marker_text(factor: int, src_dir: str) -> str:
    # "media=1" versions the layout: a cached dir built before the
    # media table existed must rebuild, not silently serve the old set
    return f"factor={factor} src={src_dir} media=1\n"


def ensure_scaled(
    spark: SparkSession, src_dir: str, out_dir: str, factor: int = 10
) -> str:
    """Build once, reuse across runs.  The marker gates completeness
    (a half-written dir from a killed run is rebuilt) AND records the
    (factor, src) it was built from — a cached dir built with
    different parameters is rebuilt, not silently re-timed under a
    mislabeled scale point."""
    marker = os.path.join(out_dir, _DONE_MARKER)
    want = _marker_text(factor, src_dir)
    have = None
    if os.path.exists(marker):
        with open(marker) as fh:
            have = fh.read()
    if have != want:
        # drop the stale marker FIRST: a rebuild killed partway must
        # not leave the old marker validating a dir that now mixes
        # tables from two parameter sets
        if have is not None:
            os.remove(marker)
        build_scaled(spark, src_dir, out_dir, factor)
    return out_dir


if __name__ == "__main__":
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from perfbench.run import box_fit
    from projetbigdatastreaming_spark.session import get_session

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else ".bench_sf1"
    cores, heap = box_fit()
    spark = get_session(
        app_name="gen_scale",
        master=f"local[{cores}]",
        extra_conf={"spark.driver.memory": heap},
    )
    ensure_scaled(spark, src, out, int(os.environ.get("FACTOR", "10")))
    print(f"scaled fixture ready at {out}")
