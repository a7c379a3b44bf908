"""Table loading for the driver's synthetic parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table in
each fixture dir (``sf0.001``, ``sf0.01``, ``sf0.1``), or a directory of
part files (a Spark-written copy such as ``tools/gen_scale.py``'s
``.bench_sf1``).

Contract of :func:`load_table`:

- **Declared schemas.** A table is read with
  ``spark.read.schema(S).parquet(path)``, ``S`` from
  ``schemas.FIXTURE_SCHEMAS`` (all nullable, as a parquet scan infers):
  no schema-inference job, one path for every directory.
- **Footer check.** Before that read the driver reads the parquet
  footer with pyarrow (a directory table's first data file) and
  compares each column's parquet physical/logical type with its
  declared field.  The arrow view cannot decide: it reports INT96 as
  ``timestamp[ns]`` too.
- **Kept per file identity.** The checked DataFrame is kept (a bounded
  LRU) per session and (path, size, mtime, inode) of each data file, so
  a repeated call costs a ``stat`` per file, not a ~10 ms relation
  build (py4j round trips, DataSource resolution).  A rewritten, added
  or removed data file changes the key and is checked and read afresh.
- **One exception.** ``events.ts`` stored as ``TIMESTAMP(NANOS)`` (an
  older fixture vintage) reads as nanos-longs under a declared
  ``LongType`` field, whatever ``spark.sql.legacy.parquet.nanosAsLong``
  says, and is truncated to µs ``timestamp_ntz``.
- **Fail loud.** Any other difference raises ``ValueError`` naming path,
  column, stored and expected type: a missing or undeclared column,
  another type, an unannotated INT64 ``ts`` (unit unknown), a
  UTC-adjusted or INT96 timestamp.  A missing column would otherwise
  read as silent nulls.
"""

from __future__ import annotations

import functools
import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .schemas import FIXTURE_SCHEMAS

TABLES = tuple(FIXTURE_SCHEMAS)

#: declared type -> the parquet leaf type it reads from
_STORED = {
    "int": "INT32",
    "bigint": "INT64",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "BYTE_ARRAY String",
    "timestamp_ntz": "INT64 Timestamp(microseconds)",
}
_TS_NANOS = "INT64 Timestamp(nanoseconds)"


def _expected(dtype) -> str:
    if isinstance(dtype, ArrayType):
        return f"LIST<{_expected(dtype.elementType)}>"
    return _STORED[dtype.simpleString()]


def _stored(column) -> str:
    """A pyarrow ``ColumnSchema`` (one parquet leaf) as ``_STORED``
    spells it."""
    logical = json.loads(column.logical_type.to_json())
    kind = column.physical_type
    if logical["Type"] == "Timestamp":
        utc = ", UTC" if logical["isAdjustedToUTC"] else ""
        kind += f" Timestamp({logical['timeUnit']}{utc})"
    elif logical["Type"] != "None":
        kind += f" {logical['Type']}"
    return f"LIST<{kind}>" if column.max_repetition_level else kind


def _data_files(path: str) -> list[str]:
    """A table's parquet data files: the file itself, or a directory
    table's part files."""
    if not os.path.isdir(path):
        return [path]
    files = sorted(glob.glob(os.path.join(glob.escape(path), "[!_]*.parquet")))
    if not files:
        raise ValueError(f"{path}: directory holds no parquet data file")
    return files


def _check_footer(path: str, file: str, name: str) -> bool:
    """Raise unless ``file``'s stored types match the declared schema;
    True iff ``events.ts`` is the ``TIMESTAMP(NANOS)`` vintage."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(file) as footer:
        leaves = map(footer.schema.column, range(len(footer.schema)))
        found = {c.path.split(".")[0]: _stored(c) for c in leaves}
    want = {f.name: _expected(f.dataType) for f in FIXTURE_SCHEMAS[name]}
    nanos = name == "events" and found.get("ts") == _TS_NANOS
    if nanos:
        want["ts"] = _TS_NANOS
    for column in [*want, *found]:
        if found.get(column) != want.get(column):
            raise ValueError(
                f"{path}: column {column!r} is stored as"
                f" {found.get(column, 'nothing (missing)')}, expected"
                f" {want.get(column, 'no such column')}"
            )
    return nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` under its declared schema (module docstring)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    stats = [(f, os.stat(f)) for f in _data_files(path)]
    key = tuple((f, s.st_size, s.st_mtime_ns, s.st_ino) for f, s in stats)
    return _declared_read(spark, path, name, key)


@functools.lru_cache(maxsize=64)
def _declared_read(
    spark: SparkSession, path: str, name: str, files: tuple
) -> DataFrame:
    """``files``: (file, size, mtime, inode) of each data file."""
    schema = FIXTURE_SCHEMAS[name]
    if not _check_footer(path, files[0][0], name):
        return spark.read.schema(schema).parquet(path)
    ts_long = StructField("ts", LongType())
    as_long = StructType([ts_long if f.name == "ts" else f for f in schema])
    # Integer `div`: a double division would lose precision at 1e18 ns,
    # and truncation to µs matches DuckDB on the same file.
    # timestampadd on an NTZ base stays NTZ, unlike timestamp_micros(
    # ...).cast("timestamp_ntz"), which shifts by the session timezone.
    return (
        spark.read.schema(as_long)
        .parquet(path)
        .withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    )


def spread(
    df: DataFrame, partitions: int | None = None, by: str | None = None
) -> DataFrame:
    """Repartition for CPU-bound per-row operators (minhash, simhash,
    feature extraction).

    Parquet splits track *bytes* (maxPartitionBytes), so a small-but-
    expensive input (5k docs in one row group) lands in one task and
    serializes on one core.  For operators whose cost is dominated by
    per-row compute rather than IO, parallelism must track cores —
    repartition is a cheap narrow-ish shuffle of the raw rows and
    unlocks the full executor width.

    ``by`` names a high-cardinality column (a unique id) to HASH-
    partition on instead of round-robin: every keyless
    ``repartition(n)`` first pays a per-task sort of its input rows
    (``spark.sql.execution.sortBeforeRepartition``, on by default so
    retried tasks reproduce their row-to-partition assignment — guide
    §2.5), and for corpus rows that sort keys on the full document
    text.  Hashing a unique id is deterministic under retry with no
    sort, and with |ids| ≫ n the partitions balance the same.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if by is not None:
        return df.repartition(n, F.col(by))
    return df.repartition(n)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    only: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register fixture tables as temp views; returns the DataFrames.

    ``only`` restricts registration to the tables a query actually
    reads: each registration is a ``load_table`` (no Spark job) plus a
    view build, which a one-table SQL query need not pay ten times.
    """
    dfs = {}
    for name in only or TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
