"""`catalog.load_table` under declared schemas: equal to an inferred
read on every fixture, no Spark job per load, Spark-written directory
tables, the events `ts` TIMESTAMP(NANOS) vintage, and loud failures
for any other stored type."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from projetbigdatastreaming_spark.catalog import TABLES, load_table
from projetbigdatastreaming_spark.schemas import FIXTURE_SCHEMAS


def test_declared_read_equals_inferred_read(spark, sf_dir):
    """Every query sees the plan an inferred read gives: same schema,
    same semantics, for all ten tables at every fixture scale (the
    ``sf*`` siblings of the test fixture dir)."""
    scales = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dir in scales
    for scale in scales:
        for name in TABLES:
            got = load_table(spark, scale, name)
            path = os.path.join(scale, f"{name}.parquet")
            inferred = spark.read.parquet(path)
            assert got.schema == inferred.schema == FIXTURE_SCHEMAS[name]
            assert got.sameSemantics(inferred), (scale, name)


def test_load_runs_no_spark_job(spark, sf_dir, tmp_path):
    """The footer check runs on the driver; the declared read needs no
    schema-inference job, for a directory never read before too."""
    for name in TABLES:
        os.symlink(
            os.path.join(sf_dir, f"{name}.parquet"),
            tmp_path / f"{name}.parquet",
        )
    sc = spark.sparkContext
    sc.setJobGroup("catalog-load-no-job", "load_table x10")
    try:
        for name in TABLES:
            load_table(spark, str(tmp_path), name)
        jobs = sc.statusTracker().getJobIdsForGroup("catalog-load-no-job")
        assert list(jobs) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_repeat_load_reuses_checked_read(spark, sf_dir):
    """A second call for unchanged files returns the same DataFrame: a
    query pays the relation build once per table, not once per call."""
    for name in TABLES:
        assert load_table(spark, sf_dir, name) is load_table(
            spark, sf_dir, name
        ), name


def test_rewritten_files_are_read_afresh(spark, sf_dir, tmp_path):
    """A rewritten file, and a part file added to a directory table,
    change the key: the next load checks and reads the new files."""
    region = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    out = str(tmp_path / "region.parquet")
    pq.write_table(region, out)
    assert load_table(spark, str(tmp_path), "region").count() == 5
    pq.write_table(region.slice(0, 2), out)
    assert load_table(spark, str(tmp_path), "region").count() == 2
    pq.write_table(region.append_column("r_extra", pa.array([0] * 5)), out)
    with pytest.raises(ValueError, match="r_extra"):
        load_table(spark, str(tmp_path), "region")

    table_dir = tmp_path / "parts" / "region.parquet"
    table_dir.mkdir(parents=True)
    pq.write_table(region, str(table_dir / "part-0.parquet"))
    assert load_table(spark, str(tmp_path / "parts"), "region").count() == 5
    pq.write_table(region, str(table_dir / "part-1.parquet"))
    assert load_table(spark, str(tmp_path / "parts"), "region").count() == 10


def test_spark_written_directory_tables_load(spark, sf_dir, tmp_path):
    """A Spark-written copy (a directory of part files, as
    tools/gen_scale.py writes) loads under the same declared schemas
    with the same rows."""
    for name in TABLES:
        load_table(spark, sf_dir, name).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    for name in TABLES:
        copy = load_table(spark, str(tmp_path), name)
        assert copy.schema == FIXTURE_SCHEMAS[name]
        assert copy.exceptAll(load_table(spark, sf_dir, name)).isEmpty(), name


def _rewrite_events(sf_dir, out_dir, ts=None, drop=None, **write_kw):
    """The fixture's events table with ``ts`` replaced by ``ts(old)``
    and/or column ``drop`` removed, written by pyarrow."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    if ts is not None:
        i = table.schema.get_field_index("ts")
        table = table.set_column(i, "ts", ts(table.column("ts")))
    if drop is not None:
        table = table.drop_columns([drop])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"), **write_kw)
    return out_dir


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_nanos_vintage_reads_as_micros(spark, sf_dir, tmp_path, nanos_as_long):
    """events.ts stored as TIMESTAMP(NANOS) yields the same timestamps
    as the µs fixture, under the declared schema, with or without the
    legacy nanosAsLong conf (a plain SparkSession leaves it off)."""
    nanos_dir = _rewrite_events(
        sf_dir, str(tmp_path), ts=lambda c: c.cast(pa.timestamp("ns"))
    )
    stored = pq.ParquetFile(os.path.join(nanos_dir, "events.parquet"))
    ts = stored.schema.column(1)
    assert ts.name == "ts" and "nanoseconds" in str(ts.logical_type)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    spark.conf.set(conf, nanos_as_long)
    try:
        got = load_table(spark, nanos_dir, "events")
        assert got.schema == FIXTURE_SCHEMAS["events"]
        want = load_table(spark, sf_dir, "events")
        pairs = lambda df: sorted(  # noqa: E731
            (r.event_id, r.ts) for r in df.select("event_id", "ts").collect()
        )
        assert pairs(got) == pairs(want)
    finally:
        spark.conf.set(conf, before)


@pytest.mark.parametrize(
    "case, rewrite, column, stored",
    [
        (
            "unannotated INT64 ts",
            dict(ts=lambda c: c.cast(pa.int64())),
            "ts",
            "INT64,",
        ),
        (
            "UTC-adjusted ts",
            dict(ts=lambda c: c.cast(pa.timestamp("us", tz="UTC"))),
            "ts",
            "Timestamp(microseconds, UTC)",
        ),
        (
            "INT96 ts",
            dict(use_deprecated_int96_timestamps=True),
            "ts",
            "INT96",
        ),
        ("missing column", dict(drop="props"), "props", "missing"),
    ],
)
def test_mismatch_fails_loudly(
    spark, sf_dir, tmp_path, case, rewrite, column, stored
):
    out = _rewrite_events(sf_dir, str(tmp_path), **rewrite)
    with pytest.raises(ValueError) as err:
        load_table(spark, out, "events")
    msg = str(err.value)
    assert f"column {column!r}" in msg and stored in msg, (case, msg)
    assert "events.parquet" in msg and "expected" in msg, (case, msg)


def test_undeclared_column_fails_loudly(spark, sf_dir, tmp_path):
    table = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    table = table.append_column("r_extra", pa.array([0] * table.num_rows))
    pq.write_table(table, str(tmp_path / "region.parquet"))
    with pytest.raises(ValueError, match="r_extra"):
        load_table(spark, str(tmp_path), "region")
