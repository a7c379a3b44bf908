"""Whole-surface robustness: every registered query must plan and
execute against EMPTY tables (schema-identical, zero rows) without
raising — the first micro-batch of a fresh pipeline, a fully-filtered
partition, and a new deployment all look exactly like this."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from projetbigdatastreaming_spark.catalog import TABLES


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    """Zero-row copies of every table with the RAW fixture schemas
    (events.ts stays nanos-long, exactly as on disk)."""
    out = tmp_path_factory.mktemp("empty_sf")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        for name in TABLES:
            (
                spark.read.parquet(f"{sf_dir}/{name}.parquet")
                .limit(0)
                .write.parquet(str(out / f"{name}.parquet"))
            )
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
    return str(out)


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_survives_empty_input(spark, empty_sf_dir, name):
    rows = entry.queries()[name](spark, empty_sf_dir).collect()
    assert isinstance(rows, list)
