"""Catalog contract: the schemas ``load_table`` binds are the ones the
fixtures carry, and binding them costs no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducelearnings_spark.catalog import TABLE_NAMES, TABLE_SCHEMAS, load_table


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_table_schemas_match_inferred(spark, sf_dir, scale):
    """Binding a schema must never change a column's type: every declared
    schema equals the one Spark infers from the parquet footer, at every
    fixture scale."""
    fixture_dir = os.path.join(os.path.dirname(sf_dir), scale)
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(f"{fixture_dir}/{name}.parquet").schema
        declared = TABLE_SCHEMAS[name]
        assert declared == inferred, (
            f"{name}: {declared.simpleString()} != {inferred.simpleString()}"
        )


def test_load_table_runs_no_job(spark, sf_dir):
    """With the schema bound, building every table's DataFrame reads no
    footer: the job group sees zero jobs (one inference job per table
    without it)."""
    sc = spark.sparkContext
    group = "test_load_table_runs_no_job"
    sc.setJobGroup(group, "load every catalog table")
    try:
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_nanos_timestamps_fail_loudly(spark, tmp_path):
    """An events file with TIMESTAMP(NANOS) does not match the bound
    microsecond schema: the scan must raise, not return misread times."""
    events = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000_000, 1_700_000_001_000_000_000],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(events, path, version="2.6")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str(tmp_path), "events").collect()
