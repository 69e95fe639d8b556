"""Regression tests for the footer-driven events ts-unit detection.

Round-4 postmortem: the driver regenerated events.parquet with ts as
TIMESTAMP(MICROS) while the reader hard-assumed the r1-era TIMESTAMP(NANOS)
layout (`ts long` + div 1000), dividing every timestamp by 1000 and turning
a 30-day event range into 43 minutes of January 1970 — 11 red queries from
one assumption. These tests pin the contract: whatever unit the footer
declares, loaded timestamps land in a sane modern range, and batch and
streaming readers agree.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gtec_etl_spark import catalog
from gtec_etl_spark.streaming.pipelines import read_events_stream

EPOCH_2000 = datetime.datetime(2000, 1, 1)
EPOCH_2100 = datetime.datetime(2100, 1, 1)


def test_events_ts_unit_detected_from_footer(sf_dir):
    unit = catalog.events_ts_unit(os.path.join(sf_dir, "events.parquet"))
    # The current driver data is micros; the assertion is on the MECHANISM:
    # whatever the footer says must match what pyarrow reads directly.
    field = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts")
    assert unit == getattr(field.type, "unit", "ns")


def test_events_batch_ts_in_modern_range(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = catalog.table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert EPOCH_2000 <= lo <= hi <= EPOCH_2100, (
        f"events ts range [{lo}, {hi}] is outside 2000-2100 — "
        "unit misdetection (the round-4 div-1000 bug)"
    )


def test_events_stream_schema_matches_batch(spark, sf_dir):
    batch = catalog.table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    assert stream.schema == batch.schema


def test_empty_directory_raises_clear_error(tmp_path):
    """An empty landing directory must fail with an explicit message, not a
    confusing FileNotFoundError on the literal '*.parquet' glob string
    (r5 advice)."""
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError, match="no parquet files found"):
        catalog.events_ts_unit(str(d))


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_both_units_read_identically(spark, tmp_path, unit):
    """Write the same logical rows as micros and as int64-nanos; the
    footer-driven reader must produce identical timestamps for both.

    All arithmetic and comparison happen in epoch-micros space via UTC
    (calendar.timegm) — naive datetime.timestamp() on the write side and
    collect()'s datetime conversion on the read side both go through the
    HOST's local timezone, which made the original test pass only on
    TZ=UTC machines (r5 advice)."""
    import calendar

    ts = [
        datetime.datetime(2024, 1, 1, 12, 0, 0),
        datetime.datetime(2024, 1, 15, 3, 30, 59, 123456),
    ]
    micros = [
        calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond for t in ts
    ]
    if unit == "us":
        arr = pa.array(ts, type=pa.timestamp("us"))
    else:
        arr = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))
    t = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": arr,
            "user_id": pa.array([10, 20], type=pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.5, 2.5], type=pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    d = tmp_path / unit
    d.mkdir()
    pq.write_table(t, d / "events.parquet")
    from pyspark.sql import functions as F

    got = [
        r["tsm"]
        for r in catalog.table(spark, str(d), "events")
        .select("event_id", F.unix_micros("ts").alias("tsm"))
        .orderBy("event_id")
        .collect()
    ]
    assert got == micros


def _events_table(unit: str) -> pa.Table:
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    return pa.table(
        {
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array([ts], type=pa.timestamp(unit)),
        }
    )


def test_events_ts_unit_follows_rewrite_in_place(tmp_path):
    """A file rewritten at the same path with another ts unit is probed
    again. A cache by path alone kept 'us' for a nanos rewrite, and a
    nanos -> micros rewrite would be read as `ts long` and divided by
    1000, the bug the module docstring describes."""
    path = tmp_path / "events.parquet"
    pq.write_table(_events_table("us"), path)
    assert catalog.events_ts_unit(str(path)) == "us"
    pq.write_table(_events_table("ns"), path)
    # A rewrite within one filesystem clock tick can keep the mtime; pin a
    # later one so the test does not depend on the tick.
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert catalog.events_ts_unit(str(path)) == "ns"


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_schema_inferred_once_per_file_version(spark, tmp_path):
    """The first read of a table infers its schema (one footer job); a
    repeat read of the unchanged file reuses it and runs no job."""
    region = pa.table({"r_regionkey": pa.array([0, 1], type=pa.int64())})
    pq.write_table(region, tmp_path / "region.parquet")

    def read():
        return catalog.table(spark, str(tmp_path), "region")

    first, jobs1 = _jobs_of(spark, "catalog-first-read", read)
    second, jobs2 = _jobs_of(spark, "catalog-repeat-read", read)
    assert (jobs1, jobs2) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_table_rewritten_with_new_columns_returns_new_schema(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": pa.array([0], type=pa.int64())}), path)
    assert catalog.table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    pq.write_table(
        pa.table({"n_nationkey": pa.array([0], type=pa.int64()), "n_name": pa.array(["x"])}),
        path,
    )
    df = catalog.table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.collect()[0]["n_name"] == "x"


def test_table_missing_path_raises_analysis_exception(spark, tmp_path):
    """A missing table fails as Spark's own read does, on every call: a
    failed read leaves nothing cached."""
    from pyspark.errors import AnalysisException

    for _ in range(2):
        with pytest.raises(AnalysisException) as ei:
            catalog.table(spark, str(tmp_path), "part")
        assert ei.value.getCondition() == "PATH_NOT_FOUND"
