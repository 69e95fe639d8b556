"""Structured Streaming surface over the `events` table (SURVEY.md §2.10).

The reference is strictly batch; the engine's charter adds a streaming-capable
events pipeline. Every transformation here is expressed once and shared with
the batch analogs in plans/streaming_batch.py — the tests replay the parquet
events through readStream (Trigger.AvailableNow) into a memory sink and
assert equality with the batch results, which are themselves oracle-checked.

Scale design: all aggregations are keyed on (window, low-cardinality key) so
state is bounded; watermarks bound state retention for late data — note
Spark's contract is state EVICTION, not a strict input filter: stragglers
beyond the horizon "may or may not" be aggregated (observed in 4.1: a
beyond-horizon row can still create and immediately emit its expired
window), so horizon-exceeding data needs an upstream filter if exclusion
must be strict (tests/test_streaming.py documents this); the
stateful per-user operator (applyInPandasWithState) takes an opt-in
idle_timeout_ms that evicts idle keys on continuous streams — finite
replays leave it off because registered processing-time timeouts stall
Trigger.AvailableNow termination. On a real cluster the same code runs
against kafka/file sources unchanged — only read_events_stream swaps.

Checkpoint cost: every trigger commits its offset log, its commit log and
one delta file per state-store partition by write-then-rename; the engine
session (session.py) does those renames through Hadoop's FileSystem API,
because Spark's FileContext default forks `readlink` twice per renamed
local file when no native Hadoop library is loaded (~1/3 of a benchmark
stream replay).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Pin spark.sql.shuffle.partitions while a streaming plan is BUILT and
    started (Spark resolves the stateful-operator partitioning during
    analysis, and a checkpoint pins it for the query's lifetime). State
    partition count should track stream key cardinality / throughput, not
    the batch shuffle width: a keyed state store costs per-partition setup
    every run, so over-partitioning a modest stream wastes seconds per
    trigger (measured 6.6s -> 1.5s on the stream-stream join at sf0.1).
    At production volume raise it — once, before first start."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

# Single source of truth for the on-disk events schemas lives in catalog.py;
# batch and streaming reads share the same footer-driven unit detection.
import os  # noqa: E402

from gtec_etl_spark.catalog import (  # noqa: E402
    EVENTS_NANOS_FILE_SCHEMA,
    EVENTS_SCHEMA,
    events_ts_unit,
)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "events.parquet",
) -> DataFrame:
    """File-source stream over the events parquet. In production this is the
    one function that changes (kafka topic / cloud landing bucket); the
    downstream pipelines are source-agnostic. path_glob widens the replay
    to a multi-file directory (with maxFilesPerTrigger=1, time-sliced
    chunks replay one trigger per file).

    The ts unit (nanos vs micros) is detected from one parquet footer
    driver-side, same as catalog.table — a global unit assumption corrupts
    timestamps 1000× the day the lake's writer changes layout."""
    nanos = events_ts_unit(os.path.join(sf_dir, path_glob)) == "ns"
    schema = EVENTS_NANOS_FILE_SCHEMA if nanos else EVENTS_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.option("pathGlobFilter", path_glob).parquet(sf_dir)
    if nanos:
        # Explicit `ts long` schema reads TIMESTAMP(NANOS) on a bare
        # session (no legacy conf); truncate to micros like DuckDB does.
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def tumbling_counts(events: DataFrame, size: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event_type with a watermark bounding
    late-data state — the streaming form of ev_tumbling_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_totals(
    events: DataFrame,
    size: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window totals — the streaming form of ev_sliding_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based) per user — the streaming analog of
    q18_sessionize_events' lag+cumsum batch plan."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def deduped_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-event_id within the watermark horizon
    (dropDuplicatesWithinWatermark) — streaming exact dedup with bounded
    state; on a finite replay it equals a batch distinct on event_id."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(
    stream_df: DataFrame, timeout_sec: int = 120, output_mode: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into a memory
    sink, block until all available input is processed, and return the
    result as a batch DataFrame. Complete-mode output keeps windowed
    aggregates simple to read back in tests; stateful (mapGroupsWithState)
    plans require 'update'."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    if output_mode is None:
        plan = stream_df._jdf.queryExecution().logical().toString()
        if "FlatMapGroupsInPandasWithState" in plan:
            output_mode = "update"
        elif "Aggregate" in plan:
            output_mode = "complete"
        else:
            output_mode = "append"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name} did not finish within {timeout_sec}s; "
            f"memory table would be partial"
        )
    return stream_df.sparkSession.table(name)


def read_changelog_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source changelog stream: (cust_id, op, seq, name, segment)
    parquet drops, one micro-batch per file by default so tests exercise
    true multi-trigger sequencing."""
    schema = (
        "cust_id long, op string, seq long, name string, segment string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def run_cdc_dimension_maintenance(
    log_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str = "cust_id",
    attrs: tuple[str, ...] = ("name", "segment"),
    await_secs: int = 120,
):
    """Streaming dimension maintenance: apply a CDC changelog stream to a
    versioned dimension snapshot, one merge per micro-batch — the
    streaming half of etl_cdc_upsert, sharing its operators
    (operators/cdc.py) so the maintained dimension is reconcilable
    against a batch rebuild by construction.

    Exactly-once across restarts WITHOUT sink transactions, via
    versioned idempotent snapshots: batch N reads the newest snapshot
    under version < N and overwrites `version=N`. A replayed batch
    (checkpoint says in-flight at crash) re-reads exactly the input its
    first attempt saw — versions written by N's first attempt sort at
    version = N, excluded by the strict < — and overwrites its own
    directory. foreachBatch is required because the snapshot is both a
    join input and the sink within one trigger.

    Scale: per-trigger cost is one broadcast of the collapsed batch log
    + one pass over the snapshot (which stays hash-partitioned on the
    key across versions); old versions are retention-pruned the same way
    any snapshot store (Delta/Iceberg) vacuums. Readers get atomic
    version selection for free (a version directory appears only
    complete)."""
    import re as _re

    from gtec_etl_spark.fsutil import list_child_dirs
    from gtec_etl_spark.operators import cdc

    def _latest_version_below(s: SparkSession, batch_id: int) -> int | None:
        # Hadoop FileSystem listing, not glob: the snapshot dir is an
        # object-store/HDFS URI in production, where os.path lists nothing.
        vs = [
            int(m.group(1))
            for d in list_child_dirs(s, snapshot_dir)
            if (m := _re.fullmatch(r"version=(\d+)", d))
        ]
        vs = [v for v in vs if v < batch_id]
        return max(vs) if vs else None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        prev = _latest_version_below(s, batch_id)
        if prev is None:
            base = s.createDataFrame(
                [], batch_df.drop("op", "seq").schema
            )
        else:
            base = s.read.parquet(f"{snapshot_dir}/version={prev}")
        latest = cdc.collapse_changelog(batch_df, key, list(attrs))
        out = cdc.apply_changes(base, latest, key, list(attrs))
        out.write.mode("overwrite").parquet(f"{snapshot_dir}/version={batch_id}")

    q = (
        log_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(await_secs)
    finally:
        if q.isActive:
            q.stop()
    # Stopped query handle: recentProgress stays readable, so callers
    # can read per-trigger telemetry.
    return q


def run_lateness_report(
    spark: SparkSession,
    stream_df: DataFrame,
    delay_s: int,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    query_out: list | None = None,
) -> list[tuple]:
    """Watermark-lateness OBSERVABILITY: per-trigger report of the metrics
    a production streaming pipeline alarms on — late-row count, max
    observed lateness, and watermark lag — computed in foreachBatch (the
    standard place operational telemetry hangs off Structured Streaming).

    The watermark model is the engine's documented rule: the watermark in
    effect DURING trigger k is (max event time over triggers < k) − delay
    — Spark advances it only at trigger boundaries. (The engine itself
    quantizes event time to MILLISECONDS; this report keeps exact micros —
    tests/test_streaming.py:test_lateness_report_watermark_matches_engine
    pins the two to each other at ms granularity per trigger.) Driver state is one
    integer (the running max event time) plus one report row per trigger;
    each per-batch aggregate is computed distributed and collapses to a
    single row, so nothing here scales with batch size.

    Returns [(batch_id, n_rows, n_late, max_late_us, wm_us, wm_lag_us)]:
      n_late      rows below the in-effect watermark (candidates for
                  state-store drop — Spark's contract is eviction, not a
                  strict input filter, so the REPORT is the dependable
                  surface, the engine's drop behavior is not)
      max_late_us worst lateness among them (0 if none)
      wm_us       the in-effect watermark (NULL for the first trigger —
                  no event time seen yet)
      wm_lag_us   how far the watermark trails the newest event after the
                  trigger: max_seen_after − wm
    """
    reports: list[tuple] = []
    state = {"max_us": None}
    delay_us = delay_s * 1_000_000

    def observe(batch_df: DataFrame, batch_id: int) -> None:
        wm = None if state["max_us"] is None else state["max_us"] - delay_us
        ts_us = F.unix_micros(F.col("ts"))
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.max(ts_us).alias("mx"),
        ]
        if wm is not None:
            late = ts_us < F.lit(wm)
            aggs += [
                F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
                F.max(F.when(late, F.lit(wm) - ts_us)).alias("max_late"),
            ]
        row = batch_df.agg(*aggs).first()
        if row["n_rows"] == 0:
            return  # an empty trigger advances nothing and reports nothing
        n_late = row["n_late"] if wm is not None else 0
        max_late = (row["max_late"] if wm is not None else None) or 0
        new_max = row["mx"] if state["max_us"] is None else max(state["max_us"], row["mx"])
        state["max_us"] = new_max
        reports.append(
            (
                batch_id,
                row["n_rows"],
                int(n_late),
                int(max_late),
                wm,
                None if wm is None else new_max - wm,
            )
        )

    q = (
        stream_df.writeStream.foreachBatch(observe)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError("lateness-report stream did not finish")
    if query_out is not None:
        query_out.append(q)  # telemetry handle for the steady-state bench
    return reports
