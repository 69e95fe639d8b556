"""Registry entries that exercise the streaming surface through the
driver's correctness gate.

Every stream_* entry runs a REAL Structured Streaming job (readStream →
watermark / state → sink, Trigger.AvailableNow) over replayed events or
changelog files and returns the materialized result. Its oracle is
plain SQL, because a finite replayed stream must agree exactly with the
batch computation: windowed and session aggregates, watermark
dedup, stateful per-key totals, stream-stream and stream-static joins,
CDC snapshots, lateness accounting, and the PSI bucket grid maintained
as bounded streaming state.
"""

from __future__ import annotations

import os

from gtec_etl_spark.plans.registry import query


@query(
    "stream_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum("value"), 4) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    tags=("streaming", "live"),
)
def stream_tumbling_hourly(spark, sf_dir):
    """Tumbling-window aggregation executed as an actual streaming query
    over the events file replayed through readStream; equals the batch
    result (ev_tumbling_hourly) on a finite input — the exactness property
    watermarked windows guarantee once all data is ingested."""
    from gtec_etl_spark.streaming import pipelines as P

    with P.state_partitions(spark, 8):
        out = P.run_to_memory(P.tumbling_counts(P.read_events_stream(spark, sf_dir)))
    return out.orderBy("window_start", "event_type")


@query(
    "stream_session_windows",
    oracle="""
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL THEN 1
                    WHEN date_diff('second',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) > 1800 THEN 1
                    ELSE 0 END AS new_session
        FROM events
      )
    )
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "live"),
)
def stream_session_windows(spark, sf_dir):
    """Native session_window (30-minute gap) executed as a REAL streaming
    job; the oracle reconstructs identical sessions with the classic
    lag + cumulative-sum gaps-and-islands SQL. Session start is the first
    event's timestamp on both sides (Spark's session end — last event +
    gap — is a convention, so the comparison uses start + count)."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.streaming import pipelines as P

    with P.state_partitions(spark, 8):
        out = P.run_to_memory(
            P.session_counts(P.read_events_stream(spark, sf_dir), gap="30 minutes")
        )
    return out.select(
        "user_id", F.col("session_start"), "n_events"
    ).orderBy("user_id", "session_start")


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events ORDER BY event_id
    """,
    tags=("streaming", "live"),
)
def stream_dedup_watermark(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) as a REAL
    streaming job: the events file is replayed through TWO file-source
    streams unioned together (every event arrives twice), and the dedup
    operator must emit each event_id exactly once with bounded state. On
    a finite replay the result is exactly the distinct source rows, which
    is what the batch oracle states: the events table read once, each
    event_id appearing a single time."""
    from gtec_etl_spark.streaming import pipelines as P

    with P.state_partitions(spark, 8):
        doubled = P.read_events_stream(spark, sf_dir).unionByName(
            P.read_events_stream(spark, sf_dir)
        )
        out = P.run_to_memory(P.deduped_events(doubled))
    return out.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).orderBy("event_id")


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum("value"), 4) AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "live", "stateful"),
)
def stream_stateful_user_totals(spark, sf_dir):
    """Custom keyed-state operator (applyInPandasWithState) as a REAL
    streaming job: per-user running totals whose state survives across
    micro-batches. Update mode emits one cumulative row per user per
    batch; the final (max-n) emission per user is the complete total, so
    a finite replay must equal the batch groupBy — which is what the
    oracle states. max_by keeps the query correct under any micro-batch
    split (maxFilesPerTrigger tuning changes batching, not the answer)."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.streaming import pipelines as P
    from gtec_etl_spark.streaming.stateful import running_user_totals

    with P.state_partitions(spark, 8):
        out = P.run_to_memory(
            running_user_totals(P.read_events_stream(spark, sf_dir))
        )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(total_value, n_events)").alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id, a.ts AS click_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    ORDER BY click_id, purchase_id
    """,
    tags=("streaming", "live"),
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream event-time inner join as a REAL streaming job: clicks
    joined to same-user purchases within the following 30 minutes, both
    sides watermarked so the state store evicts rows once they can no
    longer match (the time-range condition is what bounds state — an
    unconstrained stream-stream join would retain both streams forever).
    On a finite replay the emitted pairs equal the batch interval
    self-join, which is what the oracle states."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.streaming import pipelines as P

    with P.state_partitions(spark, 8):
        clicks = (
            P.read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "2 hours")
        )
        purchases = (
            P.read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= click_ts"
                " AND purchase_ts <= click_ts + interval 30 minutes"
            ),
        )
        out = P.run_to_memory(joined)
    return out.select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts"
    ).orderBy("click_id", "purchase_id")


@query(
    "stream_stream_left_join",
    oracle="""
    WITH mx AS (
      SELECT LEAST(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase')
      ) AS m
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
    FROM c LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    WHERE c.click_ts <= (SELECT m - INTERVAL 3 HOUR FROM mx)
    ORDER BY click_id, purchase_id
    """,
    tags=("streaming", "live"),
)
def stream_stream_left_join(spark, sf_dir):
    """Stream-stream event-time LEFT OUTER join as a real streaming job —
    the semantics milestone beyond stream_stream_join's inner form:
    unmatched clicks must be emitted with null purchase columns, which
    the engine can only do once the watermark proves no purchase can
    still arrive (outer rows materialize on STATE EXPIRY, not on data).
    Same interval condition and 2-hour watermarks as the inner twin, so
    the state store evicts both sides identically.

    Determinism cutoff: rows near the stream's end sit in state when a
    finite replay terminates — their no-match verdict is not yet proven,
    and Spark's contract says they 'may or may not' have been emitted.
    Both the engine output and the oracle therefore restrict to clicks
    with click_ts <= GLOBAL-watermark-basis - 3 hours, where the basis
    is the MIN of the two sides' own max event times (each stream's
    watermark derives from ITS OWN max minus the 2-hour delay, and the
    join's global watermark is their minimum — using the overall max
    over-estimates it whenever the lagging side's tail is older) minus
    (watermark delay + join interval + slack): every such click's
    outcome is provably final at termination, making the replay's
    emitted set equal the batch left join under the same cutoff —
    exactly what the oracle states. The cutoff is an output-surface
    bound, not a semantics change (the production continuous stream has
    no end)."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog
    from gtec_etl_spark.streaming import pipelines as P

    with P.state_partitions(spark, 8):
        clicks = (
            P.read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "2 hours")
        )
        purchases = (
            P.read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= click_ts"
                " AND purchase_ts <= click_ts + interval 30 minutes"
            ),
            "leftOuter",
        )
        out = P.run_to_memory(joined)
    ev = catalog.table(spark, sf_dir, "events")
    cutoff = (
        ev.filter(F.col("event_type") == "click")
        .agg(F.max("ts").alias("__cm"))
        .crossJoin(
            ev.filter(F.col("event_type") == "purchase").agg(
                F.max("ts").alias("__pm")
            )
        )
        .select(
            (F.least("__cm", "__pm") - F.expr("interval 3 hours")).alias(
                "__cut"
            )
        )
    )
    return (
        out.crossJoin(F.broadcast(cutoff))
        .filter(F.col("click_ts") <= F.col("__cut"))
        .select(
            "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts"
        )
        .orderBy("click_id", "purchase_id")
    )


from gtec_etl_spark.plans.incremental_queries import CDC_ORACLE_SQL


@query(
    "stream_cdc_snapshot",
    oracle=CDC_ORACLE_SQL,  # etl_cdc_upsert's SQL verbatim
    tags=("streaming", "live", "incremental"),
)
def stream_cdc_snapshot(spark, sf_dir):
    """Streaming CDC dimension maintenance executed as a REAL streaming
    job: the derived changelog is replayed as three file triggers —
    bootstrap full load (seq-0 inserts), update+insert wave (seq 1-2),
    delete wave (seq 3) — through
    streaming.pipelines.run_cdc_dimension_maintenance (foreachBatch +
    versioned idempotent snapshots), and the FINAL snapshot version is
    returned. Its oracle is etl_cdc_upsert's SQL verbatim: sequential
    per-trigger application must equal the single all-seq collapse
    because trigger order equals seq order — the reconcilability
    contract that lets a production pipeline validate its streaming-
    maintained dimension against a batch rebuild.

    The tmp staging of the changelog files is test plumbing (a real
    deployment reads Kafka/Debezium); the maintenance loop itself never
    collects — each trigger is one broadcast collapse + one merge join,
    per-trigger cost tracking the wave, not the dimension."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from gtec_etl_spark.plans.incremental_queries import (
        bootstrap_log,
        changelog_parts,
    )
    from gtec_etl_spark.streaming import pipelines as P

    uilog, dlog = changelog_parts(spark, sf_dir)
    waves = [bootstrap_log(spark, sf_dir), uilog, dlog]
    with tempfile.TemporaryDirectory(prefix="cdc_stream_") as tmp:
        src = os.path.join(tmp, "log")
        os.makedirs(src)
        for i, wave in enumerate(waves):
            stage = os.path.join(tmp, f"stage{i}")
            wave.coalesce(1).write.parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"{i:03d}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        snap = os.path.join(tmp, "snap")
        P.run_cdc_dimension_maintenance(
            P.read_changelog_stream(spark, src), snap,
            os.path.join(tmp, "ckpt"),
        )
        last = max(
            int(p.rsplit("=", 1)[1])
            for p in _glob.glob(os.path.join(snap, "version=*"))
        )
        out = spark.read.parquet(os.path.join(snap, f"version={last}")).select(
            "cust_id", "name", "segment"
        )
        # Materialize on the EXECUTORS before the TemporaryDirectory is
        # removed — eager localCheckpoint pins the partitions in the block
        # manager without ever shipping the (dimension-sized) snapshot to
        # the driver, so this path stays dimension-size-safe.
        return out.orderBy("cust_id").localCheckpoint(eager=True)


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(e."value" * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS total_micros
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2 ORDER BY segment, event_type
    """,
    tags=("streaming", "live"),
)
def stream_static_join(spark, sf_dir):
    """STREAM-STATIC enrichment join as a REAL streaming job — the most
    common production streaming shape (a fact stream enriched against a
    slowly-changing dimension): the events file replays through
    readStream and joins the STATIC customer dimension (Spark plans
    stream-static inner joins stateless — the static side is simply read
    per micro-batch, broadcast when small; no watermark, no state store),
    then aggregates count + integer-micros value total per (segment,
    event_type) — exact distincts are illegal on streams. On a
    finite replay this equals the batch join, which is what the oracle
    states. At 100 TB the static side would be a compacted dimension
    snapshot; per-trigger cost tracks the batch, never the stream
    history."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog as C
    from gtec_etl_spark.streaming import pipelines as P

    dim = C.table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    with P.state_partitions(spark, 8):
        ev = P.read_events_stream(spark, sf_dir)
        joined = ev.join(dim, "user_id")  # stream-static: stateless
        out = P.run_to_memory(
            joined.groupBy("segment", "event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("total_micros"),
            )
        )
    return out.orderBy("segment", "event_type")


_LATE_K = 6  # arrival slices (= triggers)
_LATE_JITTER_S = 7200  # max simulated arrival delay (2 h)
_LATE_DELAY_S = 1800  # watermark delay (30 min)


@query(
    "stream_lateness_report",
    oracle=f"""
    WITH ev AS (
      SELECT epoch_us(ts) AS ts_us,
             epoch_us(ts)
               + ({{h}} % {_LATE_JITTER_S}) * 1000000 AS arr_us
      FROM events
    ),
    b AS (SELECT min(arr_us) AS lo, max(arr_us) AS hi FROM ev),
    sliced AS (
      SELECT ts_us,
             (arr_us - lo) * {_LATE_K} // (hi - lo + 1) AS slice
      FROM ev, b
    ),
    per AS (
      SELECT slice, CAST(count(*) AS BIGINT) AS n_rows,
             max(ts_us) AS mx
      FROM sliced GROUP BY slice
    ),
    wm AS (
      SELECT slice, n_rows,
             max(mx) OVER (ORDER BY slice
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - {_LATE_DELAY_S} * 1000000 AS wm_us,
             max(mx) OVER (ORDER BY slice
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_max
      FROM per
    )
    SELECT CAST(w.slice AS BIGINT) AS batch_id,
           w.n_rows,
           CAST(coalesce(sum(CASE WHEN s.ts_us < w.wm_us THEN 1 END), 0)
                AS BIGINT) AS n_late,
           CAST(coalesce(max(CASE WHEN s.ts_us < w.wm_us
                                  THEN w.wm_us - s.ts_us END), 0)
                AS BIGINT) AS max_late_us,
           w.wm_us,
           w.run_max - w.wm_us AS wm_lag_us
    FROM wm w JOIN sliced s USING (slice)
    GROUP BY w.slice, w.n_rows, w.wm_us, w.run_max
    ORDER BY batch_id
    """.format(h="CAST(CONCAT('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)"),
    tags=("streaming", "live"),
)
def stream_lateness_report(spark, sf_dir):
    """Streaming OBSERVABILITY — the operational surface the stream_*
    family's transforms don't cover: a per-trigger watermark-lateness
    report (late rows under the in-effect watermark, worst lateness,
    watermark lag) computed in foreachBatch, the report a production
    pipeline alarms on.

    Deterministic time-sliced replay: each event gets a simulated arrival
    time ts + (hash60(event_id) mod 2h), the corpus is written as six
    mtime-ordered single-file slices by equal-width ARRIVAL range, and
    maxFilesPerTrigger=1 replays them one trigger per slice, so
    batch_id == slice and the whole report is reproducible. The batch
    twin (the DuckDB oracle) recomputes the identical histogram from
    event vs arrival time: per-slice max event time, prefix-max over the
    6-row slice spine = the engine's trigger-boundary watermark rule,
    then per-slice late counts. All integer micros — exact cross-engine.
    Spark-side driver state: ONE running-max integer + one row per
    trigger (streaming/pipelines.py:run_lateness_report)."""
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from gtec_etl_spark import catalog
    from gtec_etl_spark.functions.hashing import hash60
    from gtec_etl_spark.streaming import pipelines as P

    ev = catalog.table(spark, sf_dir, "events")
    arr = F.unix_micros(F.col("ts")) + (
        hash60(F.col("event_id").cast("string")) % _LATE_JITTER_S
    ) * F.lit(1_000_000)
    ev = ev.withColumn("__arr", arr)
    lo, hi = ev.agg(F.min("__arr"), F.max("__arr")).first()
    # exact BIGINT division (`div`) — mirrors the oracle's `//` literally
    sliced = ev.withColumn(
        "__slice",
        F.expr(f"(__arr - {lo}) * {_LATE_K} div {hi - lo + 1}").cast("long"),
    )

    # Pin the parquet timestamp physical type for the slice files: on a
    # vanilla session Spark writes INT96, which the footer unit probe
    # (catalog.events_ts_unit) cannot classify. Runtime-settable, restored.
    _TS_CONF = "spark.sql.parquet.outputTimestampType"
    old_ts_type = spark.conf.get(_TS_CONF)

    with tempfile.TemporaryDirectory(prefix="lateness_") as tmp:
        src = os.path.join(tmp, "arrivals")
        os.makedirs(src)
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        spark.conf.set(_TS_CONF, "TIMESTAMP_MICROS")
        try:
            # ONE corpus scan for all slices (was: one filtered scan +
            # coalesce(1) single-thread write PER slice — 6 scans):
            # repartition on the slice id puts every slice's rows in one
            # task, so partitionBy emits exactly one part file per slice
            # directory; the data columns stay slice-free because
            # partitionBy lifts __slice into the directory key.
            stage = os.path.join(tmp, "stage")
            sliced.select(*cols, "__slice").repartition(
                _LATE_K, "__slice"
            ).write.partitionBy("__slice").parquet(stage)
            for k in range(_LATE_K):
                part = _glob.glob(
                    os.path.join(stage, f"__slice={k}", "part-*.parquet")
                )[0]
                dst = os.path.join(src, f"ev{k:03d}.parquet")
                shutil.copy(part, dst)
                os.utime(
                    dst, (1_700_000_000 + k * 100, 1_700_000_000 + k * 100)
                )
        finally:
            spark.conf.set(_TS_CONF, old_ts_type)
        with P.state_partitions(spark, 8):
            stream = P.read_events_stream(
                spark, src, max_files_per_trigger=1, path_glob="ev*.parquet"
            )
            rows = P.run_lateness_report(
                spark, stream, _LATE_DELAY_S, os.path.join(tmp, "ckpt")
            )

    schema = StructType(
        [
            StructField("batch_id", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_late", LongType(), False),
            StructField("max_late_us", LongType(), False),
            StructField("wm_us", LongType(), True),
            StructField("wm_lag_us", LongType(), True),
        ]
    )
    return spark.createDataFrame(
        [tuple(int(v) if v is not None else None for v in r) for r in rows], schema
    ).orderBy("batch_id")


def _stream_psi_oracle() -> str:
    from gtec_etl_spark.plans.profile_queries import _psi_oracle_sql

    return _psi_oracle_sql()


@query(
    "stream_psi_drift",
    oracle=_stream_psi_oracle(),
    tags=("streaming", "live", "quality"),
)
def stream_psi_drift(spark, sf_dir):
    """PSI drift monitoring MAINTAINED BY A REAL STREAMING JOB — a
    bounded-state streaming topology: events replay through readStream,
    each maps to its (value bucket, reference/current window) cell, and
    a streaming groupBy keeps the bucket-count grid (state = bucket x
    window cells — ~20 rows forever, the
    dashboard-counter a drift monitor actually maintains between model
    refreshes). Finalization — add-one smoothing, micro-nat ln
    decomposition, e9 probabilities — is the EXACT code path of
    prof_drift_psi (psi_from_counts, shared function), so on a finite
    replay the report equals the batch query and ONE oracle states
    both; cell-count addition is a monoid, so any micro-batch split
    reconciles."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.plans.profile_queries import (
        PSI_BUCKET_W,
        PSI_NBUCKETS,
        PSI_SPLIT_TS,
        psi_from_counts,
    )
    from gtec_etl_spark.streaming import pipelines as P

    with P.state_partitions(spark, 8):
        cells = (
            P.read_events_stream(spark, sf_dir)
            .select(
                F.least(
                    F.floor(F.col("value") / PSI_BUCKET_W).cast("long"),
                    F.lit(PSI_NBUCKETS - 1),
                ).alias("bucket"),
                F.when(
                    F.col("ts") < F.lit(PSI_SPLIT_TS).cast("timestamp"), 0
                )
                .otherwise(1)
                .alias("w"),
            )
            .groupBy("bucket", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        grid = P.run_to_memory(cells)
    counts = grid.groupBy("bucket").agg(
        F.sum(F.when(F.col("w") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("w") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return psi_from_counts(counts)
