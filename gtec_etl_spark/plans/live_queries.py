"""Registry entries that exercise the streaming and audio surfaces
through the driver's correctness gate.

Every stream_* entry runs a REAL Structured Streaming job (readStream →
watermark / state → sink, Trigger.AvailableNow) over replayed events or
documents files and returns the materialized result. Its oracle is
plain SQL, because a finite replayed stream must agree exactly with the
batch computation: windowed and session aggregates, watermark
dedup, stateful per-key totals, stream-stream and stream-static joins,
the dedup admission filter, CDC snapshots, lateness accounting, and the
HLL / CMS / PSI sketches maintained as bounded streaming state.

Every mm_* entry runs the audio mapInPandas pipelines
(operators/multimodal.py) over deterministic in-memory WAV tables. The
codec is not expressible in SQL, but it IS deterministic, so the oracles
read golden-fixture parquet precomputed by an independent pure-numpy
implementation (tools/make_multimodal_golden.py) — full hash-matched
rows, not rows-only checks.
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
    is what the batch oracle states. The streaming counterpart of the
    dedup_exact batch pass."""
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


from gtec_etl_spark.plans.dedup_queries import _minhash_ctes  # noqa: E402


@query(
    "stream_dedup_admission",
    oracle=f"""
    WITH {_minhash_ctes(16, 4)}
    SELECT DISTINCT a.doc_id AS doc_id
    FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
    ORDER BY doc_id
    """,
    tags=("streaming", "dedup", "live"),
)
def stream_dedup_admission(spark, sf_dir):
    """The incremental dedup admission filter AS A STREAM — the shape a
    production crawl ingest actually runs (dedup_incremental_* are its
    batch twins): new documents arrive on a file-source stream, each
    micro-batch computes MinHash-LSH bands PER ROW (operators/dedup.py:
    minhash_bands_rowwise — array_min over in-row shingle hashes, no
    groupBy, so it is append-mode-legal and SHUFFLE-FREE on the stream
    side), and a stream-static left-semi join against the persisted
    index's banded signatures emits the duplicate-suspect doc ids.

    Scale design: per-trigger cost is O(batch bands + matched index
    buckets) — the static side is the bucketed/persisted artifact
    (rebuilt here from the %10<>7 corpus; in production loaded, not
    rebuilt), the stream side never shuffles before the join, and state
    is empty (no watermark needed — semi-join against a static table is
    stateless). Output: rejected doc_ids, deduped and sorted AFTER the
    memory sink (batch-side distinct on the finite replay). Exactly
    equals the batch match set — minhash_bands_rowwise is proven
    band-identical to the groupBy path (tests/test_streaming.py)."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog
    from gtec_etl_spark.operators import dedup as D
    from gtec_etl_spark.streaming import pipelines as P

    docs = catalog.table(spark, sf_dir, "documents")
    index_bands = (
        D.lsh_banded(
            D.minhash_signatures(
                D.word_shingles(docs.filter(F.col("doc_id") % 10 != 7), 3), 16
            ),
            16,
            4,
        )
        .select("band", "sig")
        .distinct()
    )
    stream_bands = D.minhash_bands_rowwise(
        P.read_documents_stream(spark, sf_dir).filter(F.col("doc_id") % 10 == 7),
        3,
        16,
        4,
    )
    rejected = stream_bands.join(index_bands, ["band", "sig"], "left_semi")
    # Explicit append: run_to_memory's mode heuristic sees the STATIC
    # side's distinct() as an Aggregate and would pick complete mode, but
    # the streaming side itself is stateless row flow.
    out = P.run_to_memory(rejected.select("doc_id"), output_mode="append")
    return out.distinct().orderBy("doc_id")


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



NEARDUP_COS_E6_MIN = 999_990


def _stream_hll_oracle() -> str:
    from gtec_etl_spark.functions.hashing import hash60_sql
    from gtec_etl_spark.plans.sketch_queries import (
        HLL_ALPHA,
        HLL_M,
        HLL_SCALE,
        HLL_W,
    )

    return f"""
    WITH h AS (
      SELECT {hash60_sql("CAST(user_id AS VARCHAR)")} AS h FROM events
    ),
    b AS (
      SELECT h >> {HLL_W} AS bucket,
             CASE WHEN (h & {(1 << HLL_W) - 1}) = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W} - length(bin(h & {(1 << HLL_W) - 1})) + 1
             END AS rho
      FROM h
    ),
    regs AS (
      SELECT bucket, CAST(max(rho) AS BIGINT) AS mj FROM b GROUP BY bucket
    ),
    s AS (
      SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mj AS INTEGER))
                  AS BIGINT) AS s_present,
             CAST(count(*) AS BIGINT) AS n_present
      FROM regs
    ),
    agg AS (
      SELECT s_present + ({HLL_M} - n_present) * {1 << 53} AS s_int,
             {HLL_M} - n_present AS n_zero
      FROM s
    ),
    est AS (
      SELECT s_int, CAST(n_zero AS BIGINT) AS n_zero,
             {HLL_ALPHA!r} * {HLL_SCALE!r} / CAST(s_int AS DOUBLE) AS raw
      FROM agg
    ),
    exact AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n FROM events
    )
    SELECT e.exact_n AS exact_n, s.n_zero AS n_zero,
           CAST(s.s_int AS BIGINT) AS s_int,
           CAST(floor(CASE WHEN s.raw <= {2.5 * HLL_M} AND s.n_zero > 0
                           THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE)
                                             / s.n_zero)
                           ELSE s.raw END + 0.5) AS BIGINT) AS est_n
    FROM exact e CROSS JOIN est s
    """


@query(
    "stream_hll_distinct",
    oracle=_stream_hll_oracle(),
    tags=("streaming", "live", "sketch"),
)
def stream_hll_distinct(spark, sf_dir):
    """A mergeable sketch MAINTAINED BY A REAL STREAMING JOB: the events
    file replays through readStream and a streaming groupBy(bucket)
    max(rho) keeps the HyperLogLog register vector — the production
    "distinct users so far" counter whose state is a FIXED 256 rows
    regardless of stream length (contrast stream_stateful_user_totals,
    whose state grows with the key domain). Because register max is a
    monoid, any micro-batch split must yield the SAME registers as the
    batch pass — the reconcilability contract, stated by the oracle
    recomputing the sketch in SQL. Finalization (integer-scaled harmonic
    sum, one quantized ln in the linear-counting fallback) is identical
    to sketch_hll_distinct, whose float guards cover the shared math;
    the exact distinct rides alongside so the estimate is hash-checked."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog
    from gtec_etl_spark.functions.hashing import hash60
    from gtec_etl_spark.plans.sketch_queries import (
        HLL_ALPHA,
        HLL_M,
        HLL_SCALE,
        HLL_W,
    )
    from gtec_etl_spark.streaming import pipelines as P

    h = hash60(F.col("user_id").cast("string"))
    w = h.bitwiseAND(F.lit((1 << HLL_W) - 1))
    with P.state_partitions(spark, 8):
        regs_stream = (
            P.read_events_stream(spark, sf_dir)
            .select(
                F.shiftright(h, HLL_W).alias("bucket"),
                F.when(w == 0, F.lit(HLL_W + 1))
                .otherwise(F.lit(HLL_W) - F.length(F.bin(w)) + 1)
                .alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").cast("long").alias("mj"))
        )
        regs = P.run_to_memory(regs_stream)
    s = regs.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mj AS INT))"))
        .cast("long")
        .alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    ).select(
        (
            F.col("s_present")
            + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << 53)
        ).alias("s_int"),
        (F.lit(HLL_M) - F.col("n_present")).cast("long").alias("n_zero"),
    )
    est = s.select(
        "s_int",
        "n_zero",
        (
            F.lit(HLL_ALPHA) * F.lit(HLL_SCALE) / F.col("s_int").cast("double")
        ).alias("raw"),
    )
    exact = (
        catalog.table(spark, sf_dir, "events")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_n"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_n",
        "n_zero",
        F.col("s_int").cast("long").alias("s_int"),
        F.floor(
            F.when(
                (F.col("raw") <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0),
                F.lit(HLL_M)
                * F.log(F.lit(float(HLL_M)) / F.col("n_zero").cast("double")),
            ).otherwise(F.col("raw"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("est_n"),
    )


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
    event_type) — exact distincts are illegal on streams, which is
    precisely why stream_hll_distinct exists as the sketch twin. On a
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
    mtime-ordered single-file slices by equal-width ARRIVAL range
    (the stream_steady_state slicing contract), and
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


def _stream_cms_oracle() -> str:
    from gtec_etl_spark.functions.hashing import MINHASH_P, hash60_sql
    from gtec_etl_spark.plans.sketch_queries import (
        _CMS_VALUES,
        CMS_TOPK,
        CMS_W,
    )

    uid_hash = hash60_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH uc AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
      GROUP BY user_id
    ),
    base AS (SELECT user_id, n, {uid_hash} AS h FROM uc),
    keyed AS (
      SELECT d.di AS di,
             ((d.a * (b.h % {MINHASH_P}) + d.b) % {MINHASH_P}) % {CMS_W}
               AS col,
             b.n AS n
      FROM base b, (VALUES {_CMS_VALUES}) d(di, a, b)
    ),
    sketch AS (
      SELECT di, col, CAST(sum(n) AS BIGINT) AS cnt
      FROM keyed GROUP BY di, col
    ),
    exact AS (
      SELECT user_id, n AS exact_n, h
      FROM base ORDER BY n DESC, user_id LIMIT {CMS_TOPK}
    )
    SELECT e.user_id AS user_id, e.exact_n AS exact_n,
           CAST(min(s.cnt) AS BIGINT) AS est_n,
           CAST(min(s.cnt) - e.exact_n AS BIGINT) AS overcount
    FROM exact e, (VALUES {_CMS_VALUES}) d(di, a, b)
    JOIN sketch s
      ON s.di = d.di
     AND s.col = ((d.a * (e.h % {MINHASH_P}) + d.b) % {MINHASH_P})
                 % {CMS_W}
    GROUP BY e.user_id, e.exact_n
    ORDER BY exact_n DESC, user_id
    """


@query(
    "stream_cms_heavy",
    oracle=_stream_cms_oracle(),
    tags=("streaming", "live", "sketch"),
)
def stream_cms_heavy(spark, sf_dir):
    """A count-min sketch MAINTAINED BY A REAL STREAMING JOB — the
    second mergeable-sketch streaming twin (stream_hll_distinct proves
    the register-max monoid; this proves the cell-ADDITION monoid): the
    events file replays through readStream, every event fans into D
    (row, universal-hash column) cells with weight 1, and a streaming
    groupBy((di, col)).count() maintains the grid — state is the FIXED
    D x W cell set regardless of stream length, the bounded-state
    contract the steady-state bench measures for the HLL twin. Because
    cell addition commutes with any micro-batch split, the finite
    replay must equal the batch sketch — and because sketch_cms_heavy_
    hitters ingests the WEIGHTED vocabulary aggregate while this job
    ingests RAW weight-1 events, the pair is the pre-aggregation-
    commutes-with-sketching claim made machine-checked. Probe: exact
    top-K users (batch side) against min-over-rows estimates; hashes
    are the deterministic hash60 family, so the error itself is
    bit-identical cross-engine."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog
    from gtec_etl_spark.functions.hashing import hash60, minhash_perm
    from gtec_etl_spark.plans.sketch_queries import (
        CMS_PARAMS,
        CMS_TOPK,
        CMS_W,
    )
    from gtec_etl_spark.streaming import pipelines as P

    h = hash60(F.col("user_id").cast("string"))
    cells = F.array(
        *[
            F.struct(
                F.lit(di).alias("di"),
                (minhash_perm(h, a, b) % CMS_W).alias("col"),
            )
            for di, (a, b) in enumerate(CMS_PARAMS)
        ]
    )
    with P.state_partitions(spark, 8):
        sketch_stream = (
            P.read_events_stream(spark, sf_dir)
            .select(F.explode(cells).alias("c"))
            .select("c.di", "c.col")
            .groupBy("di", "col")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        sketch = P.run_to_memory(sketch_stream)
    ev = catalog.table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = uc.select("user_id", "n", hash60(F.col("user_id").cast("string")).alias("h"))
    exact = (
        base.orderBy(F.col("n").desc(), "user_id")
        .limit(CMS_TOPK)
        .select("user_id", F.col("n").alias("exact_n"), "h")
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(di).alias("di"),
                        (minhash_perm(F.col("h"), a, b) % CMS_W).alias("col"),
                    )
                    for di, (a, b) in enumerate(CMS_PARAMS)
                ]
            )
        ).alias("c"),
    ).select("user_id", "exact_n", "c.di", "c.col")
    return (
        probes.join(F.broadcast(sketch), ["di", "col"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("long").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


def _stream_psi_oracle() -> str:
    from gtec_etl_spark.plans.profile_queries import _psi_oracle_sql

    return _psi_oracle_sql()


@query(
    "stream_psi_drift",
    oracle=_stream_psi_oracle(),
    tags=("streaming", "live", "quality"),
)
def stream_psi_drift(spark, sf_dir):
    """PSI drift monitoring MAINTAINED BY A REAL STREAMING JOB — the
    third bounded-state streaming topology after the HLL registers and
    the CMS cells, and the smallest: events replay through readStream,
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


# ---------------------------------------------------------------------------
# Audio (mm_*): the RIFF/WAVE codec of operators/multimodal.py through the
# Arrow-batched mapInPandas boundary. The oracles read golden parquet that
# tools/make_multimodal_golden.py recomputes from the LCG sample stream
# without the operator module.
# ---------------------------------------------------------------------------

_MM_GOLDEN = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "multimodal")
)


def _banded_hamming_oracle(src: str, n_bands: int, band_bits: int, max_h: int) -> str:
    """DuckDB twin of operators/multimodal.py:banded_hamming_pairs."""
    mask = (1 << band_bits) - 1
    return f"""
    WITH ph AS (SELECT media_id, phash FROM {src}),
    bands AS (
      SELECT media_id, phash, b, (phash >> ({band_bits} * b)) & {mask} AS band
      FROM ph, range(0, {n_bands}) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
             a.phash AS a_hash, b.phash AS b_hash
      FROM bands a JOIN bands b ON a.b = b.b AND a.band = b.band
       AND a.media_id < b.media_id
    )
    SELECT a_id, b_id, CAST(bit_count(xor(a_hash, b_hash)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(a_hash, b_hash)) <= {max_h}
    ORDER BY a_id, b_id
    """


@query(
    "mm_decode_wav",
    oracle=f"""
    SELECT media_id, sample_rate, n_channels, bits, n_frames,
           peak_abs, mean_abs_e3
    FROM '{_MM_GOLDEN}/mm_decode_wav.parquet'
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def mm_decode_wav(spark, sf_dir):
    """AUDIO through the media pipeline with a REAL dependency-free codec:
    deterministic RIFF/WAVE PCM clips (8/16-bit x mono/stereo, canonical
    headers any WAV reader opens — tests cross-check against stdlib
    `wave`) parsed by the pure-struct chunk walker
    (operators/multimodal.py:_decode_wav) inside an Arrow-batched
    mapInPandas boundary; emitted stats are exact
    integers (peak, 1000x mean |amplitude|), so no float parity games.
    The audio NotImplementedError boundary now covers only ADPCM
    (mm_decode_wav_deep exercises the wide 24/32-bit and float32
    layouts; mm_decode_wav_g711 the companded and float64 ones). Oracle = golden fixture recomputed straight
    from the LCG sample stream WITHOUT the RIFF writer or parser
    (tools/make_multimodal_golden.py:decode_wav_golden)."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_media_table(spark, n=12, n_frames=480, sample_rate=8000)
    return M.decode_audio(media).orderBy("media_id")


@query(
    "mm_decode_wav_g711",
    oracle=f"""
    SELECT media_id, sample_rate, n_channels, bits, n_frames,
           peak_abs, mean_abs_e3
    FROM '{_MM_GOLDEN}/mm_decode_wav_g711.parquet'
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def mm_decode_wav_g711(spark, sf_dir):
    """TELEPHONY audio through the chunk walker: G.711 a-law and mu-law
    companded clips (format 6/7 — the classic 8 kHz codecs, expanded by
    the exact integer segment formulas, sign conventions and all: a-law's
    set sign bit means POSITIVE, mu-law's means negative) plus IEEE
    float64 (format 3, 64-bit), mono/stereo. The WAV NotImplementedError
    boundary is now ADPCM only. Oracle = golden recomputing compress +
    expand from the LCG stream with INDEPENDENT G.711 implementations
    (tools/make_multimodal_golden.py:decode_wav_g711_golden), so the
    formulas are cross-checked, not self-certified."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_g711_media_table(spark, n=12, n_frames=480, sample_rate=8000)
    return M.decode_audio(media).orderBy("media_id")


@query(
    "mm_decode_wav_deep",
    oracle=f"""
    SELECT media_id, sample_rate, n_channels, bits, n_frames,
           peak_abs, mean_abs_e3
    FROM '{_MM_GOLDEN}/mm_decode_wav_deep.parquet'
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def mm_decode_wav_deep(spark, sf_dir):
    """The WIDE audio layouts through the same pure-struct WAV chunk
    walker: 24-bit and 32-bit integer PCM plus IEEE float32 (format 3),
    mono/stereo — closing the round-8 boundary that stopped at 8/16-bit.
    Float samples are v/32768 values (exactly representable), decoded by
    *32768 truncation into the same integer amplitude domain as the
    16-bit clips, so the stats stay exact integers; 24-bit rasters are
    3-byte two's-complement triplets reassembled vectorized (numpy
    byte-shift, no per-sample Python). The remaining NotImplementedError
    boundary is ADPCM, a-law/mu-law, and float64. Oracle = golden fixture
    recomputed straight from the LCG stream WITHOUT the RIFF writer or
    parser (tools/make_multimodal_golden.py:decode_wav_deep_golden)."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_deep_media_table(spark, n=12, n_frames=480, sample_rate=8000)
    return M.decode_audio(media).orderBy("media_id")


@query(
    "mm_decode_wav_adpcm",
    oracle=f"""
    SELECT media_id, sample_rate, n_channels, bits, n_frames,
           peak_abs, mean_abs_e3
    FROM '{_MM_GOLDEN}/mm_decode_wav_adpcm.parquet'
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def mm_decode_wav_adpcm(spark, sf_dir):
    """COMPRESSED audio through the chunk walker: IMA-ADPCM (format 17,
    4-byte per-channel block headers + low-nibble-first codes, step-index
    carried across blocks) and MS-ADPCM (format 2, seven standard 8.8
    fixed-point predictor pairs, high-nibble-first round-robin codes,
    sample2-then-sample1 block seeds), mono/stereo, several block sizes.
    This closes the WAV NotImplementedError boundary to genuinely
    library-grade formats (MP3, extensible). Oracle = golden recomputing
    both codecs' quantize+reconstruct loops from spec tables alone
    (tools/make_multimodal_golden.py:decode_wav_adpcm_golden — never
    imports the operator module), exploiting that ADPCM decoder state
    mirrors encoder state, so the decoded stream IS the encoder's
    reconstruction track."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_adpcm_media_table(spark, n=12, n_frames=480, sample_rate=8000)
    return M.decode_audio(media).orderBy("media_id")


@query(
    "mm_audio_rms_windows",
    oracle=f"""
    SELECT media_id, window_idx, n_frames, energy, peak_abs, rms_e3
    FROM '{_MM_GOLDEN}/mm_audio_rms_windows.parquet'
    ORDER BY media_id, window_idx
    """,
    tags=("multimodal",),
)
def mm_audio_rms_windows(spark, sf_dir):
    """Windowed audio feature extraction over real WAV clips: tumbling
    160-frame windows -> exact integer energy, peak, and isqrt-based
    RMS (no float sqrt, engine-independent) through the Arrow-batched
    codec boundary. Oracle = golden fixture recomputed from the LCG sample
    stream without the RIFF writer, parser, or windowing code
    (tools/make_multimodal_golden.py:audio_rms_windows_golden)."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_media_table(spark, n=12, n_frames=480, sample_rate=8000)
    return M.audio_rms_windows(media, window_frames=160).orderBy(
        "media_id", "window_idx"
    )


NEARDUP_COS_E6_MIN = 999_990


@query(
    "mm_audio_augment",
    oracle=f"""
    SELECT media_id, sample_rate, n_channels, n_frames, n_clipped,
           peak_abs, mean_abs_e3, pos_checksum
    FROM '{_MM_GOLDEN}/mm_audio_augment.parquet'
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def mm_audio_augment(spark, sf_dir):
    """Deterministic AUDIO augmentation — gain 5/4 with truncate-toward-
    zero integer scaling, int16 clipping (clipped-sample count reported —
    the distortion metric an augmentation pass monitors), post-gain
    amplitude stats, and an order-sensitive positional checksum over the
    interleaved sample stream (a channel swap or reorder fails the gate
    even when amplitude stats survive), over the real 8/16-bit
    mono/stereo WAV clips through the RIFF chunk walker. One Arrow pass
    (operators/multimodal.py:augment_audio). Oracle = golden recomputing
    the transforms from the LCG sample stream without the parser
    (tools/make_multimodal_golden.py:audio_augment_golden). Note
    |clip(-32768)| = 32768: the int16 floor's absolute value exceeds the
    ceiling — both sides state it identically."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_media_table(spark, n=12, n_frames=480, sample_rate=8000)
    return M.augment_audio(media).orderBy("media_id")


@query(
    "mm_audio_fingerprint",
    oracle=_banded_hamming_oracle(f"'{_MM_GOLDEN}/mm_audio_fp.parquet'", 8, 8, 6),
    tags=("multimodal", "dedup"),
)
def mm_audio_fingerprint(spark, sf_dir):
    """AUDIO near-duplicate detection: every clip (real WAVs through the
    real chunk-walker decoder) maps to a 63-bit integer envelope
    fingerprint (operators/multimodal.py:audio_wht_fp64 —
    absolute-amplitude sums over 64 windows, integer Walsh-Hadamard,
    strict-median sign bits; window sums over hundreds of samples make it
    robust to sample-level noise while staying EXACT integer arithmetic),
    then an 8x8-bit banded Hamming join (banded_hamming_pairs — pigeonhole
    covers distance <= 7, never all-pairs) verifies bit_count(xor) <= 6.
    Fixture: 12 originals + 12 noise-perturbed re-encodes; measured
    margin dup <= 2 vs cross >= 20. Oracle = the same banded SQL over a
    golden fingerprint table recomputed with an INDEPENDENT
    Hadamard-matrix-product implementation
    (tools/make_multimodal_golden.py:audio_fp_golden)."""
    from gtec_etl_spark.operators import multimodal as M

    media = M.audio_fp_media_table(spark, n_base=12, n_frames=1920)
    return M.banded_hamming_pairs(
        M.audio_fingerprint(media), n_bands=8, band_bits=8, max_hamming=6
    ).orderBy("a_id", "b_id")


VAD_THR_E3 = 6_000_000  # RMS gate: full-scale noise ~19e6, attenuated ~1.2e6


@query(
    "mm_audio_vad",
    oracle=f"""
    WITH act AS (
      SELECT media_id, window_idx, rms_e3,
             window_idx - row_number() OVER (
               PARTITION BY media_id ORDER BY window_idx
             ) AS island
      FROM '{_MM_GOLDEN}/mm_audio_vad_rms.parquet'
      WHERE rms_e3 > {VAD_THR_E3}
    )
    SELECT media_id,
           CAST(min(window_idx) AS BIGINT) AS seg_start,
           CAST(max(window_idx) AS BIGINT) AS seg_end,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(max(rms_e3) AS BIGINT) AS max_rms_e3
    FROM act GROUP BY media_id, island
    ORDER BY media_id, seg_start
    """,
    tags=("multimodal",),
)
def mm_audio_vad(spark, sf_dir):
    """Voice-activity detection — the segmentation pass an audio training
    pipeline runs before transcription/feature extraction (train on
    speech segments, not the silence between them): decode REAL WAV
    clips with loud/quiet gain-block structure through the RIFF walker,
    window RMS in one Arrow pass (80-frame tumbling windows, exact
    isqrt integers), gate at {VAD_THR_E3} (full-scale LCG noise sits at
    ~19e6, the 16x-attenuated blocks at ~1.2e6), then merge consecutive
    active windows into segments with the gaps-and-islands window trick
    (window_idx - row_number per clip) IN SPARK — the relational half
    stays native and shuffle-light (one window partition per clip).
    Oracle: the SAME islands SQL over the golden per-window RMS table
    recomputed from the LCG stream + gain rule without the parser
    (tools/make_multimodal_golden.py:audio_vad_rms_golden), so codec,
    windowing, and segmentation are all gated."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gtec_etl_spark.operators import multimodal as M

    media = M.vad_wav_media_table(spark, n=8, n_frames=960)
    rms = M.audio_rms_windows(media, window_frames=M.VAD_BLOCK)
    act = rms.filter(F.col("rms_e3") > VAD_THR_E3).withColumn(
        "island",
        F.col("window_idx")
        - F.row_number().over(
            Window.partitionBy("media_id").orderBy("window_idx")
        ),
    )
    return (
        act.groupBy("media_id", "island")
        .agg(
            F.min("window_idx").cast("long").alias("seg_start"),
            F.max("window_idx").cast("long").alias("seg_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.max("rms_e3").cast("long").alias("max_rms_e3"),
        )
        .drop("island")
        .orderBy("media_id", "seg_start")
    )
