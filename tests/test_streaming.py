"""Streaming surface tests: replay the parquet events through readStream
(Trigger.AvailableNow) and assert the results equal the batch analogs —
which are themselves oracle-checked in test_oracle_parity (ev_* queries).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.streaming import pipelines as P
from tests.conftest import SF_DIR


def _sorted_rows(df, *keys):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


def test_tumbling_counts_matches_batch(spark):
    stream = P.tumbling_counts(P.read_events_stream(spark, SF_DIR))
    got = P.run_to_memory(stream)

    ev = catalog.table(spark, SF_DIR, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    assert _sorted_rows(got, "window_start", "event_type") == _sorted_rows(
        want, "window_start", "event_type"
    )


def test_sliding_totals_matches_batch(spark):
    stream = P.sliding_totals(P.read_events_stream(spark, SF_DIR))
    got = P.run_to_memory(stream)

    ev = catalog.table(spark, SF_DIR, "events")
    want = (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    assert _sorted_rows(got, "window_start") == _sorted_rows(want, "window_start")


def test_session_counts_total_events_preserved(spark):
    stream = P.session_counts(P.read_events_stream(spark, SF_DIR), gap="30 minutes")
    got = P.run_to_memory(stream)
    total = got.agg(F.sum("n_events")).collect()[0][0]
    n_events = catalog.table(spark, SF_DIR, "events").count()
    assert total == n_events
    # Sessions are disjoint per user and each holds >= 1 event.
    assert got.filter(F.col("n_events") < 1).count() == 0
    per_user_batch = (
        catalog.table(spark, SF_DIR, "events").groupBy("user_id").count()
    )
    per_user_stream = got.groupBy("user_id").agg(F.sum("n_events").alias("count"))
    assert _sorted_rows(per_user_stream, "user_id") == _sorted_rows(per_user_batch, "user_id")


def test_watermark_bounds_state_across_batches(spark, tmp_path):
    """What the watermark actually guarantees (Spark's contract is
    state-eviction, NOT a strict late-input filter — data beyond the
    horizon 'may or may not' be aggregated): after replaying two
    micro-batches whose event times span five days with a 1-hour
    watermark, the aggregation state retains only the windows newer than
    the final watermark, and each window_start is emitted at most once."""
    import os
    import time
    import uuid

    import pyspark.sql.functions as SF

    src = tmp_path / "late_events"
    src.mkdir()
    fresh = [(i, f"2024-01-10 12:{i:02d}:00", 1, "a", 1.0, "{}") for i in range(10)]
    late = [
        (100, "2024-01-05 00:00:00", 1, "a", 1.0, "{}"),
        (101, "2024-01-10 11:40:00", 1, "a", 1.0, "{}"),
    ]
    schema = "event_id long, ts string, user_id long, event_type string, value double, props string"
    spark.createDataFrame(fresh, schema).withColumn(
        "ts", SF.col("ts").cast("timestamp")
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(late, schema).withColumn(
        "ts", SF.col("ts").cast("timestamp")
    ).coalesce(1).write.parquet(str(src / "b2"))
    # File source orders batches by modification time; pin b1 strictly
    # older so the watermark advances before the stragglers arrive.
    now = time.time()
    for root, _d, files in os.walk(src / "b1"):
        for f in files:
            os.utime(os.path.join(root, f), (now - 3600, now - 3600))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(SF.window("ts", "1 hour").alias("w"))
        .agg(SF.count(SF.lit(1)).alias("n"))
        .select(SF.col("w.start").alias("window_start"), "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        progress = q.recentProgress
    finally:
        if q.isActive:
            q.stop()

    assert len(progress) >= 2, "expected multiple micro-batches"
    # Final watermark advanced from batch 0's data (12:09 - 1h).
    assert progress[-1]["eventTime"]["watermark"].startswith("2024-01-10T11:09")
    # State eviction: only windows at/after the watermark hour remain in
    # state (the 11:00 and 12:00 windows) — five days of event-time span
    # does NOT mean five days of retained state.
    state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    assert state_rows <= 2, f"watermark failed to bound state: {state_rows} rows"
    # Append-mode output: each closed window emitted at most once.
    out = spark.table(name).collect()
    starts = [r["window_start"] for r in out]
    assert len(starts) == len(set(starts)), f"duplicate window emissions: {starts}"


def test_dedup_within_watermark_removes_nothing_on_unique_ids(spark):
    # event_id is unique in the test table; dedup must be a no-op.
    stream = P.deduped_events(P.read_events_stream(spark, SF_DIR))
    got = P.run_to_memory(stream)
    assert got.count() == catalog.table(spark, SF_DIR, "events").count()


def test_stateful_state_survives_across_microbatches(spark, tmp_path):
    """Split the events into several files and replay with
    maxFilesPerTrigger=1: keyed state must accumulate across micro-batches
    (update-mode emissions are monotone per user and the final counter
    equals the batch total)."""
    import pyspark.sql.functions as SF

    from gtec_etl_spark.streaming import pipelines as P
    from gtec_etl_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "events_split")
    catalog.table(spark, SF_DIR, "events").repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long,"
                                " event_type string, value double, props string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = P.run_to_memory(running_user_totals(stream), timeout_sec=180)
    n_users = catalog.table(spark, SF_DIR, "events").select("user_id").distinct().count()
    # More emitted rows than users == multiple micro-batches updated state.
    assert got.count() > n_users
    final = got.groupBy("user_id").agg(SF.max("n_events").alias("n_events"))
    want = catalog.table(spark, SF_DIR, "events").groupBy("user_id").count()
    assert sorted(tuple(r) for r in final.collect()) == sorted(
        (r["user_id"], r["count"]) for r in want.collect()
    )


def test_stateful_running_user_totals(spark):
    from gtec_etl_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(P.read_events_stream(spark, SF_DIR))
    got = P.run_to_memory(stream)
    # Update mode + single AvailableNow batch: one cumulative row per user.
    ev = catalog.table(spark, SF_DIR, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    assert _sorted_rows(got, "user_id") == _sorted_rows(want, "user_id")


def test_file_sink_checkpoint_resume_exactly_once(spark, tmp_path):
    """Durable pipeline contract: a parquet sink + checkpoint survives a
    stop/restart without reprocessing — the restarted query picks up ONLY
    files that arrived while it was down, and the sink holds every input
    row exactly once. This is the fault-tolerance half of §2.10 that the
    memory-sink replay tests can't see (their state dies with the query)."""
    import pyspark.sql.functions as SF

    src = tmp_path / "arrivals"
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    src.mkdir()
    schema = (
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    )

    def land(batch, rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", SF.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(src / batch))

    def run_until_drained():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("recursiveFileLookup", True)
            .parquet(str(src))
        )
        out = stream.filter(SF.col("value") > 0).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            if q.isActive:
                q.stop()

    land("b1", [(i, "2024-01-10 12:00:00", 1, "a", 1.0, "{}") for i in range(5)])
    run_until_drained()
    first = spark.read.parquet(sink).count()
    assert first == 5

    # Downtime arrival, then RESTART from the same checkpoint.
    land("b2", [(i, "2024-01-10 13:00:00", 2, "b", 2.0, "{}") for i in range(10, 13)])
    run_until_drained()

    rows = spark.read.parquet(sink).collect()
    ids = sorted(r["event_id"] for r in rows)
    # Exactly once: batch-1 rows not duplicated by the restart, batch-2
    # rows all present.
    assert ids == [0, 1, 2, 3, 4, 10, 11, 12], ids


def test_session_checkpoints_commit_through_filesystem_manager(spark, tmp_path):
    """The engine session commits streaming checkpoints through Hadoop's
    FileSystem API: Spark's FileContext default forks `readlink` twice per
    renamed file without a native Hadoop library (session module
    docstring). A Spark upgrade that moves or renames the class fails
    here, not silently as a slower stream replay."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path("file:" + str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_session_counts_restart_reloads_state(spark, tmp_path):
    """Stateful restart: session_counts into a parquet file sink, stopped
    after chunk 1 and restarted from the same checkpoint after chunk 2
    lands, holds exactly the rows of one run over both chunks. User 1's
    session spans the restart (two events before it, one after), so its
    row is right only if the state store's files were read back."""
    import os
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "arrivals"
    src.mkdir()
    day = datetime(2024, 1, 10, tzinfo=timezone.utc)

    def land(i, rows):
        table = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [day + timedelta(minutes=r[1]) for r in rows], pa.timestamp("us", "UTC")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        })
        dst = str(src / f"ev{i:03d}.parquet")
        pq.write_table(table, dst)
        # File sources replay in modification-time order.
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def run(name):
        with P.state_partitions(spark, 2):
            stream = P.session_counts(
                P.read_events_stream(spark, str(src), path_glob="ev*.parquet")
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", str(tmp_path / name / "sink"))
                .option("checkpointLocation", str(tmp_path / name / "ck"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        try:
            assert q.awaitTermination(120), "replay did not finish"
        finally:
            if q.isActive:
                q.stop()
        return sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / name / "sink")).collect()
        )

    # (event_id, minutes after midnight, user_id). After chunk 1 the
    # watermark is 10:10: user 2's 08:00 session is closed, user 1's
    # 12:00 session is open.
    land(0, [(1, 12 * 60, 1), (2, 12 * 60 + 10, 1), (3, 8 * 60, 2)])
    run("restarted")
    # Chunk 2 extends user 1's session and moves the watermark to 16:00,
    # which closes it; the 18:00 session stays open in both runs.
    land(1, [(4, 12 * 60 + 25, 1), (5, 13 * 60, 3), (6, 18 * 60, 1)])
    got = run("restarted")
    want = run("one_run")

    assert got == want
    # (user_id, n_events): chunk 2 holds one event of user 1's session.
    assert [(r[0], r[3]) for r in got] == [(1, 3), (2, 1), (3, 1)], got


def test_rowwise_bands_equal_groupby_bands(spark, sf_dir):
    """minhash_bands_rowwise (the streaming-legal, shuffle-free per-row
    formulation) must produce the exact band set of the batch
    word_shingles -> minhash_signatures -> lsh_banded path — the property
    stream_dedup_admission's oracle parity stands on."""
    from gtec_etl_spark import catalog
    from gtec_etl_spark.operators import dedup as D

    docs = catalog.table(spark, sf_dir, "documents")
    a = D.lsh_banded(D.minhash_signatures(D.word_shingles(docs, 3), 16), 16, 4)
    b = D.minhash_bands_rowwise(docs, 3, 16, 4)
    sa = {(r.doc_id, r.band, r.sig) for r in a.collect()}
    sb = {(r.doc_id, r.band, r.sig) for r in b.collect()}
    assert sa == sb and sa


def test_stream_dedup_admission_matches_batch_incremental(spark, sf_dir):
    """The streaming admission filter's rejected set equals the batch
    incremental path's distinct matched new_docs on the same finite
    input."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.plans import registry

    stream_rejected = {
        r.doc_id
        for r in registry.specs()["stream_dedup_admission"].fn(spark, sf_dir).collect()
    }
    batch_matched = {
        r.new_doc
        for r in registry.specs()["dedup_incremental_batch"].fn(spark, sf_dir).collect()
    }
    assert stream_rejected == batch_matched


def test_dedup_ingest_maintains_its_own_index(spark, tmp_path):
    """run_dedup_ingest: the admitted docs of batch N join the index that
    batch N+1 filters against — a duplicate ACROSS two streamed batches is
    rejected by the second even though no bootstrap index existed; and a
    restart from the same checkpoint neither reprocesses nor duplicates
    (idempotent batch_id-partitioned writes)."""
    from gtec_etl_spark.streaming.pipelines import run_dedup_ingest

    land_dir = tmp_path / "landing"
    land_dir.mkdir()
    schema = "doc_id long, text string"

    def land(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(land_dir / name)
        )

    t_unique = "alpha beta gamma delta epsilon zeta"
    t_dup = "one two three four five six seven"
    t_late = "red orange yellow green blue indigo"
    land("b1", [(1, t_unique), (2, t_dup)])
    land("b2", [(3, t_dup), (4, t_late)])  # 3 duplicates 2 across batches

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", True)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land_dir))
        )
        run_dedup_ingest(
            stream,
            str(tmp_path / "index"),
            str(tmp_path / "admitted"),
            str(tmp_path / "ck"),
        )

    run()
    admitted = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    # 3 must be rejected: its duplicate (2) was admitted by an EARLIER
    # micro-batch of the same run, so only the maintained index can know.
    assert admitted == {1, 2, 4}

    # Restart with one more batch: a dup of doc 4 (indexed in the prior
    # RUN) and a fresh doc. Prior batches must not reprocess.
    land("b3", [(5, t_late), (6, "lorem ipsum dolor sit amet consectetur")])
    run()
    rows = spark.read.parquet(str(tmp_path / "admitted")).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [1, 2, 4, 6]


def test_dedup_ingest_replay_of_uncommitted_batch_is_lossless(spark, tmp_path):
    """Crash-replay safety: if batch N's parquet writes landed but the
    checkpoint commit did NOT (crash in between), the restarted stream
    re-runs batch N with the SAME batch_id. The replayed batch must see
    the index as of batch N-1 — not its own first-attempt delta — or every
    one of its documents becomes a self-suspect and the replay overwrites
    admitted/batch_id=N and index/batch_id=N with EMPTY sets (silent
    permanent loss). Simulated by invoking the foreachBatch body twice
    with the same batch_id, exactly what the checkpoint replays."""
    from gtec_etl_spark.streaming.pipelines import dedup_ingest_batch

    schema = "doc_id long, text string"
    index_dir = str(tmp_path / "index")
    admitted_dir = str(tmp_path / "admitted")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], schema
    )
    b1 = spark.createDataFrame(
        [
            (2, "one two three four five six seven"),
            (3, "red orange yellow green blue indigo"),
        ],
        schema,
    )
    dedup_ingest_batch(b0, 0, index_dir, admitted_dir)
    dedup_ingest_batch(b1, 1, index_dir, admitted_dir)  # first attempt
    dedup_ingest_batch(b1, 1, index_dir, admitted_dir)  # crash replay

    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()
    )
    assert admitted == [1, 2, 3], "replayed batch lost its own documents"
    # The replayed index delta must also survive, so a LATER batch still
    # rejects duplicates of batch 1's documents.
    b2 = spark.createDataFrame(
        [(4, "one two three four five six seven")], schema
    )
    dedup_ingest_batch(b2, 2, index_dir, admitted_dir)
    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()
    )
    assert admitted == [1, 2, 3], "dup of a replayed batch's doc admitted"


def test_cdc_dimension_maintenance_versions_and_final_state(spark, tmp_path):
    """Streaming CDC maintenance: two changelog files -> two micro-batches
    (maxFilesPerTrigger=1); the intermediate snapshot reflects batch A
    only, the final one shows B's delete and insert applied with
    latest-wins collapse — identical semantics to the batch
    etl_cdc_upsert operator it shares code with."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "log"
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write_log(name, rows, mtime):
        t = pa.table(
            {
                "cust_id": pa.array([r[0] for r in rows], pa.int64()),
                "op": pa.array([r[1] for r in rows]),
                "seq": pa.array([r[2] for r in rows], pa.int64()),
                "name": pa.array([r[3] for r in rows]),
                "segment": pa.array([r[4] for r in rows]),
            }
        )
        p = str(src / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    # Batch A: insert 1 and 2; seq-2 update of key 1 must win the collapse.
    write_log(
        "000.parquet",
        [(1, "I", 1, "a1", "s"), (2, "I", 1, "b", "s"), (1, "U", 2, "a2", "s")],
        1_700_000_000,
    )
    # Batch B: delete key 2, insert key 3.
    write_log(
        "001.parquet",
        [(2, "D", 3, None, None), (3, "I", 4, "c", "s")],
        1_700_000_100,
    )

    P.run_cdc_dimension_maintenance(
        P.read_changelog_stream(spark, str(src)), snap, ckpt
    )

    import glob

    versions = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(snap + "/version=*")
    )
    assert versions == [0, 1]
    v0 = {
        r["cust_id"]: r["name"]
        for r in spark.read.parquet(snap + "/version=0").collect()
    }
    assert v0 == {1: "a2", 2: "b"}
    v1 = {
        r["cust_id"]: r["name"]
        for r in spark.read.parquet(snap + "/version=1").collect()
    }
    assert v1 == {1: "a2", 3: "c"}


def test_lateness_report_watermark_matches_engine(spark, tmp_path):
    """The lateness report's watermark MODEL (max event time over prior
    triggers minus delay) must equal the engine's own per-trigger
    watermark: replay three mtime-ordered slices through a watermarked
    aggregation and compare StreamingQuery progress eventTime.watermark
    against the model's prediction for each trigger."""
    import glob
    import json as _json
    import os
    import shutil
    import uuid
    from datetime import datetime, timezone

    ev = catalog.table(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).first()
    src = str(tmp_path / "slices")
    os.makedirs(src)
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        sliced = ev.withColumn(
            "__s", F.expr(f"(unix_micros(ts) - {lo}) * 3 div {hi - lo + 1}")
        )
        for k in range(3):
            stage = str(tmp_path / f"stage{k}")
            sliced.filter(F.col("__s") == k).drop("__s").coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"ev{k:03d}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)

    delay_s = 1800
    with P.state_partitions(spark, 4):
        stream = P.read_events_stream(
            spark, src, max_files_per_trigger=1, path_glob="ev*.parquet"
        )
        agg = (
            stream.withWatermark("ts", f"{delay_s} seconds")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )
        name = f"wm_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            if q.isActive:
                q.stop()
        progress = [_json.loads(p.json) for p in q.recentProgress]

    # model: watermark during trigger k = max ts of triggers < k - delay
    per_slice_max = {
        int(r["__s"]): int(r["mx"])
        for r in sliced.groupBy("__s").agg(F.max(F.unix_micros("ts")).alias("mx")).collect()
    }
    running = None
    checked = 0
    slice_idx = 0
    for p in progress:
        if p["numInputRows"] == 0:
            continue
        # the engine tracks event time in MILLISECONDS: its watermark is
        # floor_ms(max prior event time) - delay
        want_wm = (
            None if running is None else (running // 1000) * 1000 - delay_s * 1_000_000
        )
        got = p.get("eventTime", {}).get("watermark")
        if got is not None and want_wm is not None:
            got_us = int(
                datetime.strptime(got, "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=timezone.utc)
                .timestamp()
                * 1_000_000
            )
            assert got_us == want_wm, (slice_idx, got_us, want_wm)
            checked += 1
        mx = per_slice_max[slice_idx]
        running = mx if running is None else max(running, mx)
        slice_idx += 1
    assert checked >= 2  # at least two non-trivial watermark comparisons


def test_dedup_watermark_state_evicts_expired_ids(spark, tmp_path):
    """The bounded-state claim for streaming exact dedup, made measurable
    (VERDICT r11 #5): dropDuplicatesWithinWatermark keeps one state row
    per event_id only WITHIN the watermark horizon. Replaying three
    micro-batches a day apart in event time with a 1-hour watermark, the
    final state must hold ~one batch's ids, NOT the cumulative id count —
    the per-batch numRowsTotal curve plateaus instead of growing with
    stream length (tools/stream_steady_state.py records the same curve
    at sf0.1)."""
    import os
    import time
    import uuid

    import pyspark.sql.functions as SF

    from gtec_etl_spark.streaming import pipelines as P

    src = tmp_path / "dedup_events"
    src.mkdir()
    schema = (
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    )
    days = ["2024-01-10", "2024-01-11", "2024-01-12"]
    now = time.time()
    for b, day in enumerate(days):
        rows = [
            (b * 100 + i, f"{day} 12:00:{i:02d}", 1, "a", 1.0, "{}")
            for i in range(10)
        ]
        dst = src / f"b{b}"
        spark.createDataFrame(rows, schema).withColumn(
            "ts", SF.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(dst))
        for root, _d, files in os.walk(dst):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (now - 3600 * (3 - b), now - 3600 * (3 - b)),
                )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(src))
    )
    deduped = P.deduped_events(stream, watermark="1 hour")
    name = f"ddst_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.select("event_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        progress = q.recentProgress
    finally:
        if q.isActive:
            q.stop()

    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, "expected one micro-batch per file"
    curve = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in data_batches
    ]
    # all 30 unique ids pass through...
    assert spark.table(name).count() == 30
    # ...but final state holds only the last horizon's ids, not all 30:
    # day-apart batches with a 1h delay expire every prior batch's state.
    assert curve[-1] < 30, f"state grew unbounded: {curve}"
    assert curve[-1] <= max(curve), f"final batch is peak state: {curve}"
    assert curve[-1] <= 20, f"expired ids not evicted: {curve}"


def test_left_join_state_evicts_and_emits_on_expiry(spark, tmp_path):
    """Bounded-state proof for the stream-stream LEFT OUTER interval join
    (VERDICT r12 #2) — the topology where a watermark defect is most
    dangerous because unmatched rows are EMITTED on state expiry: if
    eviction never fires, the join silently withholds every null-extended
    row AND grows state monotonically. Replaying three day-apart
    micro-batches with a 1-hour watermark must (a) emit the unmatched
    clicks of expired days with null purchase columns, and (b) end with
    state holding ~one day's rows, not the cumulative stream."""
    import os
    import time
    import uuid

    import pyspark.sql.functions as SF

    src = tmp_path / "lj_events"
    src.mkdir()
    schema = (
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    )
    days = ["2024-01-10", "2024-01-11", "2024-01-12"]
    now = time.time()
    for b, day in enumerate(days):
        rows = []
        for u in range(1, 11):
            rows.append(
                (b * 100 + u, f"{day} 12:00:00", u, "click", 1.0, "{}")
            )
        for u in range(1, 6):  # users 1-5 purchase within the 30-min window
            rows.append(
                (b * 100 + 50 + u, f"{day} 12:10:00", u, "purchase", 9.0, "{}")
            )
        dst = src / f"b{b}"
        spark.createDataFrame(rows, schema).withColumn(
            "ts", SF.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(dst))
        for root, _d, files in os.walk(dst):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (now - 3600 * (3 - b), now - 3600 * (3 - b)),
                )

    def read_side():
        return (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(str(src))
        )

    clicks = (
        read_side()
        .filter(SF.col("event_type") == "click")
        .select(
            SF.col("event_id").alias("click_id"),
            "user_id",
            SF.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_side()
        .filter(SF.col("event_type") == "purchase")
        .select(
            SF.col("event_id").alias("purchase_id"),
            SF.col("user_id").alias("p_user_id"),
            SF.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        SF.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts"
            " AND purchase_ts <= click_ts + interval 30 minutes"
        ),
        "leftOuter",
    )
    name = f"ljev_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
        progress = q.recentProgress
    finally:
        if q.isActive:
            q.stop()

    out = spark.table(name).collect()
    # Inner matches for users 1-5 of every day emit on data; day 1 and 2
    # unmatched clicks (users 6-10) can only emit via STATE EXPIRY once a
    # later day's data pushes the watermark past them. Day 3's unmatched
    # tail is a documented may-or-may-not at finite-replay termination.
    nulls_by_day = {
        d: sorted(
            r["user_id"]
            for r in out
            if r["purchase_id"] is None and r["click_id"] // 100 == d
        )
        for d in (0, 1)
    }
    assert nulls_by_day[0] == [6, 7, 8, 9, 10], f"day-1 expiry rows: {out}"
    assert nulls_by_day[1] == [6, 7, 8, 9, 10], f"day-2 expiry rows: {out}"
    matched = [r for r in out if r["purchase_id"] is not None]
    assert len(matched) == 15  # 5 users x 3 days, exactly one purchase each

    data_batches = [
        p
        for p in (__import__("json").loads(s.json) for s in progress)
        if p["numInputRows"] > 0 and p.get("stateOperators")
    ]
    curve = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in data_batches
    ]
    # 45 rows total crossed the join; day-apart batches with a 1h delay
    # must evict every prior day, so state never approaches cumulative.
    assert curve, "no stateful progress recorded"
    assert curve[-1] <= 2 * 15, f"state grew unbounded: {curve}"
    assert max(curve) < 45, f"state reached cumulative size: {curve}"
