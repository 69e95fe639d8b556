"""Incremental-ETL query pack: slowly-changing-dimension (SCD2) history
merge and CDC latest-wins upsert — the two MERGE-shaped passes every
warehouse pipeline runs on dimension tables (the reference's pipelines
rebuild dimensions from scratch each run, e.g. the study/subject rebuild
in gtec/topmed/etl.py; at 100 TB a rebuild is not an option, so the
engine provides the incremental forms as first-class queries).

Both derive a deterministic "incoming batch" from the customer table with
pure modular-arithmetic rules, so the Spark plan and the DuckDB oracle
construct bit-identical inputs from the same parquet — no side files.

Scale posture: the merge key is the dimension's natural key; the batch
side is always << the dimension, so every join here broadcasts the batch
(or, when the batch is genuinely large, degrades to ONE shuffle on the
key). Nothing rescans history more than once, and the output preserves
the dimension's partitioning for the next increment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.plans.registry import query

SCD2_EFF_DATE = "2024-06-01"

# Shared derivation of the incoming batch (name updates to every 7th
# customer, segment updates to every 13th — so name-only, segment-only,
# AND both-changed (91ths) rows all exist — plus brand-new rows for every
# 97th) — one SQL string so the oracle and the docstring stay in sync
# with the DataFrame twin below.
_BATCH_SQL = """
      SELECT c_custkey AS cust_id,
             CASE WHEN c_custkey % 7 = 0 THEN c_name || '-v2'
                  ELSE c_name END AS name,
             CASE WHEN c_custkey % 13 = 0 THEN 'SEG-' || c_mktsegment
                  ELSE c_mktsegment END AS segment
      FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0
      UNION ALL
      SELECT c_custkey + 1000000 AS cust_id, 'new-' || c_custkey AS name,
             c_mktsegment AS segment
      FROM customer WHERE c_custkey % 97 = 0
"""


def _base_dim(spark, sf_dir):
    cust = catalog.table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


def _incoming_batch(spark, sf_dir):
    cust = catalog.table(spark, sf_dir, "customer")
    updates = cust.filter(
        (F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 13 == 0)
    ).select(
        F.col("c_custkey").alias("cust_id"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.col("c_name"), F.lit("-v2")),
        ).otherwise(F.col("c_name")).alias("name"),
        F.when(
            F.col("c_custkey") % 13 == 0,
            F.concat(F.lit("SEG-"), F.col("c_mktsegment")),
        ).otherwise(F.col("c_mktsegment")).alias("segment"),
    )
    inserts = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("cust_id"),
        F.concat(F.lit("new-"), F.col("c_custkey")).alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return updates.unionByName(inserts)


SCD2_ORACLE_SQL = f"""
    WITH base AS (
      SELECT c_custkey AS cust_id, c_name AS name,
             c_mktsegment AS segment,
             DATE '2020-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
      FROM customer
    ),
    batch AS ({_BATCH_SQL}),
    changed AS (
      SELECT b.cust_id, b.name, b.segment
      FROM batch b JOIN base d ON d.cust_id = b.cust_id
      WHERE d.is_current AND (d.name IS DISTINCT FROM b.name
                              OR d.segment IS DISTINCT FROM b.segment)
    ),
    brand_new AS (
      SELECT b.cust_id, b.name, b.segment
      FROM batch b ANTI JOIN base d ON d.cust_id = b.cust_id
    )
    SELECT d.cust_id, d.name, d.segment, d.valid_from,
           CASE WHEN c.cust_id IS NOT NULL
                THEN DATE '{SCD2_EFF_DATE}' ELSE d.valid_to END AS valid_to,
           c.cust_id IS NULL AS is_current
    FROM base d LEFT JOIN changed c ON c.cust_id = d.cust_id
    UNION ALL
    SELECT cust_id, name, segment, DATE '{SCD2_EFF_DATE}' AS valid_from,
           CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
    FROM (SELECT * FROM changed UNION ALL SELECT * FROM brand_new)
    ORDER BY cust_id, valid_from
    """


@query(
    "etl_scd2_merge",
    oracle=SCD2_ORACLE_SQL,
    tags=("incremental", "etl", "scale"),
)
def etl_scd2_merge(spark, sf_dir):
    """Type-2 slowly-changing-dimension merge: given the current dimension
    history and an incoming attribute snapshot, close the changed rows
    (valid_to = effective date, is_current = false), open new versions for
    changed and brand-new keys, and pass unchanged history through — the
    exact row set `MERGE INTO dim USING batch` produces under the SCD2
    recipe, expressed as one join + a two-branch union so it runs on any
    Spark (no Delta/Iceberg dependency) and Catalyst sees the whole plan.

    Plan: ONE equi-join of history against the (broadcast) batch decides
    changed-vs-unchanged without a shuffle of the dimension; the new
    versions branch reuses the same broadcast. The history side is read
    once. At 100 TB the dimension stays hash-partitioned on cust_id
    across increments, so successive merges never reshuffle it."""
    base = _base_dim(spark, sf_dir).select(
        "cust_id",
        "name",
        "segment",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = _incoming_batch(spark, sf_dir)
    changed = (
        F.broadcast(batch)
        .join(
            base.filter("is_current").select(
                "cust_id",
                F.col("name").alias("__cur_name"),
                F.col("segment").alias("__cur_seg"),
            ),
            "cust_id",
        )
        # Change detection spans EVERY tracked attribute, null-safe — a
        # segment-only change must version the row just like a name change
        # (the derived batch plants name-only, segment-only, and
        # both-changed keys to pin all three paths).
        .filter(
            ~F.col("__cur_name").eqNullSafe(F.col("name"))
            | ~F.col("__cur_seg").eqNullSafe(F.col("segment"))
        )
        .select("cust_id", "name", "segment")
    )
    brand_new = batch.join(
        base.select("cust_id"), "cust_id", "left_anti"
    ).select("cust_id", "name", "segment")
    closed_or_kept = (
        base.join(
            F.broadcast(changed.select("cust_id", F.lit(True).alias("__chg"))),
            "cust_id",
            "left",
        )
        .select(
            "cust_id",
            "name",
            "segment",
            "valid_from",
            F.when(
                F.col("__chg"), F.lit(SCD2_EFF_DATE).cast("date")
            ).otherwise(F.col("valid_to")).alias("valid_to"),
            F.col("__chg").isNull().alias("is_current"),
        )
    )
    opened = changed.unionByName(brand_new).select(
        "cust_id",
        "name",
        "segment",
        F.lit(SCD2_EFF_DATE).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed_or_kept.unionByName(opened).orderBy("cust_id", "valid_from")


CDC_ORACLE_SQL = f"""
    WITH base AS (
      SELECT c_custkey AS cust_id, c_name AS name,
             c_mktsegment AS segment
      FROM customer
    ),
    log AS (
      SELECT cust_id, 'U' AS op, CAST(2 AS BIGINT) AS seq, name, segment
      FROM ({_BATCH_SQL}) WHERE cust_id <= 1000000
      UNION ALL
      SELECT cust_id, 'I' AS op, CAST(1 AS BIGINT) AS seq, name, segment
      FROM ({_BATCH_SQL}) WHERE cust_id > 1000000
      UNION ALL
      SELECT c_custkey AS cust_id, 'D' AS op, CAST(3 AS BIGINT) AS seq,
             CAST(NULL AS VARCHAR) AS name, CAST(NULL AS VARCHAR) AS segment
      FROM customer WHERE c_custkey % 77 = 0
    ),
    latest AS (
      SELECT cust_id,
             max_by(op, seq) AS op,
             max_by(name, seq) AS name,
             max_by(segment, seq) AS segment
      FROM log GROUP BY cust_id
    )
    SELECT coalesce(l.cust_id, b.cust_id) AS cust_id,
           CASE WHEN l.cust_id IS NULL THEN b.name ELSE l.name END
             AS name,
           CASE WHEN l.cust_id IS NULL THEN b.segment ELSE l.segment END
             AS segment
    FROM base b FULL JOIN latest l ON l.cust_id = b.cust_id
    WHERE l.op IS NULL OR l.op <> 'D'
    ORDER BY cust_id
    """


@query(
    "etl_cdc_upsert",
    oracle=CDC_ORACLE_SQL,
    tags=("incremental", "etl", "scale"),
)
def etl_cdc_upsert(spark, sf_dir):
    """CDC latest-wins upsert: apply a changelog of (op ∈ I/U/D, seq)
    records to the dimension — collapse the log to the highest-seq change
    per key (max_by, one bounded shuffle on the key), then a single FULL
    join applies inserts, updates, and deletes in one pass: the batch
    half of `MERGE INTO ... WHEN MATCHED UPDATE/DELETE WHEN NOT MATCHED
    INSERT`, with conflict resolution by sequence number the way a Kafka
    compacted topic or a Debezium stream resolves it.

    The changelog is derived deterministically (every 7th/13th key updated
    at seq 2, every 97th inserted at seq 1, every 77th deleted at seq 3 —
    keys divisible by both 7 and 77 exercise the precedence path: the
    seq-3 delete must win over the seq-2 update).

    Plan: collapse shuffles only the log (<< dimension); the FULL join is
    one co-partitioned shuffle — at scale, base stays hash-partitioned on
    cust_id across runs so only the log side moves."""
    from gtec_etl_spark.operators import cdc

    base = _base_dim(spark, sf_dir)
    uilog, dlog = changelog_parts(spark, sf_dir)
    latest = cdc.collapse_changelog(
        uilog.unionByName(dlog), "cust_id", ["name", "segment"]
    )
    return cdc.apply_changes(
        base, latest, "cust_id", ["name", "segment"]
    ).orderBy("cust_id")


def changelog_parts(spark, sf_dir):
    """The deterministic derived changelog, split into its two causal
    waves: (updates seq 2 + inserts seq 1, deletes seq 3). Shared by the
    batch collapse above and the streaming replay
    (plans/live_queries.stream_cdc_snapshot), which feeds the waves as
    separate triggers — sequential per-batch application and a single
    all-seq collapse provably agree because seq order equals wave
    order."""
    batch = _incoming_batch(spark, sf_dir)
    ulog = batch.filter(F.col("cust_id") <= 1000000).select(
        "cust_id", F.lit("U").alias("op"), F.lit(2).cast("long").alias("seq"),
        "name", "segment",
    )
    ilog = batch.filter(F.col("cust_id") > 1000000).select(
        "cust_id", F.lit("I").alias("op"), F.lit(1).cast("long").alias("seq"),
        "name", "segment",
    )
    dlog = (
        catalog.table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 77 == 0)
        .select(
            F.col("c_custkey").alias("cust_id"),
            F.lit("D").alias("op"),
            F.lit(3).cast("long").alias("seq"),
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("segment"),
        )
    )
    return ulog.unionByName(ilog), dlog


def bootstrap_log(spark, sf_dir):
    """The dimension's initial full load expressed as seq-0 inserts — the
    bootstrap wave of a streaming CDC replay."""
    return _base_dim(spark, sf_dir).select(
        "cust_id", F.lit("I").alias("op"), F.lit(0).cast("long").alias("seq"),
        "name", "segment",
    )


@query(
    "etl_schema_evolution",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT (o_orderkey % 2 = 1) AS has_status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_status,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM merged GROUP BY 1 ORDER BY has_status
    """,
    tags=("incremental",),
)
def etl_schema_evolution(spark, sf_dir):
    """Schema-drift read path — the lake reality that an ingest pipeline's
    schema GROWS over time: generation 1 of a table lands without a
    column, generation 2 adds it, and consumers must read the union
    without rewriting history. The query writes two real parquet
    generations (even orderkeys without o_orderstatus, odd ones with it)
    and reads them back through Spark's mergeSchema reconciliation —
    earlier files surface the missing column as NULL — then audits the
    merged view: row and null-status counts plus an integer-cents total
    per generation. At 100 TB this is the zero-rewrite evolution story
    (mergeSchema reconciles footers at planning time; no data pass), with
    the caveat that production readers pin a CATALOG schema instead of
    paying per-file footer merges on every read. Oracle recomputes the
    union directly from orders."""
    import tempfile

    orders = catalog.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    with tempfile.TemporaryDirectory(prefix="schema_evo_") as tmp:
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{tmp}/gen=1")
        orders.filter(F.col("o_orderkey") % 2 == 1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/gen=2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{tmp}/gen=1", f"{tmp}/gen=2"
        )
        out = (
            merged.groupBy((F.col("o_orderkey") % 2 == 1).alias("has_status"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_null_status"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("total_cents"),
            )
            .orderBy("has_status")
        )
        # Materialize before the TemporaryDirectory vanishes.
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "etl_time_travel",
    oracle=f"""
    WITH v1 AS (
      SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment
      FROM customer
    ),
    v2 AS ({CDC_ORACLE_SQL}),
    added AS (SELECT cust_id FROM v2 ANTI JOIN v1 USING (cust_id)),
    deleted AS (SELECT cust_id FROM v1 ANTI JOIN v2 USING (cust_id)),
    changed AS (
      SELECT a.cust_id FROM v1 a JOIN v2 b USING (cust_id)
      WHERE a.name IS DISTINCT FROM b.name
         OR a.segment IS DISTINCT FROM b.segment
    )
    SELECT 'v1' AS snapshot, (SELECT CAST(count(*) AS BIGINT) FROM v1) AS n_rows,
           CAST(NULL AS BIGINT) AS n_added, CAST(NULL AS BIGINT) AS n_deleted,
           CAST(NULL AS BIGINT) AS n_changed
    UNION ALL
    SELECT 'v2', (SELECT count(*) FROM v2),
           (SELECT count(*) FROM added), (SELECT count(*) FROM deleted),
           (SELECT count(*) FROM changed)
    ORDER BY snapshot
    """,
    tags=("incremental", "etl"),
)
def etl_time_travel(spark, sf_dir):
    """TIME TRAVEL over a versioned snapshot store — the lakehouse read
    primitive `VERSION AS OF`: the dimension's v1 (bootstrap) and v2
    (after one CDC wave, reusing etl_cdc_upsert's collapse+merge) are
    written as REAL parquet snapshot directories (v=1, v=2 — the
    idempotent layout stream_cdc_snapshot maintains); time-travel = the
    reader pinning a version path instead of 'latest'. The query reads
    BOTH pinned versions back and emits the version-diff audit (adds /
    deletes / attribute changes between snapshots) — the report a
    pipeline runs before vacuuming old versions. Oracle recomputes both
    versions logically (v2 via the CDC oracle verbatim) and the same
    anti-join/IS DISTINCT FROM diff."""
    import tempfile

    from gtec_etl_spark.operators import cdc

    base = _base_dim(spark, sf_dir)
    uilog, dlog = changelog_parts(spark, sf_dir)
    latest = cdc.collapse_changelog(
        uilog.unionByName(dlog), "cust_id", ["name", "segment"]
    )
    v2 = cdc.apply_changes(base, latest, "cust_id", ["name", "segment"])
    with tempfile.TemporaryDirectory(prefix="time_travel_") as tmp:
        base.write.mode("overwrite").parquet(f"{tmp}/v=1")
        v2.write.mode("overwrite").parquet(f"{tmp}/v=2")
        s1 = spark.read.parquet(f"{tmp}/v=1")  # VERSION AS OF 1
        s2 = spark.read.parquet(f"{tmp}/v=2")  # VERSION AS OF 2
        a = s1.select("cust_id", F.col("name").alias("n1"), F.col("segment").alias("g1"))
        b = s2.select("cust_id", F.col("name").alias("n2"), F.col("segment").alias("g2"))
        added = b.join(a, "cust_id", "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("n_added")
        )
        deleted = a.join(b, "cust_id", "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("n_deleted")
        )
        changed = (
            a.join(b, "cust_id")
            .filter(
                ~F.col("n1").eqNullSafe(F.col("n2"))
                | ~F.col("g1").eqNullSafe(F.col("g2"))
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_changed"))
        )
        row1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
            F.lit("v1").alias("snapshot"),
            "n_rows",
            F.lit(None).cast("long").alias("n_added"),
            F.lit(None).cast("long").alias("n_deleted"),
            F.lit(None).cast("long").alias("n_changed"),
        )
        row2 = (
            s2.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .crossJoin(added)   # all 1-row aggregates
            .crossJoin(deleted)
            .crossJoin(changed)
            .select(
                F.lit("v2").alias("snapshot"),
                "n_rows", "n_added", "n_deleted", "n_changed",
            )
        )
        out = row1.unionByName(row2).orderBy("snapshot")
        # Materialize before the TemporaryDirectory vanishes.
        return spark.createDataFrame(out.collect(), out.schema)


SNAPDIFF_DEL_MOD, SNAPDIFF_DEL_REM = 89, 3


@query(
    "etl_snapshot_diff",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment
      FROM customer
    ),
    batch AS ({_BATCH_SQL}),
    merged AS (
      SELECT cust_id, name, segment FROM batch
      UNION ALL
      SELECT b.cust_id, b.name, b.segment FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM batch WHERE batch.cust_id = b.cust_id)
    ),
    snap_b AS (
      SELECT * FROM merged
      WHERE cust_id % {SNAPDIFF_DEL_MOD} <> {SNAPDIFF_DEL_REM}
    ),
    d AS (
      SELECT coalesce(a.cust_id, bb.cust_id) AS cust_id,
             CASE WHEN a.cust_id IS NULL THEN 'added'
                  WHEN bb.cust_id IS NULL THEN 'removed'
                  WHEN a.name <> bb.name OR a.segment <> bb.segment
                    THEN 'changed'
                  ELSE 'unchanged' END AS change_kind,
             CASE WHEN a.cust_id IS NOT NULL AND bb.cust_id IS NOT NULL
                       AND a.name <> bb.name THEN 1 ELSE 0 END AS name_diff,
             CASE WHEN a.cust_id IS NOT NULL AND bb.cust_id IS NOT NULL
                       AND a.segment <> bb.segment THEN 1 ELSE 0
             END AS segment_diff
      FROM base a FULL OUTER JOIN snap_b bb ON a.cust_id = bb.cust_id
    )
    SELECT change_kind, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(name_diff) AS BIGINT) AS n_name_diff,
           CAST(sum(segment_diff) AS BIGINT) AS n_segment_diff,
           CAST(min(cust_id) AS BIGINT) AS min_cust_id,
           CAST(max(cust_id) AS BIGINT) AS max_cust_id
    FROM d GROUP BY change_kind ORDER BY change_kind
    """,
    tags=("incremental",),
)
def etl_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation — the diff report a pipeline runs when a
    new full dimension snapshot replaces the previous one (the
    counterpart of etl_cdc_upsert's log-driven path: when the upstream
    only ships full dumps, the diff IS the change log). Snapshot B is
    derived deterministically from snapshot A (the customer dim): the
    shared incremental batch upserted over it, then every
    (cust_id % {SNAPDIFF_DEL_MOD} == {SNAPDIFF_DEL_REM}) row deleted —
    so added, removed, changed, and unchanged classes all exist at
    every sf. Output: per-class row counts, per-COLUMN change counts
    (which attribute drove the churn — the question a schema owner asks
    first), and the class's key range.

    Plan: ONE full-outer join on the natural key classifies every row
    map-side after a single co-shuffle of the two snapshots (at 100 TB:
    bucket both snapshots by cust_id and the exchange disappears;
    for wide dimensions swap the per-column <> chain for an xxhash64
    row digest and keep only the digest-mismatch rows). The summary is
    a 4-row aggregate with map-side combine; nothing is collected."""
    base = _base_dim(spark, sf_dir)
    batch = _incoming_batch(spark, sf_dir)
    merged = batch.unionByName(
        base.join(batch.select("cust_id"), "cust_id", "left_anti")
    )
    snap_b = merged.filter(
        F.col("cust_id") % SNAPDIFF_DEL_MOD != SNAPDIFF_DEL_REM
    )
    a = base.select(
        F.col("cust_id").alias("a_id"),
        F.col("name").alias("a_name"),
        F.col("segment").alias("a_segment"),
    )
    bb = snap_b.select(
        F.col("cust_id").alias("b_id"),
        F.col("name").alias("b_name"),
        F.col("segment").alias("b_segment"),
    )
    both = F.col("a_id").isNotNull() & F.col("b_id").isNotNull()
    d = a.join(bb, F.col("a_id") == F.col("b_id"), "full_outer").select(
        F.coalesce(F.col("a_id"), F.col("b_id")).alias("cust_id"),
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(
            (F.col("a_name") != F.col("b_name"))
            | (F.col("a_segment") != F.col("b_segment")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_kind"),
        F.when(both & (F.col("a_name") != F.col("b_name")), 1)
        .otherwise(0)
        .alias("name_diff"),
        F.when(both & (F.col("a_segment") != F.col("b_segment")), 1)
        .otherwise(0)
        .alias("segment_diff"),
    )
    return (
        d.groupBy("change_kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("name_diff").cast("long").alias("n_name_diff"),
            F.sum("segment_diff").cast("long").alias("n_segment_diff"),
            F.min("cust_id").cast("long").alias("min_cust_id"),
            F.max("cust_id").cast("long").alias("max_cust_id"),
        )
        .orderBy("change_kind")
    )


ASOF_BASE_DATE = "2024-05-01"
ASOF_SPAN_DAYS = 60  # lookup dates straddle the 2024-06-01 SCD2 boundary


@query(
    "etl_scd2_asof_lookup",
    oracle=f"""
    WITH dim AS (SELECT * FROM ({SCD2_ORACLE_SQL})),
    fact AS (
      SELECT o_orderkey, o_custkey,
             DATE '{ASOF_BASE_DATE}'
               + CAST(o_orderkey % {ASOF_SPAN_DAYS} AS INTEGER)
               AS lookup_date,
             CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)
               AS price_micros
      FROM orders
    )
    SELECT d.valid_from, d.is_current,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT f.o_custkey) AS BIGINT) AS n_custs,
           CAST(sum(f.price_micros) AS BIGINT) AS total_micros
    FROM fact f JOIN dim d
      ON d.cust_id = f.o_custkey
     AND d.valid_from <= f.lookup_date
     AND (d.valid_to IS NULL OR f.lookup_date < d.valid_to)
    GROUP BY d.valid_from, d.is_current
    ORDER BY d.valid_from, d.is_current
    """,
    tags=("incremental", "etl"),
)
def etl_scd2_asof_lookup(spark, sf_dir):
    """Temporal dimension lookup — the join every SCD2 history exists to
    serve: each fact row resolves to the dimension VERSION valid at the
    fact's own date (valid_from <= date < valid_to, open-ended current
    rows matching everything after), the late-arriving-fact pattern a
    warehouse runs when facts and dimension updates arrive out of order.
    Facts are orders with a derived lookup date spanning
    {ASOF_SPAN_DAYS} days across the {SCD2_EFF_DATE} version boundary,
    so all three version classes resolve (old-version hits, closed-row
    hits before the boundary, new-version hits after). Output is the
    per-version-class audit (order count, distinct customers, exact
    integer-micros revenue) — the reconciliation a reviewer checks
    before trusting a temporal join.

    Plan: the dimension history (≤2 versions/key) joins on the EQUALITY
    key cust_id with the interval predicate as a residual filter — the
    right 100 TB plan for SCD2 (versions-per-key is small and bounded,
    so an interval-join index buys nothing); one co-shuffle of facts and
    history on the key (bucketed tables make it exchange-free), then a
    3-row aggregate. Exactly-one-version-per-fact is guaranteed by
    SCD2's non-overlapping intervals, which etl_scd2_merge's gate
    already proves."""
    dim = etl_scd2_merge(spark, sf_dir)
    orders = catalog.table(spark, sf_dir, "orders")
    fact = orders.select(
        F.col("o_custkey"),
        F.date_add(
            F.lit(ASOF_BASE_DATE).cast("date"),
            (F.col("o_orderkey") % ASOF_SPAN_DAYS).cast("int"),
        ).alias("lookup_date"),
        F.floor(F.col("o_totalprice") * 1000000 + 0.5)
        .cast("long")
        .alias("price_micros"),
    )
    j = fact.join(
        dim,
        (F.col("cust_id") == F.col("o_custkey"))
        & (F.col("valid_from") <= F.col("lookup_date"))
        & (F.col("valid_to").isNull() | (F.col("lookup_date") < F.col("valid_to"))),
    )
    return (
        j.groupBy("valid_from", "is_current")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
            F.sum("price_micros").cast("long").alias("total_micros"),
        )
        .orderBy("valid_from", "is_current")
    )
