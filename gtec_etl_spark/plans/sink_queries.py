"""Driver-level queries over the SINK layer (K1/K2 JSON-LD emitters).

The emitter's determinism contract (content-hash @ids, sorted child
arrays, null-dropping serialization — SURVEY.md §7.4) is checked
cross-engine: the oracle hand-assembles the byte-identical JSON document
with sha256 + string concatenation, so any drift in id derivation, member
ordering, or field order hash-mismatches.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.plans.registry import query
from gtec_etl_spark.sinks import jsonld, tabular


@query(
    "k1_jsonld_study_groups",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment, c_name,
             '{"@id":"dats:Material/'
               || substr(sha256('Material' || chr(31) || c_name), 1, 32)
               || '","@type":"Material","name":"' || c_name || '"}' AS mjson
      FROM customer WHERE c_custkey < 50
    ),
    g AS (
      SELECT c_mktsegment AS grp,
             '[' || string_agg(mjson, ',' ORDER BY c_name) || ']' AS members,
             count(*) AS n
      FROM m GROUP BY c_mktsegment
    )
    SELECT grp AS "group",
           '{"@id":"dats:StudyGroup/'
             || substr(sha256('StudyGroup' || chr(31) || grp), 1, 32)
             || '","@type":"StudyGroup","name":"' || grp || '","size":' || n
             || ',"members":' || members || '}' AS doc
    FROM g ORDER BY "group"
    """,
    tags=("sinks", "jsonld"),
)
def k1_jsonld_study_groups(spark, sf_dir):
    """K1 JSON-LD emission as an oracle-checked query: one StudyGroup
    document per market segment with sorted member Materials, content-hash
    @ids (sha256 of type + natural key — the deterministic replacement for
    the reference's uuid4, ccmm/dats/datsobj.py:109-116), serialized with
    to_json. The oracle assembles the SAME bytes with sha256 || concat in
    SQL, so id scheme, member order and field order are all pinned."""
    cust = catalog.table(spark, sf_dir, "customer").filter("c_custkey < 50")
    member = (
        f"named_struct('@id', {jsonld.content_id_sql('Material', 'c_name')},"
        " '@type', 'Material', 'name', c_name)"
    )
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            jsonld.sorted_children("c_name", member).alias("members"),
            F.expr("count(1) AS size"),
        )
        .selectExpr(
            "c_mktsegment AS `group`",
            "to_json(named_struct("
            f"'@id', {jsonld.content_id_sql('StudyGroup', 'c_mktsegment')},"
            " '@type', 'StudyGroup', 'name', c_mktsegment, 'size', size,"
            " 'members', members)) AS doc",
        )
        .orderBy("group")
    )


@query(
    "k2_per_entity_docs",
    oracle="""
    SELECT 'Material/' || substr(sha256('Material' || chr(31) || c_name), 1, 32)
             || '.json' AS path,
           '{"@id":"dats:Material/'
             || substr(sha256('Material' || chr(31) || c_name), 1, 32)
             || '","@type":"Material","name":"' || c_name
             || '","custkey":' || c_custkey || '}' AS doc
    FROM customer WHERE c_custkey <= 100 ORDER BY path
    """,
    tags=("sinks", "jsonld"),
)
def k2_per_entity_docs(spark, sf_dir):
    """K2 per-entity JSON writer (ccmm/gtex/rna_extracts.py:167-191): one
    JSON document plus one deterministic relative path per entity — the
    content-hash id doubles as the file name, so re-runs land on the same
    paths (the reference names files by sample id). The physical write is
    sinks.jsonld.write_documents (sharded text); returning (path, doc)
    rows pins both the document bytes and the naming scheme to the
    oracle."""
    cust = catalog.table(spark, sf_dir, "customer").filter("c_custkey <= 100")
    cid = jsonld.content_id_sql("Material", "c_name")
    return cust.selectExpr(
        f"concat(regexp_replace({cid}, '^dats:', ''), '.json') AS path",
        f"to_json(named_struct('@id', {cid}, '@type', 'Material', 'name', c_name,"
        " 'custkey', c_custkey)) AS doc",
    ).orderBy("path")


FIXTURES = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
)
BAG_GLOB = os.path.join(FIXTURES, "sources", "*.txt")


@query(
    "k4_bag_manifest",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
           md5(decode(content)) AS md5,
           sha256(decode(content)) AS sha256,
           CAST(octet_length(content) AS BIGINT) AS n_bytes
    FROM read_blob('{BAG_GLOB}')
    ORDER BY file
    """,
    tags=("sinks", "bdbag"),
)
def k4_bag_manifest(spark, sf_dir):
    """K4 BDBag checksum manifests (make-crosscut-instance-bdbag.sh:
    139-148) as a distributed pass: binaryFile scan of the payload files →
    md5 + sha256 + byte size per file — exactly the rows
    manifest-md5.txt / manifest-sha256.txt contain, computed by executors
    instead of a driver loop (at 100 TB payload the checksums are the
    expensive part of bagging). sinks/bdbag.py consumes the same hashes
    when it writes the deterministic archive.

    Oracle boundary: DuckDB 1.0's md5/sha256 only accept VARCHAR, so the
    oracle hashes decode(content) — byte-identical to Spark's raw-byte
    hash for UTF-8 payloads (all *.txt fixtures), but decode() would
    throw on arbitrary binary. The Spark side hashes raw bytes and is
    correct for ANY payload; tests/test_sinks.py pins that against
    hashlib on non-UTF-8 content."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(os.path.dirname(BAG_GLOB))
    )
    return files.select(
        F.regexp_extract(F.col("path"), "([^/]+)$", 1).alias("file"),
        F.md5(F.col("content")).alias("md5"),
        F.sha2(F.col("content"), 256).alias("sha256"),
        F.length(F.col("content")).cast("long").alias("n_bytes"),
    ).orderBy("file")


K5_BUCKETS = 8


@query(
    "k5_range_bucket_layout",
    oracle=f"""
    WITH b AS (SELECT max(doc_id) + 1 AS ub FROM documents)
    SELECT CAST(doc_id * {K5_BUCKETS} // ub AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents CROSS JOIN b
    GROUP BY 1 ORDER BY bucket
    """,
    tags=("sinks", "scale"),
)
def k5_range_bucket_layout(spark, sf_dir):
    """K5 range-bucketed layout contract: the per-bucket (count, min, max)
    ranges that sinks.tabular.write_range_bucketed materializes as
    directory partitions with sorted, footer-tight parquet files. The
    bucket is a FIXED integer formula (key * B div upper_bound), not
    repartitionByRange's sampled boundaries, so incremental appends land
    in the same buckets and re-runs are byte-stable; because the formula
    is monotonic in the key, bucket ranges are provably disjoint —
    exactly the property that lets a key predicate prune to one
    directory + one row group at 100 TB. tests/test_sinks.py performs
    the physical write at sf0.001 and asserts the parquet footer
    min/max statistics equal these rows.

    The upper bound is a 1-row broadcast aggregate (crossJoin of a
    constant), costing one pre-pass over the key column's footer stats
    at scale — or a known catalog constant in production."""
    docs = catalog.table(spark, sf_dir, "documents")
    ub = docs.agg((F.max("doc_id") + 1).alias("ub"))
    return (
        docs.crossJoin(F.broadcast(ub))
        .groupBy(
            F.expr(f"CAST(doc_id * {K5_BUCKETS} div ub AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("bucket")
    )


Z_BITS, Z_BUCKET_BITS = 8, 4


def _z_norm_sql(col: str, lo: str, hi: str) -> str:
    return f"CAST(({col} - {lo}) * {1 << Z_BITS} // ({hi} - {lo} + 1) AS BIGINT)"


@query(
    "k6_zorder_layout",
    oracle=f"""
    WITH b AS (
      SELECT min(user_id) AS ulo, max(user_id) AS uhi,
             min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
      FROM events
    ),
    z AS (
      SELECT {tabular.z_value_sql(
          _z_norm_sql('user_id', 'b.ulo', 'b.uhi'),
          _z_norm_sql('epoch_us(ts)', 'b.tlo', 'b.thi'),
          8,
      )} AS zv,
             user_id, epoch_us(ts) AS tus
      FROM events CROSS JOIN b
    )
    SELECT CAST(zv >> {2 * Z_BITS - Z_BUCKET_BITS} AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(user_id) AS min_u, max(user_id) AS max_u,
           min(tus) AS min_t, max(tus) AS max_t
    FROM z GROUP BY 1 ORDER BY zbucket
    """,
    tags=("sinks", "scale"),
)
def k6_zorder_layout(spark, sf_dir):
    """K6 Z-order (Morton) clustered layout contract: per-zbucket row
    counts and BOTH dimensions' min/max — the statistics profile
    sinks.tabular.write_zordered materializes as directory partitions
    with z-sorted files (Delta OPTIMIZE ZORDER / Iceberg sort-order
    rewrite, as plain Spark).

    Why this beats a single-column sort at 100 TB: a Morton-prefix bucket
    is a 2-D TILE, so with 16 buckets each one spans ~1/4 of the user_id
    range AND ~1/4 of the time range — a predicate on either column
    prunes ~75% of directories and row groups, where a ts-sorted layout
    prunes nothing for user_id filters. tests/test_sinks.py performs the
    physical write at sf0.001 and asserts the per-partition tile spans.

    The normalization bounds are a 1-row broadcast aggregate here (a
    catalog constant in production); the interleave itself is a static
    16-term JVM bit expression — integer-exact, no UDF, no shuffle beyond
    the final stats groupBy."""
    ev = catalog.table(spark, sf_dir, "events")
    b = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.unix_micros(F.min("ts")).alias("tlo"),
        F.unix_micros(F.max("ts")).alias("thi"),
    )
    un = F.expr(f"CAST((user_id - ulo) * {1 << Z_BITS} div (uhi - ulo + 1) AS BIGINT)")
    tn = F.expr(f"CAST((tus - tlo) * {1 << Z_BITS} div (thi - tlo + 1) AS BIGINT)")
    z = (
        ev.select("user_id", F.unix_micros("ts").alias("tus"))
        .crossJoin(F.broadcast(b))
        .select(
            "user_id",
            "tus",
            tabular.z_value(un, tn, Z_BITS).alias("zv"),
        )
    )
    return (
        z.groupBy(
            F.shiftright(F.col("zv"), 2 * Z_BITS - Z_BUCKET_BITS).alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("min_u"),
            F.max("user_id").alias("max_u"),
            F.min("tus").alias("min_t"),
            F.max("tus").alias("max_t"),
        )
        .orderBy("zbucket")
    )


@query(
    "k7_orc_roundtrip",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key
    FROM customer GROUP BY 1 ORDER BY segment
    """,
    tags=("sinks",),
)
def k7_orc_roundtrip(spark, sf_dir):
    """ORC interchange contract — the second columnar format a lake must
    read and write (Hive-era tables are ORC; Spark's reader/writer is
    native JVM, predicate pushdown and column pruning included): the
    customer dimension is written as REAL ORC files partitioned by
    segment (zlib-compressed stripes), read back through the ORC scan,
    and audited per segment (counts, integer-cents balance total, key
    range). Partition values round-trip through directory names —
    string-typed on read, which is why the audit groups by the read-back
    column. Oracle recomputes the audit straight from the source table
    (the round trip is lossless by contract; what the gate tests is the
    writer+reader pair)."""
    import tempfile

    cust = catalog.table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    with tempfile.TemporaryDirectory(prefix="orc_rt_") as tmp:
        cust.write.mode("overwrite").partitionBy("c_mktsegment").orc(tmp)
        back = spark.read.orc(tmp)
        out = (
            back.groupBy(F.col("c_mktsegment").cast("string").alias("segment"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("total_cents"),
                F.min("c_custkey").cast("long").alias("min_key"),
                F.max("c_custkey").cast("long").alias("max_key"),
            )
            .orderBy("segment")
        )
        # Materialize before the TemporaryDirectory vanishes.
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "k8_release_validation",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment, c_name FROM customer WHERE c_custkey < 50
    ),
    g AS (
      SELECT CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_groups,
             CAST(count(*) AS BIGINT) AS n_members
      FROM m
    )
    SELECT n_groups + 1 AS n_docs,
           n_groups + n_members + 1 AS n_full,
           n_groups AS n_refs,
           CAST(0 AS BIGINT) AS n_unknown_type,
           CAST(0 AS BIGINT) AS n_bad_id,
           CAST(0 AS BIGINT) AS n_dup_full,
           CAST(0 AS BIGINT) AS n_dangling
    FROM g
    """,
    tags=("sinks", "jsonld", "contract"),
)
def k8_release_validation(spark, sf_dir):
    """K8 release-gate schema validation: the reference
    validates every emitted JSON-LD instance against the datatagsuite
    DATS schemas before bagging (README.md:150-163,
    make-crosscut-instance-bdbag.sh:81-91) and its DatsObj constructor
    rejects unknown types outright (ccmm/dats/datsobj.py:81-83). This
    query closes the same loop engine-side: it assembles a release —
    the K1 StudyGroup documents plus a root Study document holding
    @id REFERENCES to each group (the first-occurrence-full-then-ref
    contract's ref arm, exercised on purpose so the dangling-idref
    check resolves real cross-document links) — then reads every
    document back through from_json(FAILFAST) and reports the violation
    counters (sinks.jsonld.validate_release): unknown @type vs the
    36-entry DATS_TYPES registry, null/malformed/type-contradicting
    @ids, duplicate full embeds, dangling references.

    The oracle predicts the healthy-release report independently from
    the BASE tables (doc/entity/ref counts derivable from the customer
    relation; all violation counters provably zero for a correct
    emitter+validator pair), so a counting bug in either the emitter or
    the validator hash-mismatches. Violation DETECTION (non-zero paths)
    is pinned by tests/test_sinks.py on deliberately corrupted
    documents."""
    groups = k1_jsonld_study_groups(spark, sf_dir)

    group_ref = f"named_struct('@id', {jsonld.content_id_sql('StudyGroup', 'group')})"
    root = (
        groups.groupBy()
        .agg(jsonld.sorted_children("`group`", group_ref).alias("hasPart"))
        .selectExpr("'crosscut-release' AS name", "hasPart")
        .selectExpr(
            f"to_json(named_struct('@id', {jsonld.content_id_sql('Study', 'name')},"
            " '@type', 'Study', 'name', name, 'hasPart', hasPart)) AS doc"
        )
    )
    release = groups.select("doc").unionByName(root)
    return jsonld.validate_release(release)


@query(
    "k9_partition_manifest",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2 ORDER BY event_type, day
    """,
    tags=("sinks", "scale"),
)
def k9_partition_manifest(spark, sf_dir):
    """K9 hive-partitioned fact layout contract: the per-(event_type, day)
    manifest — row count, event-time bounds in exact integer micros,
    distinct users — that sinks.tabular.write_hive_partitioned
    materializes as key=value directories. The manifest IS the partition-
    pruning promise: a predicate on type or day prunes to exactly these
    grains, and the ts bounds are what parquet footers will carry per
    file. tests/test_sinks.py performs the physical write at sf0.001 and
    asserts the directory grains and per-grain row counts equal these
    rows (the k5/k6 physical-pin pattern).

    Plan: one scan + one grain-keyed aggregation with map-side combine
    (grain count = types x days — retention-bounded, never corpus-
    bounded); at 100 TB the same pass is the writer's own shuffle."""
    ev = catalog.table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(F.unix_micros("ts")).cast("long").alias("min_ts_us"),
            F.max(F.unix_micros("ts")).cast("long").alias("max_ts_us"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("event_type", "day")
    )


K10_SLICE_MOD = 17  # user_id % 17 == 3 -> the written slice stays bounded
K10_OVR_DAYS = 3  # click grains in the first 3 days get overwritten


@query(
    "k10_partition_overwrite",
    oracle=f"""
    WITH s0 AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(floor("value" * 1000000 + 0.5) AS BIGINT) AS micros
      FROM events WHERE user_id % {K10_SLICE_MOD} = 3
    ),
    touched AS (
      SELECT * FROM s0
      WHERE event_type = 'click'
        AND day < DATE '2024-01-01' + {K10_OVR_DAYS}
    )
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_type = 'click'
                          AND day < DATE '2024-01-01' + {K10_OVR_DAYS}
                         THEN micros + 1000000 ELSE micros END)
                AS BIGINT) AS total_micros
    FROM s0 GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    tags=("sinks", "incremental"),
)
def k10_partition_overwrite(spark, sf_dir):
    """K10 dynamic partition overwrite — the incremental fact-table WRITE
    semantics every warehouse pipeline depends on (Hive dynamic
    overwrite / Delta replaceWhere): a base slice of events is written
    hive-partitioned by (event_type, day), then an update batch (the
    first {K10_OVR_DAYS} days of clicks, values bumped by 1e6 micros)
    dynamically overwrites ONLY the grains it contains. The read-back
    manifest proves both halves of the contract: touched grains carry
    the UPDATED totals, and untouched grains survive byte-for-byte —
    under Spark's default STATIC overwrite mode every other grain would
    have been dropped and this query's row set would collapse to
    {K10_OVR_DAYS} grains (hash-red at the gate). The mode override
    lives in sinks.tabular.overwrite_partitions_dynamic behind
    try/finally, so it never leaks into the shared session.

    Real physical writes at query time, so the written slice is
    key-range bounded (user_id % {K10_SLICE_MOD} = 3, ~6% of events) —
    the semantics under test are grain-level, not volume-level; the
    volume story is k9's. Result materializes before the tempdir
    vanishes (the etl_time_travel pattern)."""
    import tempfile

    ev = catalog.table(spark, sf_dir, "events").filter(
        F.col("user_id") % K10_SLICE_MOD == 3
    )
    slice0 = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("micros"),
    )
    cutoff = F.lit("2024-01-01").cast("date") + K10_OVR_DAYS
    batch = slice0.filter(
        (F.col("event_type") == "click") & (F.col("day") < cutoff)
    ).withColumn("micros", F.col("micros") + 1000000)
    with tempfile.TemporaryDirectory(prefix="k10_ovr_") as tmp:
        path = f"{tmp}/facts"
        tabular.write_hive_partitioned(
            slice0, path, ["event_type", "day"]
        )
        tabular.overwrite_partitions_dynamic(
            spark, batch, path, ["event_type", "day"]
        )
        out = (
            spark.read.parquet(path)
            .groupBy("event_type", "day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("micros").cast("long").alias("total_micros"),
            )
            .orderBy("event_type", "day")
        )
        return spark.createDataFrame(out.collect(), out.schema)
