"""K3 denormalized TSV dump writer (sparql/v0.7/rdflib_tabular_dump.py:
334-418 in the reference) — deterministic multi-key ordering preserved.

The reference writes one TSV from a single process. At scale the dump is
written as sharded part files whose *content* is deterministic: rows are
range-partitioned by the sort key (orderBy produces a global sort), so the
concatenation of part files in filename order reproduces the reference's
single-file row order exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gtec_etl_spark import fsutil


def finalize_deterministic_dir(spark: SparkSession, path: str, ext: str) -> None:
    """Make a Spark output directory byte-identical across runs: drop job
    metadata (_SUCCESS, .crc sidecars) and rename part files — whose names
    otherwise embed a per-job UUID — to stable sequential names in sorted
    (= row-range) order. Release artifacts are checksummed whole-directory
    (sinks/bdbag.py), so unstable NAMES break reproducibility even when
    contents are deterministic. One listing of the raw directory
    (fsutil.RawDir), then the deletes and renames, all through the Hadoop
    FileSystem API, so the commit step works unchanged on s3a://hdfs://
    sink paths — glob/os.replace would silently no-op there."""
    d = fsutil.RawDir(spark, path)
    names = d.files()
    for name in names:
        if name == "_SUCCESS" or name.endswith(".crc"):
            d.delete(name)
    parts = sorted(n for n in names if n.startswith("part-"))
    for i, name in enumerate(parts):
        dst = f"part-{i:05d}.{ext}"
        if name == dst:  # idempotent re-run: already finalized
            continue
        if not d.rename(name, dst):
            # FileSystem.rename signals failure by RETURNING False (dst
            # exists / src vanished) rather than raising — unlike the
            # os.replace it replaced, which overwrote. Silently accepting
            # that leaves a UUID-named part and a quietly nondeterministic
            # "deterministic" directory, so fail loudly instead.
            raise IOError(
                f"finalize_deterministic_dir: rename {path}/{name} -> "
                f"{dst} failed (destination exists or source vanished)"
            )


def write_tsv_dump(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    single_file: bool = False,
) -> None:
    """Write a deterministically-ordered TSV (header per part file).

    single_file=True writes one partition, sorted locally without a
    range-partitioning shuffle — only for small exports (the reference's
    behavior); leave False at scale. Output filenames are finalized to
    stable names so repeated runs are byte-identical.
    """
    if single_file:
        out = df.coalesce(1).sortWithinPartitions(*order_cols)
    else:
        out = df.orderBy(*order_cols)
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("nullValue", "")
        .csv(path)
    )
    finalize_deterministic_dir(df.sparkSession, path, "tsv")


def write_range_bucketed(
    df: DataFrame,
    path: str,
    key: str,
    n_buckets: int,
    upper_bound: int,
) -> None:
    """Range-bucketed parquet layout for data-skipping: rows land in
    bucket = key * n_buckets div upper_bound (a fixed integer formula, so
    re-runs and incremental appends agree on placement — unlike
    repartitionByRange, whose sampled boundaries drift run to run), one
    directory partition per bucket, rows sorted by the key within each
    file so parquet row-group min/max statistics are tight and disjoint.

    A point/range predicate on the key then prunes at THREE levels: the
    partition directory (Catalyst partition pruning on the bucket
    formula), the row group (footer min/max), and the page (column
    index). At 100 TB this layout is the difference between scanning one
    bucket and scanning the corpus; the writer shuffles once on the
    bucket key."""
    from pyspark.sql import functions as F

    bucketed = df.withColumn(
        "bucket",
        F.expr(f"CAST({key} * {n_buckets} div {upper_bound} AS BIGINT)"),
    )
    (
        bucketed.repartition(n_buckets, "bucket")
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def compact_parquet_dir(
    spark,
    src: str,
    dst: str,
    target_bytes: int = 128 << 20,
    sort_key: str | None = None,
) -> int:
    """Small-file compaction — the maintenance pass every incremental
    sink eventually needs (a foreachBatch sink that writes one
    partition directory per trigger leaves many small files; object
    stores and NameNodes both
    degrade under file-count, and tiny row groups defeat footer
    statistics). Reads the directory, picks the output file count from
    TOTAL BYTES / target_bytes (size-based, not partition-count-based,
    so compaction converges no matter how fragmented the input), and
    rewrites with an optional sort key so the compacted row groups carry
    tight min/max footers (pair with write_range_bucketed for the full
    layout). Returns the output file count.

    The byte-size listing is driver-side filesystem metadata — the same
    O(#files) listing any table-maintenance service (OPTIMIZE, compaction
    daemons) performs, through the Hadoop FileSystem API so object-store
    and HDFS sinks (s3a://, hdfs://) list correctly, not just local
    paths; row data itself moves through one executor-side
    repartition."""
    total = sum(
        n
        for p, n, _mtime in fsutil.file_signature(spark, src) or ()
        if p.endswith(".parquet")
    )
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src)
    out = df.repartition(n_out)
    if sort_key:
        out = out.sortWithinPartitions(sort_key)
    out.write.mode("overwrite").parquet(dst)
    return n_out


def vacuum_snapshots(spark, snapshot_dir: str, keep_latest: int = 2) -> list[int]:
    """Retention-prune a versioned snapshot store (the `version=N`
    directories run_cdc_dimension_maintenance writes): delete every
    version except the newest `keep_latest`, returning the versions
    removed — the VACUUM half of the snapshot-store contract
    (Delta/Iceberg expire_snapshots), without which the store grows one
    full dimension copy per maintained batch forever.

    Listing and deletion go through the Hadoop FileSystem API (fsutil),
    so the pass works against the object-store/HDFS URIs a production
    snapshot store lives on. Readers are safe by construction: they pick
    the newest complete version directory, which is never in the delete
    set (keep_latest >= 1 enforced)."""
    import re

    from gtec_etl_spark.fsutil import delete_path, list_child_dirs

    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1")
    versions = sorted(
        int(m.group(1))
        for d in list_child_dirs(spark, snapshot_dir)
        if (m := re.fullmatch(r"version=(\d+)", d))
    )
    doomed = versions[:-keep_latest]
    for v in doomed:
        delete_path(spark, f"{snapshot_dir}/version={v}")
    return doomed


def z_value(x, y, bits: int = 8):
    """Morton (Z-order) interleave of two already-normalized non-negative
    integer columns in [0, 2^bits): x's bit i lands at output bit 2i+1,
    y's at 2i. A static 2*bits-term expression tree — pure JVM bit ops,
    exact on both engines (the SQL twin is z_value_sql)."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def z_value_sql(x: str, y: str, bits: int = 8) -> str:
    """ANSI-SQL twin of z_value (DuckDB-runnable)."""
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i + 1}) + ((({y} >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    x_key: str,
    y_key: str,
    x_bounds: tuple[int, int],
    y_bounds: tuple[int, int],
    bits: int = 8,
    bucket_bits: int = 4,
) -> None:
    """Z-order-clustered parquet layout: the multi-column data-skipping
    pass (Delta's OPTIMIZE ZORDER BY, Iceberg's sort-order rewrite)
    expressed as plain Spark. Both keys are normalized into [0, 2^bits)
    with a FIXED affine formula over caller-supplied bounds (catalog
    constants in production — same determinism argument as
    write_range_bucketed vs repartitionByRange), interleaved into a
    Morton code, and the top `bucket_bits` bits become the directory
    partition; files are sorted by the full z-value within partitions.

    Because a Morton prefix is a 2-D tile, EVERY bucket spans only
    2^-(bucket_bits/2) of each key's range — so a predicate on EITHER
    column prunes directories and row groups, which a single-column sort
    can only offer for its leading key. One shuffle on the bucket."""
    from pyspark.sql import functions as F

    (x_lo, x_hi), (y_lo, y_hi) = x_bounds, y_bounds
    # Integer-exact normalization (k5's fixed-formula discipline): no
    # float anywhere, so placement is bit-stable across runs and engines.
    xn = F.expr(f"CAST(({x_key} - {x_lo}) * {1 << bits} div {x_hi - x_lo + 1} AS BIGINT)")
    yn = F.expr(f"CAST(({y_key} - {y_lo}) * {1 << bits} div {y_hi - y_lo + 1} AS BIGINT)")
    z = z_value(xn, yn, bits)
    out = df.withColumn("zv", z).withColumn(
        "zbucket", F.shiftright(F.col("zv"), 2 * bits - bucket_bits)
    )
    (
        out.repartition(1 << bucket_bits, "zbucket")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(path)
    )


def write_hive_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned parquet write — the 100 TB fact-table layout
    (key=value directories per partition grain) that partition pruning
    and dynamic partition pruning read back. One sortWithinPartitions on
    the partition keys keeps each task's output to one file per grain it
    owns (no small-file explosion) without a global sort."""
    (
        df.sortWithinPartitions(*partition_cols)
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )


def overwrite_partitions_dynamic(
    spark, df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite — the incremental fact-table write
    (Hive/Delta `replaceWhere` shape): only the key=value grains the
    incoming frame actually CONTAINS are rewritten; every other grain's
    files are untouched. Spark's default ("static") overwrite would drop
    the whole table first — the classic data-loss foot-gun this wrapper
    exists to fence. The session conf is restored in try/finally so the
    override never leaks into the shared session."""
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        (
            df.sortWithinPartitions(*partition_cols)
            .write.partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set(conf_key, old)
