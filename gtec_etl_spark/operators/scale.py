"""Scale-path join strategies: salted joins for skewed keys and bucketed
tables for shuffle-free co-located joins.

Neither exists in the reference (single-process hash lookups, SURVEY.md
§2.4); both are required engine features at 100 TB:

- **Salting** handles the case AQE's skew-join splitting can't: a skewed
  *build* side that must broadcast-explode. The fact side gets a random
  salt in [0, n); the dim side is exploded across all n salts; the join key
  becomes (key, salt). Results are identical to the plain join — tested —
  while the hot key's rows spread over n tasks.
- **Bucketing** pre-shuffles tables into persisted hash buckets
  (`bucketBy(n, key).sortBy(key)`), so repeated joins/aggregations on the
  bucket key run with NO exchange — the plan-level guarantee the tests
  assert via the absence of Exchange nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Below this estimated input size the fan-out guard stays out of the way:
# when a fan-out's post-explode work collapses into map-side partial
# aggregation, a sub-2 MB scan pays more for the repartition's fixed cost
# (extra stage + one task per core) than it saves. Hash-heavy fan-outs
# (a hash per exploded element) are the opposite, over a second of
# single-core map work even below a megabyte, so such call sites pass
# min_bytes=0 explicitly. At 100 TB the floor is dead code — any real scan
# is orders of magnitude above it and the guard no-ops on partition count
# instead.
FANOUT_MIN_BYTES = 2 * 1024 * 1024


def cpu_fanout_repartition(
    df: DataFrame, key_col: str = "doc_id", min_bytes: int = FANOUT_MIN_BYTES
) -> DataFrame:
    """Repartition up to default parallelism when the scan is narrower —
    the guard for CPU-heavy pre-shuffle work (explodes, per-row scoring,
    decode) whose cost is pinned to the SCAN's partition count, which
    Spark sizes for I/O bytes (maxPartitionBytes), not downstream CPU.

    A real 100 TB scan already has orders of magnitude more partitions
    than cores, so in production the branch is a no-op; it only fires
    when a compact file would otherwise pin a fan-out to a couple of
    cores. Keyed on the id column so downstream per-id work is already
    co-located.

    The guard trips on PARTITION COUNT, but scan partitions are BYTE
    SLICES, not row groups — and a parquet ROW GROUP is the atomic read
    unit: every slice that doesn't contain a row group's midpoint reads
    ZERO rows. A compact single-file input (one ~128 MB row group)
    sliced into exactly `par` pieces reports par partitions while all
    rows sit in one task. Spark's slice size is min(maxPartitionBytes,
    max(openCost, bytes/par)), so in the entire fake-slice regime
    (total < par x maxPartitionBytes) the partition count sits AT par,
    never above it; the `< 2 * par` threshold therefore covers the regime
    exactly, while any healthy scan big enough to have real row-group
    parallelism (total >= par x maxPartitionBytes) reports > 2x par
    partitions only when it truly has them — and at that size the extra
    exchange is bounded by 2 x par x maxPartitionBytes (~8 GB at 32
    cores), noise against the fan-out it unblocks.

    BYTES FLOOR: the partition-count trigger alone taxes TINY scans — a
    sub-megabyte input is also "narrower than 2*par", but its whole
    fan-out is sub-second on one core, so the exchange is pure overhead.
    Skip the guard when the optimizer's size estimate for the input is
    under `min_bytes` (0 disables the floor). The fake-slice regime the
    guard exists for starts at real data volumes (tens of MB of compact
    parquet fanning out on 1-2 cores), far above the floor, and a 100 TB
    scan never consults it."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if min_bytes > 0:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if est < min_bytes:
            return df
    if df.rdd.getNumPartitions() < 2 * par:
        df = df.repartition(par, F.col(key_col))
    return df


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on `key` with the fact side salted across `n_salts`
    partitions per key value. Semantics identical to fact.join(dim, key)
    for fact-preserving join types ONLY: with how='right'/'full_outer' an
    unmatched dim row would survive once per salt (n_salts duplicates), so
    those are rejected.

    The salt must be deterministic per row for retries — derive it from a
    stable row hash rather than rand() (a failed task re-hashing to a
    different salt would double/drop rows under speculative execution).
    """
    if how not in (
        "inner",
        "left",
        "left_outer",
        "leftouter",
        "left_semi",
        "leftsemi",
        "semi",
        "left_anti",
        "leftanti",
        "anti",
    ):
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched dim rows "
            f"once per salt; only fact-preserving joins are supported"
        )
    if "__salt" in fact.columns or "__salt" in dim.columns:
        raise ValueError("salted_join: input already has a __salt column")
    fact_cols = fact.columns
    salted_fact = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact_cols]), F.lit(n_salts)),
    )
    exploded_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_fact.join(exploded_dim, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int = 16, sort: bool = True
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table. Joins and
    aggregations on `key` between tables bucketed the same way need no
    shuffle."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # A fresh (in-memory derby) metastore forgets tables but their
    # warehouse directories survive; clear the orphan location too.
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table_name.lower()}", ignore_errors=True)

    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on the bucket key. The merge hint
    steers Catalyst to the bucket-aware sort-merge join (at test scale the
    planner would otherwise broadcast and ignore bucketing); matching
    bucket specs then yield a ZERO-exchange plan."""
    return spark.table(left_table).hint("merge").join(spark.table(right_table), key)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan — the
    metric the bucketing tests assert on."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def distributed_prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "cum",
    bucket: int = 4096,
) -> DataFrame:
    """Inclusive running sum of `weight_col` in `order_col` order, computed
    WITHOUT a global single-partition window.

    A naive `sum(w) OVER (ORDER BY o)` is the textbook non-scalable shape:
    Spark plans one un-partitioned sort window, so a single task streams
    the entire dataset. This is the classic hierarchical (two-level
    up-sweep / down-sweep) prefix sum instead:

      level 1: b1 = o div bucket      -> per-bucket totals   (N/bucket rows)
      level 2: b2 = b1 div bucket     -> per-superbucket     (N/bucket^2 rows)
      offsets: one ordered window over the N/bucket^2 spine (tiny), then a
               window PARTITIONED BY b2 over level 1 (parallel), then a
               window PARTITIONED BY b1 over the rows (parallel).

    At 10^11 rows with bucket=4096 the only unpartitioned window sees
    ~6000 rows; every row-scale pass is hash-partitioned. Adding a third
    level bounds the spine by N/bucket^3 if ever needed. All arithmetic is
    integer-exact, so the result is bit-identical to the naive window (and
    to any other engine's) — asserted by the PPS oracle parity.

    Requires `order_col` to be a non-negative integral key; ordering is by
    its numeric value (b1 = o div bucket is order-contiguous only then).
    """
    o, w = F.col(order_col), F.col(weight_col)
    rows = df.withColumn("_b1", o.cast("long") - (o.cast("long") % bucket))
    l1 = rows.groupBy("_b1").agg(F.sum(w).alias("_s1"))
    l1 = l1.withColumn("_b2", F.col("_b1") - (F.col("_b1") % (bucket * bucket)))
    l2 = l1.groupBy("_b2").agg(F.sum("_s1").alias("_s2"))

    from pyspark.sql import Window

    w2 = Window.orderBy("_b2").rowsBetween(Window.unboundedPreceding, -1)
    l2 = l2.withColumn("_off2", F.coalesce(F.sum("_s2").over(w2), F.lit(0)))
    w1 = (
        Window.partitionBy("_b2")
        .orderBy("_b1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    l1 = (
        l1.join(l2.select("_b2", "_off2"), "_b2")
        .withColumn("_off1", F.col("_off2") + F.coalesce(F.sum("_s1").over(w1), F.lit(0)))
        .select("_b1", "_off1")
    )
    w0 = (
        Window.partitionBy("_b1")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rows.join(l1, "_b1")
        .withColumn(out_col, F.col("_off1") + F.sum(w).over(w0))
        .drop("_b1", "_off1")
    )
