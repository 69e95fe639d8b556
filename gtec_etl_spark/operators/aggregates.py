"""Aggregation operators (SURVEY.md §2.5).

All are single-shuffle groupBy plans with map-side partial aggregation;
the mode picker adds one window over the grouped counts (no extra shuffle —
the window partitions by the same key the groupBy hashed on).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def mode_pick(df: DataFrame, group: str | list[str], value: str) -> DataFrame:
    """A4 representative-value mode with the reference's tie-break
    (ccmm/gtex/dna_extracts.py:49-53): highest count wins, ties broken by
    ascending value. Window row_number over the grouped counts.
    """
    group = [group] if isinstance(group, str) else list(group)
    counts = df.groupBy(*group, value).agg(F.count(F.lit(1)).alias("__n"))
    w = W.partitionBy(*group).orderBy(F.col("__n").desc(), F.col(value).asc())
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*group, F.col(value).alias("mode_value"), F.col("__n").alias("mode_count"))
    )


def variable_profile(df: DataFrame, group: str | list[str], value: str) -> DataFrame:
    """A5 var_report statistics (ccmm/dbgap/public_metadata.py:43-58,94-127):
    n, nulls, mean, median, min, max, sd, distinct_vals per variable group.
    Exact `median`/`countDistinct` for oracle matching; at 100 TB swap in
    `percentile_approx` / `approx_count_distinct` (same plan shape).
    """
    group = [group] if isinstance(group, str) else list(group)
    c = F.col(value)
    return df.groupBy(*group).agg(
        F.count(c).alias("n"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_null"),
        F.round(F.avg(c), 4).alias("mean_val"),
        F.round(F.median(c), 4).alias("median_val"),
        F.round(F.min(c), 4).alias("min_val"),
        F.round(F.max(c), 4).alias("max_val"),
        F.round(F.stddev_samp(c), 4).alias("sd_val"),
        F.countDistinct(c).alias("distinct_vals"),
    )


def enum_counts(df: DataFrame, group: str | list[str], value: str) -> DataFrame:
    """A5 enum value+count lists: per-group value histogram."""
    group = [group] if isinstance(group, str) else list(group)
    return df.groupBy(*group, value).agg(F.count(F.lit(1)).alias("n"))


def two_level_histogram(df: DataFrame, entity: str, parent: str) -> DataFrame:
    """A3 (ccmm/gtex/rna_extracts.py:13-46): count entities per parent, then
    histogram those counts. Two shuffles, both on small cardinalities after
    the first map-side combine."""
    per_parent = df.groupBy(parent).agg(F.count(entity).alias("n_children"))
    return per_parent.groupBy("n_children").agg(
        F.count(F.lit(1)).alias("n_parents")
    )


def group_collect(
    df: DataFrame, group: str | list[str], member: str
) -> DataFrame:
    """A1 consent-group style collect (bin/gtex_v7_to_dats.py:193-224):
    per group, member count and a deterministic (sorted) member list.
    The list is emitted as a comma-joined string so value-hash comparison
    against a SQL oracle (string_agg ORDER BY) is well-defined.
    """
    group = [group] if isinstance(group, str) else list(group)
    return df.groupBy(*group).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.concat_ws(",", F.sort_array(F.collect_list(member))).alias("members"),
    )


def count_assertion(
    actual: DataFrame, expected: DataFrame, key: str, actual_col: str, expected_col: str
) -> DataFrame:
    """A2 count reconciliation (gtex_v7_to_dats.py:216-219): join computed
    group sizes against declared sizes; rows returned are violations."""
    return (
        actual.join(expected, key)
        .filter(F.col(actual_col) != F.col(expected_col))
        .select(key, actual_col, expected_col)
    )


def found_counters(df: DataFrame, cond: Column, label: str = "found") -> DataFrame:
    """A7 found/not-found tallies as conditional aggregation."""
    return df.agg(
        F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{label}"),
        F.sum(F.when(~cond, 1).otherwise(0)).alias(f"n_not_{label}"),
    )


def top_k_per_group(
    df: DataFrame, group: str | list[str], order: list[Column], k: int
) -> DataFrame:
    """O5 top-k with deterministic tie-break via row_number window."""
    group = [group] if isinstance(group, str) else list(group)
    w = W.partitionBy(*group).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
