"""Join operators re-expressing the reference's hash-index lookups as
declarative Spark joins (SURVEY.md §2.4).

Scale notes: Catalyst picks broadcast vs sort-merge; dimension-sized sides
are wrapped in F.broadcast explicitly so the plan is stable at 100 TB fact
scale. Integrity checks (dangling FK, merge conflict) are expressed as
DataFrames so they stay distributed — the caller decides whether an empty
check is an assertion (fail-fast) or a report.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gtec_etl_spark.functions.sqltext import ident, lit


def derived_key_join(
    fact: DataFrame,
    dim: DataFrame,
    pattern: str,
    source_col: str,
    key_col: str,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1 (ccmm/gtex/parsers/portal_files.py:133-146): derive a foreign key
    from a string column via regex, then equi-join.

    The reference parses the GTEx subject id out of each sample id with
    `^((GTEX|K)-[^-]+)` and hash-looks-up the subject; here the derived key
    is a codegen'd `regexp_extract` and the lookup a (broadcast) join.
    """
    derived = fact.withColumn(key_col, F.regexp_extract(F.col(source_col), pattern, 1))
    d = F.broadcast(dim) if broadcast_dim else dim
    return derived.join(d, key_col, how)


def dangling_keys(fact: DataFrame, dim: DataFrame, key: str | list[str]) -> DataFrame:
    """Fatal-on-dangling-FK semantics (portal_files.py:144-146) as a
    left-anti join; empty result == constraint holds."""
    return fact.join(dim, key, "left_anti")


def reconcile_ids(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """J9 `cross_check_ids` (bin/gtex_v7_to_dats.py:42-94): count ids found
    and not found in each direction. ONE full-outer join over the distinct
    key sets computes all four counters in a single pass (one shuffle),
    instead of four separate semi/anti-join jobs.

    Under distinct-set semantics (the reference dedups ids before counting,
    lines 60-64/75-78) left_found and right_found are both |L ∩ R| and thus
    always equal; both are kept because the API mirrors the reference's
    bidirectional report format, where each direction's log line repeats
    the found count."""
    lf = left.select(key).distinct().withColumn("__l", F.lit(1))
    rf = right.select(key).distinct().withColumn("__r", F.lit(1))
    both = lf.join(rf, key, "full_outer")
    in_l, in_r = F.col("__l").isNotNull(), F.col("__r").isNotNull()
    return both.agg(
        F.sum(F.when(in_l & in_r, 1).otherwise(0)).alias("left_found"),
        F.sum(F.when(in_l & ~in_r, 1).otherwise(0)).alias("left_missing"),
        F.sum(F.when(in_r & in_l, 1).otherwise(0)).alias("right_found"),
        F.sum(F.when(in_r & ~in_l, 1).otherwise(0)).alias("right_missing"),
    )


def conflict_checked_merge(
    base: DataFrame,
    extra: DataFrame,
    key: str,
    how: str = "left",
) -> tuple[DataFrame, DataFrame]:
    """J2/J3 `add_properties` merge with conflict assertion
    (ccmm/gtex/dna_extracts.py:418-443; ccmm/topmed/subjects.py:196-257).

    Columns present on both sides must agree where both are non-null — the
    reference fatals on unequal overlap. Returns (merged, conflicts):
    merged coalesces base-over-extra for overlapping columns; conflicts
    holds one row per (key, column) disagreement.
    """
    k = ident(key)
    rest = [c for c in extra.columns if c != key]
    overlap = [c for c in base.columns if c in rest]
    ext = extra.selectExpr(k, *[f"{ident(c)} AS {ident('__x_' + c)}" for c in rest])
    joined = base.join(ext, key, how)

    conflict_cols = []
    for c in overlap:
        b, x = f"CAST({ident(c)} AS STRING)", f"CAST({ident('__x_' + c)} AS STRING)"
        conflict_cols.append(
            f"CASE WHEN {b} IS NOT NULL AND {x} IS NOT NULL AND {b} != {x} THEN"
            f" named_struct('column', {lit(c)}, 'base_value', {b}, 'extra_value', {x})"
            " END"
        )
    if conflict_cols:
        conflicts = joined.selectExpr(
            k, f"inline(filter(array({', '.join(conflict_cols)}), c -> c IS NOT NULL))"
        )
    else:
        conflicts = joined.sparkSession.createDataFrame(
            [], f"{k} string, column string, base_value string, extra_value string"
        )

    merged = joined.selectExpr(
        k,
        *[
            f"coalesce({ident(c)}, {ident('__x_' + c)}) AS {ident(c)}"
            if c in overlap
            else ident(c)
            for c in base.columns
            if c != key
        ],
        *[f"{ident('__x_' + c)} AS {ident(c)}" for c in rest if c not in base.columns],
    )
    return merged, conflicts


def anti_filter(df: DataFrame, drop_if_in: DataFrame, key: str | list[str]) -> DataFrame:
    """P7 substudy exclusion (ccmm/dbgap/public_metadata.py:279-299)."""
    return df.join(drop_if_in, key, "left_anti")


def asof_join(
    fact: DataFrame,
    events: DataFrame,
    fact_key: str,
    event_key: str,
    fact_time: str,
    event_time: str,
    value_cols: list[str],
    row_tag: str | None = None,
) -> DataFrame:
    """As-of join (latest event at-or-before the fact timestamp).

    Not in the reference (SURVEY.md §2.4 notes its absence) — provided as a
    first-class operator. Implemented as equi-join on key + ONE struct
    arg-max over the qualifying events: one shuffle on the key, no window
    materialization. At scale the equi-join prunes to matching keys before
    the time filter, and AQE handles skewed keys.

    Row-consistent and duplicate-preserving: the winner is a single struct
    pick (per-column max_by could mix columns from different events on
    timestamp ties), grouped on a per-physical-row id so identical fact
    rows each survive. Ties break by (event time, value_cols) — total as
    long as value_cols include a unique id.

    Caveat (same class as salted_join's rand() note): the DEFAULT row tag
    is monotonically_increasing_id, which is nondeterministic across
    RECOMPUTATIONS — if a lost-shuffle retry or speculative re-execution
    replays a NONDETERMINISTIC upstream of `fact`, duplicate fact rows can
    split or merge. Deterministic upstreams (file scans, pure transforms —
    every use in this package) are unaffected. For a nondeterministic
    upstream, pass `row_tag`: the name of an existing stable
    unique-per-row column (a primary key) — grouping then keys on real
    data, immune to recomputation — or persist/checkpoint `fact` first.
    """
    if row_tag is not None:
        tagged = fact.withColumn("__rowid", F.col(row_tag))
    else:
        tagged = fact.withColumn("__rowid", F.monotonically_increasing_id())
    ev = events.select(
        F.col(event_key).alias("__k"),
        F.col(event_time).alias("__t"),
        *[F.col(c) for c in value_cols],
    )
    joined = tagged.join(
        ev,
        (F.col(fact_key) == F.col("__k")) & (F.col("__t") <= F.col(fact_time)),
        "left",
    )
    payload = F.struct(F.col("__t").alias("asof_time"), *[F.col(c) for c in value_cols])
    order = F.struct(F.col("__t"), *[F.col(c) for c in value_cols])
    picked = joined.groupBy("__rowid", *[F.col(c) for c in fact.columns]).agg(
        F.max_by(payload, order).alias("__pick")
    )
    return picked.select(
        *[F.col(c) for c in fact.columns],
        *[F.col(f"__pick.{c}").alias(c) for c in value_cols],
        F.col("__pick.asof_time").alias("asof_time"),
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    bucket_width: int,
    partition_key: str | None = None,
) -> DataFrame:
    """Interval-interval overlap join (half-open [lo, hi) semantics) via
    shared bucketization — the GenomeLocation join shape (SURVEY.md §1.2).

    Both sides explode into the fixed-width buckets their interval covers;
    candidates equi-join on (partition_key, bucket); the exact overlap
    predicate re-filters; each overlapping pair is kept exactly once by
    retaining only the FIRST bucket the pair shares (no dedup shuffle).
    Turns the O(n*m) theta join into an equi-join whose cost tracks actual
    overlap density — the standard genomic/temporal interval plan.
    """
    def burst(df: DataFrame, lo: str, hi: str) -> DataFrame:
        # Empty intervals ([x, x)) cover nothing and must match nothing —
        # the raw overlap predicate alone would wrongly treat them as points.
        return df.filter(F.col(lo) < F.col(hi)).withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    # floor (not cast-truncate) so negative coordinates
                    # land in the right bucket; hi is exclusive, so the
                    # last covered bucket is ceil(hi/w)-1 — correct for
                    # fractional bounds too ((hi-1)/w under-counts when
                    # hi isn't an integer multiple boundary).
                    F.floor(F.col(lo) / bucket_width).cast("long"),
                    (F.ceil(F.col(hi) / bucket_width) - 1).cast("long"),
                )
            ),
        )

    keys = ["__bucket"] + ([partition_key] if partition_key else [])
    joined = burst(a, a_lo, a_hi).join(burst(b, b_lo, b_hi), keys)
    overlap = (F.col(a_lo) < F.col(b_hi)) & (F.col(b_lo) < F.col(a_hi))
    first_shared = F.greatest(
        F.floor(F.col(a_lo) / bucket_width).cast("long"),
        F.floor(F.col(b_lo) / bucket_width).cast("long"),
    )
    return (
        joined.filter(overlap)
        .filter(F.col("__bucket") == first_shared)
        .drop("__bucket")
    )


def bucket_range_join(
    fact: DataFrame,
    fact_point: Column,
    ranges: DataFrame,
    lo: str,
    hi: str,
    bucket_width: int,
) -> DataFrame:
    """Range join (point-in-interval) via bucketization: explode each range
    into covered buckets, equi-join on bucket, re-filter exactly. Turns an
    O(n*m) theta join into an equi-join — the standard scale path for
    genomic-interval joins (GenomeLocation, SURVEY.md §1.2).
    """
    exploded = ranges.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                # floor, not cast-truncate: negative coordinates bucket
                # correctly; the hi/w bucket may over-cover and the exact
                # re-filter below removes any false candidates.
                F.floor(F.col(lo) / bucket_width).cast("long"),
                F.floor(F.col(hi) / bucket_width).cast("long"),
            )
        ),
    )
    f = fact.withColumn(
        "__bucket", F.floor(fact_point / bucket_width).cast("long")
    ).withColumn("__point", fact_point)
    return (
        f.join(exploded, "__bucket")
        .filter((F.col("__point") >= F.col(lo)) & (F.col("__point") < F.col(hi)))
        .drop("__bucket", "__point")
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    tolerance_us: int,
    direction: str = "nearest",
    how: str = "left",
) -> DataFrame:
    """As-of join with direction + tolerance (pandas merge_asof parity):
    per left row, the single closest right row with the same key whose
    timestamp is at-or-before ('backward'), at-or-after ('forward'), or
    either side ('nearest') of the left timestamp, within tolerance_us
    microseconds. Unlike independent per-column max_by picks, ONE struct
    arg-min selects the row, so the returned value columns are always
    mutually consistent — ties break by (distance, right time,
    value_cols), total as long as value_cols include a unique id.

    merge_asof semantics are preserved exactly: every left row survives —
    duplicates included (the winner is picked per physical row, not per
    distinct value combination) — and rows with no right match within
    tolerance come back with NULL asof columns (how='left', the default;
    how='inner' drops them).

    Plan: equi-join on the key prunes candidates, the tolerance predicate
    bounds fan-out, one groupBy on the left row picks the winner — one
    shuffle on the key, no window materialization, AQE splits hot keys.

    Caveat: the physical-row tag is monotonically_increasing_id — see
    asof_join's note on retry stability over nondeterministic upstreams
    (persist `left` first in that case).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    if how not in ("left", "inner"):
        raise ValueError(f"unknown how {how!r}")
    # Physical-row identity: group back on this, not the left columns,
    # so identical left rows don't collapse into one output row.
    tagged = left.withColumn("__rowid", F.monotonically_increasing_id())
    ev = right.select(
        F.col(key).alias("__k"),
        F.col(right_time).alias("__t"),
        *[F.col(c) for c in value_cols],
    )
    delta = F.unix_micros(F.col(left_time)) - F.unix_micros(F.col("__t"))
    dist = F.abs(delta)
    cond = (F.col(key) == F.col("__k")) & (dist <= F.lit(tolerance_us))
    if direction == "backward":
        cond = cond & (delta >= 0)
    elif direction == "forward":
        cond = cond & (delta <= 0)
    joined = tagged.join(ev, cond, "left")
    payload = F.struct(F.col("__t").alias("asof_t"), *[F.col(c) for c in value_cols])
    order = F.struct(dist.alias("d"), F.col("__t"), *[F.col(c) for c in value_cols])
    picked = (
        joined.groupBy("__rowid", *[F.col(c) for c in left.columns])
        .agg(F.min_by(payload, order).alias("__pick"))
    )
    out = picked.select(
        *[F.col(c) for c in left.columns],
        F.col("__pick.asof_t").alias("asof_t"),
        *[F.col(f"__pick.{c}").alias(c) for c in value_cols],
    ).withColumn(
        "asof_dist_us",
        F.abs(F.unix_micros(F.col(left_time)) - F.unix_micros(F.col("asof_t"))),
    )
    if how == "inner":
        out = out.filter(F.col("asof_t").isNotNull())
    return out
