"""Skew-realism benchmark: Zipf-distributed join keys, salted vs plain.

`tools/make_scale_testdata.py` replicates keys UNIFORMLY, so the sf1
scale curves never stress the one thing that actually kills big joins at
100 TB: a handful of hot keys putting most of the shuffle on one task.
This tool closes that gap (r5 verdict item 7):

1. Generates a Zipf(s≈1.1)-skewed `events`-shaped fact table entirely in
   Spark (explode over a range — no driver-side loop) where the hottest
   user owns ~20-30% of all rows, plus a per-user dim table too large to
   auto-broadcast at the configured threshold.
2. Runs the SAME join+aggregate three ways and checks the integer
   aggregates (row count + value sum) agree exactly:
     a. plain sort-merge join, AQE skew handling OFF (the naive plan),
     b. plain join with AQE skewJoin ON (Spark's built-in remedy),
     c. `operators.scale.salted_join` with AQE skew OFF (our operator).
3. Prints one JSON line with wall times and the salted/plain + AQE/plain
   ratios, for PERF.md.

Timing protocol: everything runs in ONE session, fact/dim are
materialized and cached and counted first so generation cost never
pollutes join timing, and each plan is timed as the min of `--reps` runs
after one warm-up (min-of-N, as in bench.py, is robust to another JVM
stealing cores mid-run).

Usage: python tools/bench_skew.py [--rows 8000000] [--users 100000]
       [--zipf 1.1] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os

import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402


def build_tables(spark, n_rows: int, n_users: int, zipf_s: float):
    """Fact: (event_id, user_id, value) with user_id ~ Zipf(s) over ranks
    1..n_users. Dim: one row per user with a decode payload.

    The draw is a deterministic JVM-side mixture with an explicit,
    controllable head (a pure (n+1)^u Zipf tail gives only a ~6% hot key
    at n=100k — too mild to demonstrate straggler behavior): with
    probability `hot_share` the row goes to user 1; with 15% to users
    2..10; the rest map through the s→1 Zipf inverse CDF rank ≈ (n+1)^u.
    The ACHIEVED hot-key share is measured and reported, not assumed.
    """
    hot_share = 0.25
    zipf_rank = F.least(
        F.lit(n_users),
        F.floor(F.pow(F.lit(float(n_users + 1)), F.col("__u2"))).cast("long"),
    )
    fact = (
        spark.range(n_rows)
        .withColumn("__u", (F.pmod(F.xxhash64("id"), F.lit(1 << 40)))
                    / F.lit(float(1 << 40)))
        .withColumn("__u2", (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1 << 40)))
                    / F.lit(float(1 << 40)))
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("__u") < hot_share, F.lit(1))
            .when(
                F.col("__u") < hot_share + 0.15,
                2 + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(9)),
            )
            .otherwise(zipf_rank)
            .cast("long")
            .alias("user_id"),
            (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000))).alias("value"),
        )
    )
    dim = spark.range(1, n_users + 1).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("segment_"), F.pmod("id", F.lit(17)).cast("string")).alias(
            "segment"
        ),
        F.sha2(F.col("id").cast("string"), 256).alias("profile_blob"),
    )
    return fact, dim


def agg_plain(fact, dim):
    j = fact.join(dim, "user_id")
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum")
    )


def agg_salted(fact, dim, n_salts: int):
    from gtec_etl_spark.operators.scale import salted_join

    j = salted_join(fact, dim, "user_id", n_salts=n_salts)
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum")
    )


def run_timed(make_df, reps: int) -> tuple[float, tuple]:
    """Times `make_df()` end-to-end. A FRESH DataFrame per rep is load-
    bearing: re-collecting one Dataset object reuses its AQE-materialized
    shuffle query stages, so the 'join' would time at ~50ms regardless of
    plan."""
    rows = None
    times = []
    for i in range(reps + 1):  # first run is warm-up
        t0 = time.monotonic()
        got = tuple(
            sorted((r["segment"], r["n"], r["value_sum"]) for r in make_df().collect())
        )
        dt = time.monotonic() - t0
        if i > 0:
            times.append(dt)
        rows = got
    # min-of-N, same as bench.py: robust to external machine load (another
    # JVM stealing cores inflates individual runs 3-5x).
    return min(times), rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=8_000_000)
    ap.add_argument("--users", type=int, default=100_000)
    ap.add_argument("--zipf", type=float, default=1.1)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from gtec_etl_spark.session import get_spark

    spark = get_spark("bench-skew")
    # Force the real shuffle-join regime: at 100 TB the per-user dim does
    # NOT broadcast; emulate by dropping the auto threshold. AQE has its
    # OWN runtime broadcast threshold (adaptive.autoBroadcastJoinThreshold,
    # falling back to the static one) — disable it too, or AQE would
    # side-step the skew question entirely by broadcasting the 100k-row
    # dim at runtime and the three plans wouldn't be comparable.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    fact, dim = build_tables(spark, args.rows, args.users, args.zipf)
    fact = fact.persist()
    dim = dim.persist()
    n_fact = fact.count()
    dim.count()
    hot = (
        fact.groupBy("user_id").count().orderBy(F.desc("count")).limit(1).first()
    )
    hot_share = hot["count"] / n_fact

    def set_skew(on: bool) -> None:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(on).lower())
        # At this deliberately-local scale the hot partition (~85MB) is
        # under AQE's default 256MB skew threshold, so with defaults the
        # skew optimizer never fires and 'AQE on' would measure only AQE
        # overhead. Scale the thresholds down proportionally so AQE sees
        # the same RELATIVE skew a 100TB run's 256MB+ partitions would —
        # that's the regime the comparison is about.
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

    results = {}
    set_skew(False)
    t_plain, r_plain = run_timed(lambda: agg_plain(fact, dim), args.reps)
    results["plain_noaqe_skew_s"] = round(t_plain, 3)

    set_skew(True)
    t_aqe, r_aqe = run_timed(lambda: agg_plain(fact, dim), args.reps)
    results["plain_aqe_skewjoin_s"] = round(t_aqe, 3)

    set_skew(False)
    t_salt, r_salt = run_timed(
        lambda: agg_salted(fact, dim, args.salts), args.reps
    )
    results["salted_s"] = round(t_salt, 3)

    assert r_plain == r_aqe == r_salt, "plans disagree — salting bug"

    out = {
        "rows": n_fact,
        "users": args.users,
        "hot_key_share": round(hot_share, 4),
        "n_salts": args.salts,
        **results,
        "salted_vs_plain": round(t_plain / t_salt, 2),
        "aqe_vs_plain": round(t_plain / t_aqe, 2),
        "results_identical": True,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
