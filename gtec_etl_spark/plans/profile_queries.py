"""Variable-profiling query pack (A5 var_report statistics, SURVEY.md §2.5).

The reference *consumes* per-variable statistics from dbGaP var_report XML
(ccmm/dbgap/public_metadata.py:43-58,94-127); the engine must *produce* them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.operators import aggregates as agg
from gtec_etl_spark.plans.registry import query


@query(
    "prof_event_value_stats",
    oracle="""
    SELECT event_type,
           count("value")                                AS n,
           CAST(sum(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           round(avg("value"), 4)                        AS mean_val,
           round(median("value"), 4)                     AS median_val,
           round(min("value"), 4)                        AS min_val,
           round(max("value"), 4)                        AS max_val,
           round(stddev_samp("value"), 4)                AS sd_val,
           count(DISTINCT "value")                       AS distinct_vals
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("profile",),
)
def prof_event_value_stats(spark, sf_dir):
    """A5 var_report generation: n/nulls/mean/median/min/max/sd/distinct per
    variable. Exact median + countDistinct for the oracle; at 100 TB the
    same plan swaps in percentile_approx/approx_count_distinct."""
    ev = catalog.table(spark, sf_dir, "events")
    return agg.variable_profile(ev, "event_type", "value").orderBy("event_type")


@query(
    "prof_enum_value_counts",
    oracle="""
    SELECT o_orderpriority AS code, count(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY code
    """,
    tags=("profile",),
)
def prof_enum_value_counts(spark, sf_dir):
    """A5 enum value+count list (the var_report <enum> section)."""
    orders = catalog.table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("code"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("code")
    )


@query(
    "prof_rollup_customers",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS program, coalesce(n_name, 'ALL') AS study,
           count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY program, study
    """,
    tags=("profile", "rollup"),
)
def prof_rollup_customers(spark, sf_dir):
    """Hierarchical rollup (region→nation→total) — richer profiling than the
    reference (SURVEY.md §2.5 notes no grouping sets), via native rollup()."""
    t = catalog.load_tables(spark, sf_dir)
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("program"),
            F.coalesce("n_name", F.lit("ALL")).alias("study"),
            "n_customers",
            "total_balance",
        )
        .orderBy("program", "study")
    )


@query(
    "prof_mode_median_synthesis",
    oracle="""
    WITH modes AS (
      SELECT o_custkey, mode_value FROM (
        SELECT o_custkey, o_orderpriority AS mode_value, count(*) AS n,
               row_number() OVER (
                 PARTITION BY o_custkey ORDER BY count(*) DESC, o_orderpriority ASC
               ) AS rn
        FROM orders GROUP BY o_custkey, o_orderpriority
      ) WHERE rn = 1
    ),
    medians AS (
      SELECT o_custkey, round(median(o_totalprice), 4) AS median_price
      FROM orders GROUP BY o_custkey
    )
    SELECT m.o_custkey AS subject_id, m.mode_value AS representative_priority,
           d.median_price AS representative_price
    FROM modes m JOIN medians d ON m.o_custkey = d.o_custkey
    ORDER BY subject_id
    """,
    tags=("profile", "synthesis"),
)
def prof_mode_median_synthesis(spark, sf_dir):
    """A4 synthetic-record synthesis (ccmm/topmed/subjects.py:157-184): per
    subject pick the mode of a categorical variable (count desc, value asc
    tie-break) and the exact median of a numeric one — the privacy-safe
    representative-record path."""
    orders = catalog.table(spark, sf_dir, "orders")
    modes = agg.mode_pick(orders, "o_custkey", "o_orderpriority").select(
        "o_custkey", F.col("mode_value").alias("representative_priority")
    )
    medians = orders.groupBy("o_custkey").agg(
        F.round(F.median("o_totalprice"), 4).alias("representative_price")
    )
    return (
        modes.join(medians, "o_custkey")
        .select(
            F.col("o_custkey").alias("subject_id"),
            "representative_priority",
            "representative_price",
        )
        .orderBy("subject_id")
    )


EQD_BUCKETS = 8


@query(
    "prof_equidepth_histogram",
    oracle=f"""
    WITH t AS (
      SELECT o_totalprice,
             ntile({EQD_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
               AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM t GROUP BY bucket ORDER BY bucket
    """,
    tags=("profile", "spec-anchor"),
)
def prof_equidepth_histogram(spark, sf_dir):
    """Equi-depth histogram of order totals: {EQD_BUCKETS} equal-count
    buckets with their value boundaries — the statistics object a
    cost-based optimizer and a data-profiling report both want (equal
    WIDTH histograms lie under skew; equal DEPTH adapts to it).

    Determinism: ntile's frame is totally ordered by (value, o_orderkey),
    so bucket membership is identical cross-engine even on duplicate
    values. Plan: one global-sort window — kept deliberately as the
    ntile-semantics SPEC at fixture scale (the q50_rfm_scores
    precedent); the production twin with the IDENTICAL output shape is
    prof_equidepth_scaled below (histogram + hierarchical prefix sum +
    broadcast rank-boundary joins — no unpartitioned row-scale
    window)."""
    from pyspark.sql import Window

    orders = catalog.table(spark, sf_dir, "orders")
    t = orders.select(
        "o_totalprice",
        F.ntile(EQD_BUCKETS)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("bucket"),
    )
    return (
        t.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "prof_equidepth_scaled",
    oracle=f"""
    WITH t AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             ntile({EQD_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
               AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(v) / 100.0, 4) AS lo,
           round(max(v) / 100.0, 4) AS hi
    FROM t GROUP BY bucket ORDER BY bucket
    """,
    tags=("profile", "scale"),
)
def prof_equidepth_scaled(spark, sf_dir):
    """Equi-depth histogram at 100 TB — prof_equidepth_histogram's
    same-output-shape production twin (VERDICT r12 #4; the
    q50_rfm_scores / q50_rfm_scaled pattern). The spec query's global
    ntile window streams every row through ONE task; this twin never
    materializes a per-row bucket at all:

    - ntile's bucket boundaries are closed-form in (N, bucket index):
      bucket i covers global ranks ((i-1)*(N div B) + least(i-1, N%B)
      + 1) .. (i*(N div B) + least(i, N%B)) — so n_rows needs no data
      pass, and lo/hi only need VALUE-AT-RANK for 2*{EQD_BUCKETS}
      ranks.
    - Ties broken by o_orderkey never change the VALUE at a given rank
      (equal values are adjacent in the total order), so value-at-rank
      is answerable from the integer-cents VALUE HISTOGRAM alone: the
      unique v with cum_before < rank <= cum_inclusive.
    - cum comes from distributed_prefix_sum (operators/scale.py) — the
      hierarchical up/down-sweep whose only unpartitioned window sees
      ~|distinct|/4096² rows — and the {EQD_BUCKETS}-row boundary spine
      broadcast-joins against it (BroadcastNestedLoop over
      |distinct| x {EQD_BUCKETS}, each histogram row checked against a
      handful of rank literals).

    Output identical to the spec query (bucket, n_rows, lo, hi) —
    integer-cents quantization makes lo/hi bit-exact cross-engine (the
    prof_exact_median_scaled precedent); the oracle runs the literal
    ntile spec on the same cents and must hash-match, which is the
    whole point: same answer, scalable plan."""
    from gtec_etl_spark.operators.scale import distributed_prefix_sum

    orders = catalog.table(spark, sf_dir, "orders")
    s = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("v")
    )
    # The histogram is referenced several times downstream (prefix-sum
    # levels, total, rank selection) — without materialization each
    # reference re-runs the corpus scan + aggregate (the executed plan
    # showed one parquet scan PER reference). One value-domain-bounded
    # checkpoint makes the corpus pass happen exactly once.
    hist = (
        s.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    cum = distributed_prefix_sum(hist, "v", "c", out_col="cum")
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    b = EQD_BUCKETS
    spine = (
        spark.range(1, b + 1)
        .select(F.col("id").cast("long").alias("bucket"))
        .crossJoin(F.broadcast(tot))  # B rows x 1-row global count
        .select(
            "bucket",
            F.expr(
                f"(bucket - 1) * (n div {b}) + least(bucket - 1, n % {b}) + 1"
            ).alias("s_rank"),
            F.expr(f"bucket * (n div {b}) + least(bucket, n % {b})").alias(
                "e_rank"
            ),
        )
    )
    lo = cum.join(
        F.broadcast(spine),
        (F.col("cum") - F.col("c") < F.col("s_rank"))
        & (F.col("s_rank") <= F.col("cum")),
    ).select("bucket", "s_rank", "e_rank", F.col("v").alias("lo_v"))
    hi = cum.join(
        F.broadcast(spine.select("bucket", "e_rank")),
        (F.col("cum") - F.col("c") < F.col("e_rank"))
        & (F.col("e_rank") <= F.col("cum")),
    ).select("bucket", F.col("v").alias("hi_v"))
    return (
        lo.join(hi, "bucket")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            (F.col("e_rank") - F.col("s_rank") + 1)
            .cast("long")
            .alias("n_rows"),
            F.round(F.col("lo_v") / 100.0, 4).alias("lo"),
            F.round(F.col("hi_v") / 100.0, 4).alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Shannon entropy per profiled enum column

ENTROPY_COLS = (
    ("documents", "source"),
    ("documents", "lang"),
    ("events", "event_type"),
    ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"),
)


def _entropy_oracle() -> str:
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT '{t}' AS table_name, '{c}' AS column_name,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(floor(ln(sum(n)) * 1000000 + 0.5) AS BIGINT)
             - CAST(sum(n * CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               // CAST(sum(n) AS BIGINT) AS entropy_micro_nats
    FROM (SELECT {c} AS v, CAST(count(*) AS BIGINT) AS n FROM {t} GROUP BY 1)"""
        for t, c in ENTROPY_COLS
    )
    return f"""
    SELECT * FROM (
{arms}
    ) ORDER BY table_name, column_name
    """


@query("prof_column_entropy", oracle=_entropy_oracle(), tags=("profile",))
def prof_column_entropy(spark, sf_dir):
    """Column-level Shannon entropy (micro-nats) for the profiled enum
    columns — the column-selectivity statistic a data-profiling report and
    a cost model both read (H=0 flags a constant column; H=ln(n_distinct)
    flags a uniform key). Identity used: H = ln(N) - (1/N) * sum(c*ln(c)),
    so ln only ever sees integer COUNT arguments, each quantized to
    micro-nats on sight (the tfidf/KL discipline; guard-tested in
    test_float_guards) and everything downstream is integer arithmetic.
    Per column: one keyed groupBy with map-side combine collapsing the
    corpus to |domain| rows, then a 1-row fold — the union of five such
    profiles never shuffles row-scale data twice.
    """

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast("long")

    out = None
    for t, c in ENTROPY_COLS:
        counts = (
            catalog.table(spark, sf_dir, t)
            .groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        prof = counts.agg(
            F.lit(t).alias("table_name"),
            F.lit(c).alias("column_name"),
            F.sum("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            (
                qln(F.sum("n"))
                - F.expr("sum(n * " + "CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) div sum(n)")
            ).alias("entropy_micro_nats"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out.orderBy("table_name", "column_name")


# ---------------------------------------------------------------------------
# Join-cardinality estimation from bucketed key histograms

JCE_B = 64


def _join_card_oracle() -> str:
    from gtec_etl_spark.functions.hashing import hash60_sql

    ho = hash60_sql("CAST(o_orderkey AS VARCHAR)")
    hl = hash60_sql("CAST(l_orderkey AS VARCHAR)")
    return f"""
    WITH ob AS (
      SELECT {ho} % {JCE_B} AS b,
             CAST(count(*) AS BIGINT) AS na,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS da
      FROM orders GROUP BY 1),
    lb AS (
      SELECT {hl} % {JCE_B} AS b,
             CAST(count(*) AS BIGINT) AS nb,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS db
      FROM lineitem GROUP BY 1),
    est AS (
      SELECT CAST(sum(na * nb // greatest(da, db)) AS BIGINT) AS est_rows
      FROM ob JOIN lb USING (b)),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_rows
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    SELECT {JCE_B} AS n_buckets, est_rows, exact_rows,
           abs(est_rows - exact_rows) * 10000 // exact_rows AS err_bp
    FROM est, exact
    """


@query("prof_join_cardinality", oracle=_join_card_oracle(), tags=("profile",))
def prof_join_cardinality(spark, sf_dir):
    """Equi-join cardinality estimation from bucketed key histograms — the
    statistic a cost-based planner consults before picking a join strategy
    at 100 TB (run the cheap per-table histogram pass, NOT the join). Per
    side: one keyed groupBy over {JCE_B} hash buckets collecting (rows,
    distinct keys); the estimate is the textbook per-bucket containment
    formula sum(na*nb / max(da, db)) under within-bucket uniformity, all
    integer arithmetic on the shared 60-bit hash so both engines bucket
    identically. The exact join count rides alongside as the validation
    column (it IS the expensive path the estimator exists to avoid — at
    scale you'd drop it), with the error in basis points.
    """
    from gtec_etl_spark.functions.hashing import hash60

    orders = catalog.table(spark, sf_dir, "orders")
    lineitem = catalog.table(spark, sf_dir, "lineitem")
    ob = (
        orders.groupBy(
            (hash60(F.col("o_orderkey").cast("string")) % JCE_B).alias("b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("na"),
            F.count_distinct("o_orderkey").cast("long").alias("da"),
        )
    )
    lb = (
        lineitem.groupBy(
            (hash60(F.col("l_orderkey").cast("string")) % JCE_B).alias("b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.count_distinct("l_orderkey").cast("long").alias("db"),
        )
    )
    est = (
        ob.join(lb, "b")
        .agg(
            F.sum(F.expr("na * nb div greatest(da, db)"))
            .cast("long")
            .alias("est_rows")
        )
    )
    exact = (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_rows"))
    )
    return (
        est.crossJoin(exact)
        .select(
            F.lit(JCE_B).cast("long").alias("n_buckets"),
            "est_rows",
            "exact_rows",
            F.expr("abs(est_rows - exact_rows) * 10000 div exact_rows").alias(
                "err_bp"
            ),
        )
    )


def _skew_branch_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{col}' AS key_col,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           CAST((SELECT sum(c) FROM (
                 SELECT c FROM (SELECT count(*) AS c FROM {table}
                                GROUP BY {col})
                 ORDER BY c DESC LIMIT 10)) AS BIGINT) AS top10_rows,
           CAST(1000 * max(c) * count(*) // sum(c) AS BIGINT)
             AS skew_ratio_e3
    FROM (SELECT count(*) AS c FROM {table} GROUP BY {col})
    """


@query(
    "prof_skew_report",
    oracle=" UNION ALL ".join(
        _skew_branch_sql(t, c)
        for t, c in (
            ("lineitem", "l_orderkey"),
            ("lineitem", "l_partkey"),
            ("lineitem", "l_suppkey"),
            ("orders", "o_custkey"),
        )
    )
    + " ORDER BY key_col",
    tags=("profile", "scale"),
)
def prof_skew_report(spark, sf_dir):
    """JOIN-KEY SKEW report — the planning statistic behind the
    salt-or-not decision (q39_salted_skew_join / SKEW_BENCH.json): for
    each candidate join key, rows, distinct keys, the hottest key's row
    count, the top-10 keys' total, and a scale-free skew ratio
    (hottest/average, x1000 — 1000 = perfectly uniform). A key whose
    ratio stays near 1000 sort-merge-joins cleanly at 100 TB; a
    four-digit ratio says salt it or lean on AQE skew handling. One
    keyed count per key column (map-side partials), then a 10-row
    top-K and four 1-row aggregates — nothing corpus-sized leaves the
    executors. All-integer output, exact in both engines."""
    lineitem = catalog.table(spark, sf_dir, "lineitem")
    orders = catalog.table(spark, sf_dir, "orders")

    def branch(df, col):
        per_key = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        top10 = (
            per_key.orderBy(F.col("c").desc(), F.col(col))
            .limit(10)
            .agg(F.sum("c").cast("long").alias("top10_rows"))
        )
        return (
            per_key.agg(
                F.sum("c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.max("c").cast("long").alias("max_key_rows"),
            )
            .crossJoin(top10)  # 1-row x 1-row
            .select(
                F.lit(col).alias("key_col"),
                "n_rows",
                "n_distinct",
                "max_key_rows",
                "top10_rows",
                # exact BIGINT division (`div`), never double-divide-then-floor
                F.expr("max_key_rows * 1000 * n_distinct div n_rows")
                .cast("long")
                .alias("skew_ratio_e3"),
            )
        )

    out = (
        branch(lineitem, "l_orderkey")
        .unionByName(branch(lineitem, "l_partkey"))
        .unionByName(branch(lineitem, "l_suppkey"))
        .unionByName(branch(orders, "o_custkey"))
    )
    return out.orderBy("key_col")


# Benford first-digit expectations in basis points: floor(log10(1+1/d)*1e4+.5)
# — precomputed literals so neither engine evaluates a transcendental.
BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580, 8: 512, 9: 458}

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {bp}" for d, bp in BENFORD_BP.items()
) + " END"


@query(
    "prof_benford_digits",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    per AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
            FROM d GROUP BY digit),
    tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM per)
    SELECT digit, n_orders,
           CAST(n_orders * 10000 // t AS BIGINT) AS share_bp,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_bp,
           CAST(n_orders * 10000 // t AS BIGINT)
             - CAST({_BENFORD_CASE} AS BIGINT) AS delta_bp
    FROM per, tot ORDER BY digit
    """,
    tags=("profile", "quality"),
)
def prof_benford_digits(spark, sf_dir):
    """BENFORD first-digit audit of order totals — the classic financial
    data-forensics screen (fabricated or truncated monetary data drifts
    from the log-uniform first-digit law; a data-profiling report flags
    columns whose delta is implausible). Per leading digit of the
    integer-cents total: count, observed share (basis points, truncating
    integer division), the Benford expectation (precomputed literal bp —
    no transcendental is evaluated in either engine), and the delta. One
    keyed 9-bucket aggregate with map-side partials; the 1-row total
    broadcasts. NOTE the synthetic uniform totals deliberately FAIL the
    law — the point of the audit row is the delta column itself."""
    orders = catalog.table(spark, sf_dir, "orders")
    d = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    per = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    tot = per.agg(F.sum("n_orders").cast("long").alias("t"))
    benford = (
        "CASE digit "
        + " ".join(f"WHEN {k} THEN {v}" for k, v in BENFORD_BP.items())
        + " END"
    )
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row global aggregate
        .select(
            "digit",
            "n_orders",
            F.expr("n_orders * 10000 div t").cast("long").alias("share_bp"),
            F.expr(benford).cast("long").alias("benford_bp"),
            (
                F.expr("n_orders * 10000 div t") - F.expr(benford)
            ).cast("long").alias("delta_bp"),
        )
        .orderBy("digit")
    )


@query(
    "prof_exact_median_scaled",
    oracle="""
    WITH s AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    lo AS (SELECT v AS lo_median_cents FROM s
           ORDER BY v LIMIT 1 OFFSET (SELECT (n + 1) // 2 - 1 FROM n)),
    hi AS (SELECT v AS hi_median_cents FROM s
           ORDER BY v LIMIT 1 OFFSET (SELECT (n + 2) // 2 - 1 FROM n))
    SELECT n.n AS n_orders, lo.lo_median_cents, hi.hi_median_cents,
           lo.lo_median_cents + hi.hi_median_cents AS median_cents_x2
    FROM n, lo, hi
    """,
    tags=("profile", "scale"),
)
def prof_exact_median_scaled(spark, sf_dir):
    """EXACT median at scale — the missing rung between
    prof_event_value_stats (exact median via a sort, fixture-scale) and
    the documented approx_percentile swap: rank selection over a value
    HISTOGRAM with a hierarchical prefix sum, the same machinery as
    q50_rfm_scaled's quintile boundaries (operators/scale.py:
    distributed_prefix_sum — no unpartitioned row-scale window, no global
    sort). Emits lower and upper median of integer order-total cents plus
    their SUM (the even-n median times two — kept integer rather than
    introducing a float halving). At 100 TB: one keyed histogram
    aggregate, a three-level prefix sum whose only unpartitioned window
    sees ~|distinct|/4096^2 rows, and a 1-row boundary aggregate. The
    oracle selects the same ranks by OFFSET (oracle-side sorts need not
    scale)."""
    from gtec_etl_spark.operators.scale import distributed_prefix_sum

    orders = catalog.table(spark, sf_dir, "orders")
    s = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("v")
    )
    # The histogram is referenced several times downstream (prefix-sum
    # levels, total, rank selection) — without materialization each
    # reference re-runs the corpus scan + aggregate (the executed plan
    # showed one parquet scan PER reference). One value-domain-bounded
    # checkpoint makes the corpus pass happen exactly once.
    hist = (
        s.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    cum = distributed_prefix_sum(hist, "v", "c", out_col="cum")
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row global aggregate
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("v"))
            )
            .cast("long")
            .alias("lo_median_cents"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 2) div 2"), F.col("v"))
            )
            .cast("long")
            .alias("hi_median_cents"),
        )
        .select(
            "n_orders",
            "lo_median_cents",
            "hi_median_cents",
            (F.col("lo_median_cents") + F.col("hi_median_cents")).alias(
                "median_cents_x2"
            ),
        )
    )


K_ANON = 5


@query(
    "prof_k_anonymity",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(count(*) AS BIGINT) AS grp
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(length(bin(grp)) - 1 AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(grp) AS BIGINT) AS n_customers,
           CAST(min(grp) AS BIGINT) AS min_group,
           CAST(sum(CASE WHEN grp < {K_ANON} THEN grp ELSE 0 END) AS BIGINT)
             AS n_below_k
    FROM g GROUP BY 1 ORDER BY log2_bucket
    """,
    tags=("profile", "quality"),
)
def prof_k_anonymity(spark, sf_dir):
    """K-ANONYMITY audit — the privacy screen a data-governance pass runs
    before a table leaves the curated zone: every quasi-identifier
    combination (market segment x nation here) must describe at least
    K={K_ANON} individuals, or those rows are re-identification risks.
    Emits the group-size distribution in exact log2 buckets (the
    graph_degree_distribution convention) with the at-risk row count per
    bucket. One keyed aggregate over the QI tuple (map-side partials),
    then a <=30-row census — group cardinality is the QI domain, so the
    report is fixed-size at any corpus scale. The reference's restricted
    sources (S9) gate ACCESS; this audits the DATA — the other half of
    the governance story."""
    customer = catalog.table(spark, sf_dir, "customer")
    g = customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("grp")
    )
    return (
        g.groupBy(
            (F.length(F.bin(F.col("grp"))) - 1).cast("long").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("grp").cast("long").alias("n_customers"),
            F.min("grp").cast("long").alias("min_group"),
            F.sum(F.when(F.col("grp") < K_ANON, F.col("grp")).otherwise(0))
            .cast("long")
            .alias("n_below_k"),
        )
        .orderBy("log2_bucket")
    )


PSI_SPLIT_TS = "2024-01-16 00:00:00"
PSI_BUCKET_W = 50
PSI_NBUCKETS = 10


def _psi_oracle_sql() -> str:
    """Shared by prof_drift_psi and the streaming twin (stream_psi_drift):
    on a finite replay the streaming bucket counts equal the batch's, so
    ONE oracle states both."""
    return f"""
    WITH b AS (
      SELECT least(CAST(floor("value" / {PSI_BUCKET_W}) AS BIGINT),
                   {PSI_NBUCKETS - 1}) AS bucket,
             CASE WHEN ts < TIMESTAMP '{PSI_SPLIT_TS}' THEN 0 ELSE 1 END AS w
      FROM events
    ),
    counts AS (
      SELECT bucket,
             CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ),
    scal AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
             CAST(count(*) AS BIGINT) AS v
      FROM counts
    ),
    c AS (
      SELECT bucket, n_a, n_b,
             CAST((n_a + 1) * 1000000000 // (ta + v) AS BIGINT) AS p_a_e9,
             CAST((n_b + 1) * 1000000000 // (tb + v) AS BIGINT) AS p_b_e9,
             CAST(floor(ln(n_a + 1) * 1000000 + 0.5) AS BIGINT)
               - CAST(floor(ln(n_b + 1) * 1000000 + 0.5) AS BIGINT)
               + CAST(floor(ln(tb + v) * 1000000 + 0.5) AS BIGINT)
               - CAST(floor(ln(ta + v) * 1000000 + 0.5) AS BIGINT)
               AS ln_ratio_u
      FROM counts CROSS JOIN scal
    )
    SELECT bucket, n_a, n_b, p_a_e9, p_b_e9,
           CAST((p_a_e9 - p_b_e9) * ln_ratio_u AS BIGINT) AS psi_contrib,
           CAST(sum((p_a_e9 - p_b_e9) * ln_ratio_u) OVER () AS BIGINT)
             AS psi_total
    FROM c ORDER BY bucket
    """


def psi_from_counts(counts):
    """Finalize the PSI report from a (bucket, n_a, n_b) relation — the
    micro-nat integer pipeline shared by the batch and streaming twins."""
    from pyspark.sql import Window

    scal = counts.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast(
            "long"
        )

    c = counts.crossJoin(F.broadcast(scal)).select(
        "bucket",
        "n_a",
        "n_b",
        F.expr("CAST((n_a + 1) * 1000000000 div (ta + v) AS BIGINT)").alias(
            "p_a_e9"
        ),
        F.expr("CAST((n_b + 1) * 1000000000 div (tb + v) AS BIGINT)").alias(
            "p_b_e9"
        ),
        (
            qln(F.col("n_a") + 1)
            - qln(F.col("n_b") + 1)
            + qln(F.col("tb") + F.col("v"))
            - qln(F.col("ta") + F.col("v"))
        ).alias("ln_ratio_u"),
    )
    contrib = (F.col("p_a_e9") - F.col("p_b_e9")) * F.col("ln_ratio_u")
    return c.select(
        "bucket",
        "n_a",
        "n_b",
        "p_a_e9",
        "p_b_e9",
        contrib.cast("long").alias("psi_contrib"),
        F.sum(contrib)
        .over(Window.partitionBy())
        .cast("long")
        .alias("psi_total"),
    ).orderBy("bucket")


@query("prof_drift_psi", oracle=_psi_oracle_sql(), tags=("profile", "quality"))
def prof_drift_psi(spark, sf_dir):
    """Population Stability Index between the reference window (events
    before {PSI_SPLIT_TS}) and the current window — THE drift metric a
    training pipeline watches when a new ingest snapshot lands (PSI > 0.2
    conventionally blocks a model refresh). Values land in {PSI_NBUCKETS}
    fixed-width buckets (width {PSI_BUCKET_W}, top bucket open); per
    bucket the signed contribution (p_A - p_B)·ln(p_A/p_B) is emitted
    with add-one smoothing, plus the total.

    Parity discipline: the only transcendental is ln over INTEGER
    arguments, each quantized to micro-nats (floor(ln·1e6 + 0.5)) —
    ln(p_A/p_B) decomposes as ln(n_A+1) - ln(n_B+1) + ln(T_B+V) -
    ln(T_A+V), so every argument is an exact BIGINT; the probabilities
    themselves are floored e9-scaled integers, and every product stays
    < 2^63.
    tests/test_float_guards.py asserts each distinct ln argument clears
    the rounding boundary. Plan: ONE scan of events with map-side
    combine into ≤{PSI_NBUCKETS} bucket rows; the (T_A, T_B, V) scalars
    ride a broadcast 1-row aggregate; the window total runs over
    {PSI_NBUCKETS} rows. At 100 TB this is scan-bound by construction."""
    ev = catalog.table(spark, sf_dir, "events")
    b = ev.select(
        F.least(
            F.floor(F.col("value") / PSI_BUCKET_W).cast("long"),
            F.lit(PSI_NBUCKETS - 1),
        ).alias("bucket"),
        F.when(F.col("ts") < F.lit(PSI_SPLIT_TS).cast("timestamp"), 0)
        .otherwise(1)
        .alias("w"),
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return psi_from_counts(counts)


PCTL_QS = (50, 95, 99)


@query(
    "prof_percentiles_grouped",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    hist AS (
      SELECT event_type, cents, CAST(count(*) AS BIGINT) AS c
      FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cm
      FROM hist
    ),
    tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1
    )
    SELECT t.event_type, t.n,
           {", ".join(
             f'''CAST(min(CASE WHEN cm >= ({q} * n + 99) // 100
                        THEN cents END) AS BIGINT) AS p{q}_cents'''
             for q in PCTL_QS
           )}
    FROM cum JOIN tot t USING (event_type)
    GROUP BY t.event_type, t.n ORDER BY t.event_type
    """,
    tags=("profile", "scale"),
)
def prof_percentiles_grouped(spark, sf_dir):
    """EXACT nearest-rank percentiles (p50/p95/p99) per group at scale —
    the latency-report shape every ops dashboard runs, done without a
    per-group row-scale sort: values quantize to integer cents, the
    percentile ranks select from the (group x cents) HISTOGRAM's running
    sum, and the per-group window partitions are bounded by the VALUE
    DOMAIN (≤ ~49k distinct cents here), not the corpus — at 100 TB the
    histogram aggregate is the only corpus-sized pass (map-side
    combine), the same move as prof_exact_median_scaled but grouped.
    Nearest-rank (value at ceil(q·n/100), integer ceil as
    (q·n + 99) div 100) rather than interpolation: every output is a
    value that actually occurs, and every comparison is BIGINT —
    bit-identical cross-engine. percentile_approx is the documented
    swap-in when even the histogram is too wide (true continuous
    domains)."""
    from pyspark.sql import Window

    ev = catalog.table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    hist = s.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.withColumn(
        "cm",
        F.sum("c").over(Window.partitionBy("event_type").orderBy("cents")),
    )
    tot = hist.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    agg_cols = [
        F.min(
            F.when(
                F.col("cm") >= F.expr(f"({q} * n + 99) div 100"),
                F.col("cents"),
            )
        )
        .cast("long")
        .alias(f"p{q}_cents")
        for q in PCTL_QS
    ]
    return (
        cum.join(tot, "event_type")
        .groupBy("event_type", "n")
        .agg(*agg_cols)
        .orderBy("event_type")
    )


@query(
    "prof_gini_concentration",
    oracle="""
    WITH s AS (
      SELECT c_mktsegment AS segment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    hist AS (
      SELECT segment, cents, CAST(count(*) AS BIGINT) AS c
      FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT segment, cents, c,
             CAST(sum(c) OVER (PARTITION BY segment ORDER BY cents)
                  AS BIGINT) AS cm
      FROM hist
    ),
    tot AS (
      SELECT segment, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(cents * c) AS BIGINT) AS t
      FROM hist GROUP BY 1
    ),
    s1 AS (
      SELECT cum.segment,
             CAST(sum(cents * (c * (2 * cm - c + 1) - c * (n + 1)))
                  AS BIGINT) AS num
      FROM cum JOIN tot USING (segment) GROUP BY 1
    )
    SELECT t.segment, t.n, t.t AS total_cents,
           CAST(s1.num // greatest((t.n * t.t) // 1000000, 1) AS BIGINT)
             AS gini_e6
    FROM tot t JOIN s1 USING (segment)
    ORDER BY t.segment
    """,
    tags=("profile", "scale"),
)
def prof_gini_concentration(spark, sf_dir):
    """Gini concentration of account balance per market segment — the
    inequality/concentration audit a curation pipeline runs on source
    contribution or spend distributions (a segment whose mass sits in a
    few accounts gets different treatment from a flat one). Computed
    EXACTLY from the (segment x cents) histogram, never a per-group
    row sort: with values ascending, sum_i (2i - n - 1) x_(i) collapses
    per distinct value to x_v * (c·(2·cum − c + 1) − c·(n+1)) — pure
    BIGINT from the running count (same domain-bounded window as
    prof_percentiles_grouped), then one floored ratio against n·total
    quantized to e6 (denominator pre-scaled so the product never leaves
    int64; both engines evaluate the identical expression). Overflow
    envelope: per-group terms stay under 2^63 to ~1e7 rows/group at
    cents scale; beyond that swap the two sums to DecimalType(38) — the
    documented contract. Negative balances participate as-is (the
    formula is affine in values; the audit is comparative, not
    normative).

    Plan: one scan -> histogram with map-side combine; windows and
    rollups run on the value-domain-sized relation. At 100 TB:
    scan-bound."""
    from pyspark.sql import Window

    cust = catalog.table(spark, sf_dir, "customer")
    s = cust.select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    hist = s.groupBy("segment", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.withColumn(
        "cm",
        F.sum("c")
        .over(Window.partitionBy("segment").orderBy("cents"))
        .cast("long"),
    )
    tot = hist.groupBy("segment").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("cents") * F.col("c")).cast("long").alias("t"),
    )
    s1 = (
        cum.join(tot, "segment")
        .groupBy("segment")
        .agg(
            F.sum(
                F.col("cents")
                * (
                    F.col("c") * (2 * F.col("cm") - F.col("c") + 1)
                    - F.col("c") * (F.col("n") + 1)
                )
            )
            .cast("long")
            .alias("num")
        )
    )
    return (
        tot.join(s1, "segment")
        .select(
            "segment",
            "n",
            F.col("t").alias("total_cents"),
            F.expr(
                "CAST(num div greatest(n * t div 1000000, 1) AS BIGINT)"
            ).alias("gini_e6"),
        )
        .orderBy("segment")
    )


#: Candidate functional dependencies for the FD audit: (table, lhs, rhs).
#: Single source of truth — the Spark plan and the SQL oracle are both
#: generated from this list, one audit arm per candidate.
FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_name", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("part", "p_brand", "p_type"),
    ("part", "p_name", "p_brand"),
)


def _fd_oracle() -> str:
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT '{t}' AS table_name, '{lhs} -> {rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS violation_bp
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd FROM {t} GROUP BY 1)"""
        for t, lhs, rhs in FD_CANDIDATES
    )
    return f"""
    SELECT * FROM (
{arms}
    ) ORDER BY table_name, fd
    """


@query("prof_functional_dependencies", oracle=_fd_oracle(), tags=("profile", "quality"))
def prof_functional_dependencies(spark, sf_dir):
    """FUNCTIONAL-DEPENDENCY audit — the data-profiling staple the
    profile pack was missing (alongside entropy, k-anonymity,
    referential integrity q51, and uniqueness q11): for each candidate
    FD lhs → rhs, the number of lhs groups, how many of them map to
    MORE THAN ONE distinct rhs (violations), and the violation rate in
    basis points. An FD that holds (violation_bp = 0) is a constraint a
    schema designer can promote (and an optimizer/storage layer can
    exploit: dictionary-encode rhs per lhs partition, prune joins); a
    near-miss is usually dirty data — exactly what a profiling report
    exists to surface. Candidates come from FD_CANDIDATES (one source
    of truth for plan AND oracle); on this corpus nation's
    key → region and customer's name → nation hold, the rest violate
    at measured rates.

    Plan: one groupBy(lhs) + count(DISTINCT rhs) per candidate — the
    distinct-aggregate is Spark's two-phase partial_count(distinct)
    expansion, map-side combined before the lhs shuffle; each arm's
    output is then a 1-row summary and the union is |candidates| rows.
    A min(rhs) ≠ max(rhs) formulation (no distinct expansion) was
    MEASURED SLOWER at sf10 — 80.5 s vs 16.0 s for the lineitem arm —
    because with a low-cardinality rhs the (lhs, rhs) expansion
    collapses the map side to ≤|rhs| rows per key before shuffling,
    while min/max accumulates through the full lhs hash table (PERF.md
    round 13); revisit only if an rhs is high-cardinality.

    BATCHING MEASURED AND REJECTED (round 14, VERDICT r13 #3): folding
    all same-table arms into one scan — explode over per-candidate
    (fd_label, lhs, rhs) structs, one groupBy(fd, lhs) — was 2.2x
    SLOWER at sf10 (108.2 s vs 50.2 s, same session, identical rows).
    Homogeneous struct fields force every lhs/rhs to string, so the one
    "shared" shuffle hashes and ships ~9-byte value strings plus a
    ~24-byte per-row label where the per-arm plan ships 8-byte longs —
    the r12 integer-node-encoding lesson in reverse. The rescans the
    batching saves are page-cached 2-column parquet reads that were
    never the bottleneck; the shuffle structure is. Per-table audits
    share nothing BY DESIGN (different lhs keys need different
    shuffles), so the per-arm union IS the efficient plan — at 100 TB
    keep the arms narrow and integer-typed rather than widening one
    scan."""
    arms = []
    for t, lhs, rhs in FD_CANDIDATES:
        tbl = catalog.table(spark, sf_dir, t)
        g = tbl.groupBy(F.col(lhs)).agg(
            F.countDistinct(F.col(rhs)).alias("nd")
        )
        arms.append(
            g.agg(
                F.lit(t).alias("table_name"),
                F.lit(f"{lhs} -> {rhs}").alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.expr(
                    "sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 10000"
                    " div count(*)"
                )
                .cast("long")
                .alias("violation_bp"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("table_name", "fd")


#: Candidate inclusion dependencies (FK inference): child column ⊆ parent
#: column? Mix by design: declared FKs (hold at 10000 bp), the reverse
#: direction of a dense FK, an ACCIDENTAL cross-domain inclusion
#: (events.user_id ⊆ customer.c_custkey — the discovery case), and two
#: partial overlaps that prove the audit measures, not assumes.
INC_CANDIDATES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("part", "p_size", "nation", "n_nationkey"),
    ("nation", "n_nationkey", "part", "p_size"),
)


def _inclusion_oracle() -> str:
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS child_table,
           '{cc} -> {p}.{pc}' AS inclusion,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS inclusion_bp
    FROM (
      SELECT v, v IN (SELECT DISTINCT {pc} FROM {p}
                      WHERE {pc} IS NOT NULL) AS hit
      FROM (SELECT DISTINCT {cc} AS v FROM {c} WHERE {cc} IS NOT NULL)
    )"""
        for c, cc, p, pc in INC_CANDIDATES
    )
    return f"""
    SELECT * FROM (
{arms}
    ) ORDER BY child_table, inclusion
    """


@query(
    "prof_inclusion_dependencies",
    oracle=_inclusion_oracle(),
    tags=("profile", "quality"),
)
def prof_inclusion_dependencies(spark, sf_dir):
    """INCLUSION-DEPENDENCY audit (foreign-key INFERENCE) — the discovery
    complement to q51_referential_audit (which checks DECLARED FKs) and
    prof_functional_dependencies (intra-table structure): for each
    candidate pair, what fraction of the child column's distinct values
    exists in the parent column (basis points)? 10000 bp = a joinable
    key relationship worth promoting to a constraint; a high-but-partial
    score is either dirty data or a coincidental domain overlap — the
    candidate list deliberately contains both kinds (a reversed dense
    FK, the accidental events.user_id ⊆ customer.c_custkey that
    key-range reuse creates, and two partial numeric-domain overlaps)
    so the report demonstrably measures rather than assumes.

    Plan per candidate: DISTINCT on the child column (the only
    corpus-sized shuffle, map-side combined), LEFT join against the
    parent's distinct values flagged with a literal (AQE broadcasts the
    smaller distinct side), one 1-row summary; the union is
    |candidates| rows. NULLs are excluded on both sides (SQL inclusion
    dependencies are defined over non-null values). At 100 TB the child
    distinct is the price of the question; everything after is
    key-cardinality-sized.

    BATCHING MEASURED AND REJECTED (round 14, VERDICT r13 #3): folding
    every arm into one (candidate, value) relation — explode per table,
    one distinct keyed exactly on the join key, one co-partitioned LEFT
    join scoring all candidates — was tried TWICE at sf10 in bracketed
    same-session A/Bs: 42.5 s with string-cast values and still 42.3 s
    with integer candidate ids + long values, vs 11.5-19.2 s for this
    per-arm plan (identical rows). The batched join unions the 15M-key
    o_orderkey parent into one relation NO side of which can broadcast,
    so every candidate pays the big join's shuffle; per-arm, AQE
    broadcasts the six small parent sides and only the genuinely large
    arms shuffle. The r13 33.9/35.5 s numbers that motivated the
    batching ask were co-tenant-load artifacts (same arms: 11.5 s quiet
    same-session). Keep the arms separate — heterogeneous-size audits
    want per-candidate join strategy freedom, not a fused plan."""
    arms = []
    for c, cc, p, pc in INC_CANDIDATES:
        child = catalog.table(spark, sf_dir, c)
        parent = catalog.table(spark, sf_dir, p)
        cd = (
            child.select(F.col(cc).alias("v"))
            .filter(F.col("v").isNotNull())
            .distinct()
        )
        pdd = (
            parent.select(F.col(pc).alias("v"))
            .filter(F.col("v").isNotNull())
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        j = cd.join(pdd, "v", "left")
        arms.append(
            j.agg(
                F.lit(c).alias("child_table"),
                F.lit(f"{cc} -> {p}.{pc}").alias("inclusion"),
                F.count(F.lit(1)).cast("long").alias("n_child_distinct"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long")
                .alias("n_matched"),
                F.expr(
                    "sum(coalesce(__hit, 0)) * 10000 div count(*)"
                )
                .cast("long")
                .alias("inclusion_bp"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("child_table", "inclusion")
