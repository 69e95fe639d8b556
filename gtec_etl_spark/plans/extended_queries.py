"""Extended operator coverage beyond the reference's own surface
(SURVEY.md §2.5 notes no cube/rollup; §2.8 no INTERSECT/EXCEPT; §2.9 date
functions pass through as strings) — the new engine provides them as
first-class, oracle-checked operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.plans.registry import query


@query(
    "q22_cube_order_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg", "cube"),
)
def q22_cube_order_counts(spark, sf_dir):
    """CUBE over (status, priority): all four grouping levels in one
    pass — partial aggregation handles the expansion map-side, so the
    shuffle carries only group keys (the profiling-at-scale shape)."""
    orders = catalog.table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q23_map_functions",
    oracle="""
    SELECT p_partkey,
           p_brand AS brand_from_map,
           p_type AS type_from_map,
           CAST(2 AS INT) AS map_size
    FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """,
    tags=("scalar", "map"),
)
def q23_map_functions(spark, sf_dir):
    """§2.9 dynamic-keys model (GFF3 attribute maps, SURVEY.md §1.2):
    build 'k=v;k=v' text, parse with str_to_map, read keys back. The
    oracle checks the round-trip reproduces the source columns."""
    part = catalog.table(spark, sf_dir, "part")
    kv = F.concat_ws(
        ";",
        F.concat(F.lit("brand="), F.col("p_brand")),
        F.concat(F.lit("type="), F.col("p_type")),
    )
    return (
        part.filter(F.col("p_partkey") < 300)
        .withColumn("attrs", F.str_to_map(kv, F.lit(";"), F.lit("=")))
        .select(
            "p_partkey",
            F.col("attrs")["brand"].alias("brand_from_map"),
            F.col("attrs")["type"].alias("type_from_map"),
            F.size("attrs").alias("map_size"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q24_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)    AS order_year,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           CAST(month(o_orderdate) AS INT)   AS order_month,
           CAST(date_trunc('month', o_orderdate) AS DATE)   AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
    tags=("scalar", "date"),
)
def q24_date_functions(spark, sf_dir):
    """§2.9 date family: the reference passes ISO strings through; the
    engine parses and computes (trunc, last_day, diffs) natively."""
    orders = catalog.table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.month("o_orderdate").alias("order_month"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
            F.last_day("o_orderdate").alias("month_end"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
                "days_since_95"
            ),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q25_found_counters",
    oracle="""
    SELECT
      CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
      CAST(sum(CASE WHEN NOT (o_totalprice > 100000) THEN 1 ELSE 0 END) AS BIGINT) AS n_not_found
    FROM orders
    """,
    tags=("agg",),
)
def q25_found_counters(spark, sf_dir):
    """A7 found/not-found tallies (gtex_v7_to_dats.py:50-94) as one
    conditional aggregation pass."""
    from gtec_etl_spark.operators.aggregates import found_counters

    orders = catalog.table(spark, sf_dir, "orders")
    return found_counters(orders, F.col("o_totalprice") > 100000)


@query(
    "q26_corr_stats",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)       AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(var_samp(l_quantity), 4)                    AS qty_var
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q26_corr_stats(spark, sf_dir):
    """Bivariate statistics (correlation / covariance / variance) — the A5
    profiling family extended to relationships between variables."""
    li = catalog.table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q27_intersect_except",
    oracle="""
    WITH small AS (SELECT p_brand FROM part WHERE p_size <= 15),
         promo AS (SELECT p_brand FROM part WHERE p_type = 'PROMO')
    SELECT 'both' AS which, p_brand FROM (SELECT p_brand FROM small INTERSECT SELECT p_brand FROM promo)
    UNION ALL
    SELECT 'only_small', p_brand FROM (SELECT p_brand FROM small EXCEPT SELECT p_brand FROM promo)
    ORDER BY which, p_brand
    """,
    tags=("setop",),
)
def q27_intersect_except(spark, sf_dir):
    """§2.8 INTERSECT / EXCEPT (absent from the reference; first-class
    here). Both compile to distinct + semi/anti joins."""
    part = catalog.table(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") <= 15).select("p_brand")
    promo = part.filter(F.col("p_type") == "PROMO").select("p_brand")
    both = small.intersect(promo).select(F.lit("both").alias("which"), "p_brand")
    only = small.subtract(promo).select(F.lit("only_small").alias("which"), "p_brand")
    return both.unionByName(only).orderBy("which", "p_brand")


@query(
    "q28_dynamic_pivot_langs",
    oracle="""
    PIVOT documents ON lang USING count(*) GROUP BY source ORDER BY source
    """,
    tags=("pivot", "dynamic"),
)
def q28_dynamic_pivot_langs(spark, sf_dir):
    """Q6's data-dependent pivot (SURVEY.md §7.4 hard-part #4): the output
    columns are the distinct lang values discovered at runtime — two-pass
    dynamic pivot against DuckDB's native dynamic PIVOT as the oracle.
    Both engines derive the same sorted column set from the same data."""
    from gtec_etl_spark.operators.pivot import dynamic_pivot

    docs = catalog.table(spark, sf_dir, "documents")
    return dynamic_pivot(
        docs, ["source"], "lang", F.count(F.lit(1)), fill=0
    ).orderBy("source")


@query(
    "q33_interval_overlap_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS a_id, epoch(o_orderdate) // 86400 AS a_lo,
             epoch(o_orderdate) // 86400 + 1 + o_orderkey % 10 AS a_hi
      FROM orders WHERE o_custkey < 15
    ),
    b AS (
      SELECT o_orderkey AS b_id, epoch(o_orderdate) // 86400 AS b_lo,
             epoch(o_orderdate) // 86400 + 1 + o_orderkey % 15 AS b_hi
      FROM orders WHERE o_custkey >= 15 AND o_custkey < 30
    )
    SELECT a_id, b_id FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
    ORDER BY a_id, b_id
    """,
    tags=("join", "interval"),
)
def q33_interval_overlap_join(spark, sf_dir):
    """Interval-interval overlap join (the GenomeLocation shape,
    SURVEY.md §1.2) — bucketized equi-join with first-shared-bucket
    dedup, oracle-checked against the direct theta join. Intervals are
    day-number ranges derived deterministically from order dates."""
    from gtec_etl_spark.operators.joins import interval_overlap_join

    orders = catalog.table(spark, sf_dir, "orders")
    day = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    a = orders.filter(F.col("o_custkey") < 15).select(
        F.col("o_orderkey").alias("a_id"),
        day.alias("a_lo"),
        (day + 1 + F.col("o_orderkey") % 10).alias("a_hi"),
    )
    b = orders.filter((F.col("o_custkey") >= 15) & (F.col("o_custkey") < 30)).select(
        F.col("o_orderkey").alias("b_id"),
        day.alias("b_lo"),
        (day + 1 + F.col("o_orderkey") % 15).alias("b_hi"),
    )
    out = interval_overlap_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=7)
    return out.select("a_id", "b_id").orderBy("a_id", "b_id")


@query(
    "q35_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS grouping_level,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY grouping_level, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg", "groupingsets"),
)
def q35_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the subset-selective form of q22's CUBE)
    with grouping() markers distinguishing real NULL keys from rolled-up
    rows — the §2.5 profiling family completed."""
    orders = catalog.table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS grouping_level,
               count(*) AS n_orders
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY grouping_level, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        orders=orders,
    )


@query(
    "q36_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                              ELSE o_orderkey % 5 END AS k
      FROM orders WHERE o_orderkey < 2000
    ),
    b AS (
      SELECT CASE WHEN x = 99 THEN NULL ELSE x END AS k,
             concat('label_', CAST(x AS VARCHAR)) AS label
      FROM (SELECT unnest([0, 1, 2, 99]) AS x)
    )
    SELECT count(*) AS n_plain,
           CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_matches
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    tags=("join", "nulls"),
)
def q36_null_safe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the P6 nullability model carried into join
    semantics (a plain equi-join silently drops NULL-keyed rows)."""
    orders = catalog.table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderkey") % 5)
        .alias("k"),
    )
    b = spark.createDataFrame(
        [(0, "label_0"), (1, "label_1"), (2, "label_2"), (None, "label_99")],
        "k long, label string",
    )
    joined = a.join(b, a.k.eqNullSafe(b.k))
    return joined.agg(
        F.count(F.lit(1)).alias("n_plain"),
        F.sum(F.when(a.k.isNull(), 1).otherwise(0)).alias("n_null_matches"),
    )


@query(
    "prof_approx_profile",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS n,
           TRUE AS hll_within_10pct,
           TRUE AS median_within_rank_tol
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("profile", "approx"),
)
def prof_approx_profile(spark, sf_dir):
    """The 100 TB scale path of A5: approx_count_distinct (HLL) and
    percentile_approx replace their exact forms with bounded memory.

    Raw sketch values are engine-specific, so the correctness contract is a
    TOLERANCE bound computed in-plan: the HLL estimate must sit within 10%
    of the exact distinct count (default rsd 0.05 — 2 sigma), and the
    approx median must land between the exact 48th and 52nd percentiles
    (percentile_approx rank error <= n/accuracy — far tighter than 2% of
    rank at any n). The oracle states those verdicts as TRUE plus the
    exact profile, so a sketch drifting out of tolerance hash-mismatches.
    At 100 TB only the sketch side runs; this query is the recorded
    evidence its error contract holds.

    Plan (r9): the exact distinct runs as a TWO-LEVEL aggregate (distinct
    pairs, then count per group) joined back on the 4-row group key —
    NOT as countDistinct inside the main aggregate. A countDistinct
    mixed with non-distinct aggregates triggers Catalyst's Expand
    rewrite, which replays every input row through the expensive exact
    percentile buffers once per branch; measured 8.9 s for an
    aggregation whose stages individually sum to ~3 s (found the round
    the bench switched to materializing timing — count-based timing had
    pruned the whole aggregate away)."""
    li = catalog.table(spark, sf_dir, "lineitem")
    exact = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    sketches = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"),
            # one shared percentile buffer for both rank bounds, not two
            F.expr("percentile(l_extendedprice, array(0.48, 0.52))").alias(
                "pb"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "approx_parts",
            "approx_median",
            F.col("pb").getItem(0).alias("p48"),
            F.col("pb").getItem(1).alias("p52"),
            "n",
        )
    )
    prof = sketches.join(exact, "l_returnflag")
    return prof.select(
        "l_returnflag",
        "exact_parts",
        "n",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.10 * F.col("exact_parts")
        ).alias("hll_within_10pct"),
        (
            (F.col("approx_median") >= F.col("p48"))
            & (F.col("approx_median") <= F.col("p52"))
        ).alias("median_within_rank_tol"),
    ).orderBy("l_returnflag")


@query(
    "q39_salted_skew_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT o_orderpriority,
             CAST(string_split(o_orderpriority, '-')[1] AS BIGINT) AS urgency
      FROM orders
    )
    SELECT o.o_orderpriority AS priority, d.urgency,
           count(*) AS n_orders,
           CAST(sum(o.o_orderkey) AS BIGINT) AS orderkey_sum
    FROM orders o JOIN dim d ON d.o_orderpriority = o.o_orderpriority
    GROUP BY priority, d.urgency
    ORDER BY priority
    """,
    tags=("scale", "join"),
)
def q39_salted_skew_join(spark, sf_dir):
    """The salted-join skew path through the driver gate: orders (fact)
    joined to the 5-value priority dimension — the
    every-key-is-hot shape where one dim row matches ~20% of the fact, so
    a plain shuffle join puts each key on one task. salted_join spreads
    every key across 4 salts (deterministic row-hash salt, dim exploded
    x4). The integer aggregates (count + orderkey sum) are an exact
    duplicate/drop detector: any salting bug changes them."""
    from gtec_etl_spark.operators.scale import salted_join

    orders = catalog.table(spark, sf_dir, "orders")
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn(
            "urgency",
            F.split(F.col("o_orderpriority"), "-").getItem(0).cast("long"),
        )
    )
    joined = salted_join(
        orders.select("o_orderkey", "o_orderpriority"), dim,
        "o_orderpriority", n_salts=4,
    )
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"), "urgency")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("orderkey_sum"),
        )
        .orderBy("priority")
    )


@query(
    "q40_asof_nearest_click",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.ts,
             abs(epoch_us(p.p_ts) - epoch_us(c.ts)) AS d
      FROM p JOIN c ON c.user_id = p.user_id
      WHERE abs(epoch_us(p.p_ts) - epoch_us(c.ts)) <= 1800000000
    ),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY purchase_id ORDER BY d, ts, click_id) AS rn
          FROM cand)
    SELECT purchase_id, user_id, p_ts, ts AS asof_t, click_id,
           CAST(d AS BIGINT) AS asof_dist_us
    FROM r WHERE rn = 1 ORDER BY purchase_id
    """,
    tags=("join", "asof"),
)
def q40_asof_nearest_click(spark, sf_dir):
    """Nearest-direction as-of join with tolerance (pandas merge_asof
    parity, beyond q19's backward-only pick): each purchase attributed to
    the same user's closest click within ±30 minutes, either side. Uses
    asof_nearest_join — ONE struct arg-min per purchase, so the picked
    click's columns are mutually consistent even under timestamp ties
    (ties break by distance, click time, click id). The oracle replays
    the pick with a row_number over the same total order."""
    from gtec_etl_spark.operators.joins import asof_nearest_join

    ev = catalog.table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    return asof_nearest_join(
        purchases,
        clicks,
        key="user_id",
        left_time="p_ts",
        right_time="ts",
        value_cols=["click_id"],
        tolerance_us=1_800_000_000,
        direction="nearest",
        how="inner",  # unattributed purchases are out of scope here
    ).orderBy("purchase_id")


@query(
    "q41_fuzzy_blocked_match",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    dirty AS (
      SELECT name,
             substr(name, 1, (len(name) + 1) // 2 - 1)
               || substr(name, (len(name) + 1) // 2 + 1) AS dname
      FROM names
    )
    SELECT d.dname, n.name AS matched, 
           CAST(levenshtein(d.dname, n.name) AS BIGINT) AS dist
    FROM dirty d JOIN names n
      ON substr(d.dname, 1, 3) = substr(n.name, 1, 3)
    WHERE levenshtein(d.dname, n.name) <= 2
    ORDER BY dname, matched
    """,
    tags=("extended", "fuzzy", "scale"),
)
def q41_fuzzy_blocked_match(spark, sf_dir):
    """Blocked fuzzy entity matching: recover corrupted part names
    (deterministic middle-character drop) against the clean vocabulary
    via Levenshtein <= 2 — the entity-resolution pass an ETL pipeline
    runs on dirty catalogue/vendor feeds.

    Scale shape: the join is BLOCKED on a 3-char prefix key, so edit
    distance — O(mn) per pair, never pushed into the join condition
    without a block — runs only within prefix buckets: candidate count
    tracks bucket sizes, not |dirty| x |vocab| (never all-pairs).
    Blocking recall loss is part of the declared semantics (a corruption
    inside the first 3 chars exits the block), identically on both
    engines."""
    part = catalog.table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    dirty = names.select(
        "name",
        F.concat(
            F.expr("substr(name, 1, (length(name) + 1) div 2 - 1)"),
            F.expr("substr(name, (length(name) + 1) div 2 + 1)"),
        ).alias("dname"),
    )
    return (
        dirty.select("dname")
        .join(
            names,
            F.substring("dname", 1, 3) == F.substring("name", 1, 3),
        )
        .withColumn("dist", F.levenshtein("dname", "name").cast("long"))
        .filter(F.col("dist") <= 2)
        .select("dname", F.col("name").alias("matched"), "dist")
        .orderBy("dname", "matched")
    )


@query(
    "q42_unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS value
    FROM part WHERE p_partkey < 500
    ORDER BY p_partkey, metric
    """,
    tags=("extended",),
)
def q42_unpivot_part_metrics(spark, sf_dir):
    """Unpivot/melt (the inverse of q15/q28's pivots): wide per-part
    metrics into (key, metric, value) long form — the reshape every
    metrics store ingests. Map-side only (unpivot is an Expand node, no
    shuffle before the presentation sort); restricted to p_partkey < 500
    per the fingerprint-row convention."""
    part = catalog.table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return (
        part.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").alias("p_retailprice"),
        )
        .unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


GRID_N, GRID_CELL, GRID_R2 = 1024, 64, 4096  # cell >= radius => 3x3 probe


@query(
    "q43_spatial_grid_join",
    oracle=f"""
    WITH cpts AS (
      SELECT c_custkey AS cust_id,
             (c_custkey * 7919) % {GRID_N} AS cx,
             (c_custkey * 104729) % {GRID_N} AS cy
      FROM customer
    ),
    spts AS (
      SELECT s_suppkey AS supp_id,
             (s_suppkey * 12007) % {GRID_N} AS sx,
             (s_suppkey * 30011) % {GRID_N} AS sy
      FROM supplier
    ),
    near AS (
      SELECT c.cust_id, s.supp_id,
             (c.cx - s.sx) * (c.cx - s.sx)
             + (c.cy - s.sy) * (c.cy - s.sy) AS d2
      FROM cpts c JOIN spts s
        ON (c.cx - s.sx) * (c.cx - s.sx)
           + (c.cy - s.sy) * (c.cy - s.sy) <= {GRID_R2}
    )
    SELECT cust_id,
           CAST(count(*) AS BIGINT) AS n_near,
           CAST(min(struct_pack(d := d2, s := supp_id)).s AS BIGINT)
             AS nearest_supp,
           CAST(min(d2) AS BIGINT) AS nearest_d2
    FROM near GROUP BY cust_id ORDER BY cust_id
    """,
    tags=("extended", "join", "spec-anchor"),
)
def q43_spatial_grid_join(spark, sf_dir):
    """Grid-blocked SPATIAL radius join: each customer point matched to
    every supplier point within Euclidean distance sqrt({GRID_R2}) on a
    {GRID_N}x{GRID_N} integer plane (coordinates derived from the keys by
    fixed multiplicative hashing, so both engines construct identical
    point sets) — per customer: neighbor count, nearest supplier
    (ties by id), exact integer squared distance.

    Plan — the spatial-join analogue of q41's prefix blocking: points
    bucket into {GRID_CELL}-pixel grid cells (cell edge >= radius, so
    every qualifying pair is within one cell of 3x3 neighborhood); the
    SMALLER side (suppliers — the build side of any density-skewed
    spatial join) explodes to its 9 candidate cells, the equi-join on
    cell id replaces the quadratic distance cross-join, and the exact
    integer predicate filters candidates. Candidate count is
    sum-over-cells |C_cell| x |S_3x3-neighborhood| — linear in points at
    fixed density, the bound an R-tree gives without needing one
    distributed. The oracle IS the naive quadratic join (tractable at
    oracle scale), so the blocked plan's exactness — no pair lost at
    cell boundaries — is hash-checked, not asserted. Same two-level
    pattern as the Z-order layout (sinks/tabular.py:write_zordered):
    space-filling locality turned into an equi-key."""
    cust = catalog.table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        ((F.col("c_custkey") * 7919) % GRID_N).alias("cx"),
        ((F.col("c_custkey") * 104729) % GRID_N).alias("cy"),
    )
    supp = catalog.table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_id"),
        ((F.col("s_suppkey") * 12007) % GRID_N).alias("sx"),
        ((F.col("s_suppkey") * 30011) % GRID_N).alias("sy"),
    )
    c_cells = cust.withColumn(
        "cell",
        (F.col("cx") / GRID_CELL).cast("long") * (GRID_N // GRID_CELL)
        + (F.col("cy") / GRID_CELL).cast("long"),
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1),"
        " dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    s_cells = (
        supp.select("*", offsets.alias("o"))
        .select(
            "supp_id",
            "sx",
            "sy",
            (
                ((F.col("sx") / GRID_CELL).cast("long") + F.col("o.dx"))
                * (GRID_N // GRID_CELL)
                + ((F.col("sy") / GRID_CELL).cast("long") + F.col("o.dy"))
            ).alias("cell"),
        )
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    near = (
        c_cells.join(s_cells, "cell")
        .withColumn("d2", d2)
        .filter(F.col("d2") <= GRID_R2)
    )
    return (
        near.groupBy("cust_id")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min_by(
                F.col("supp_id"), F.struct(F.col("d2"), F.col("supp_id"))
            ).alias("nearest_supp"),
            F.min("d2").cast("long").alias("nearest_d2"),
        )
        .orderBy("cust_id")
    )


@query(
    "q44_quality_expectations",
    oracle="""
    SELECT * FROM (
      SELECT 'orders_custkey_not_null' AS expectation,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders_orderkey_unique',
             CAST(count(*) AS BIGINT),
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_custkey_in_customer',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders LEFT JOIN customer ON c_custkey = o_custkey
      UNION ALL
      SELECT 'orders_status_accepted_values',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_quantity_in_range',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
    )
    ORDER BY expectation
    """,
    tags=("extended", "quality", "scale"),
)
def q44_quality_expectations(spark, sf_dir):
    """Declarative data-quality EXPECTATIONS (the dbt-test / Great
    Expectations / Deequ contract surface) evaluated as one pass per
    table: not-null, uniqueness, referential integrity
    (orders.o_custkey ⊆ customer.c_custkey), accepted values, and range
    — each emitting (expectation, n_checked, n_violations). This is the
    relational generalization of the S1 validated-TSV reader's
    constraint checks (sources/validated.py): the same
    fail-with-evidence posture, applied to warehouse tables.

    Scale: every expectation is a single aggregate over one scan (the
    uniqueness check is count - count(distinct), a partial-aggregable
    pair — no self-join; the referential check is one keyed left join
    whose null-probe count is the violation count, broadcast when the
    dimension fits). Checks over the same table share a scan via the
    union of aggregates, and nothing returns row-level data — constant
    output regardless of corpus size, which is what lets a 100 TB
    pipeline run its contract on every load."""
    orders = catalog.table(spark, sf_dir, "orders")
    customer = catalog.table(spark, sf_dir, "customer")
    lineitem = catalog.table(spark, sf_dir, "lineitem")

    e1 = orders.agg(
        F.lit("orders_custkey_not_null").alias("expectation"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
    )
    e2 = orders.agg(
        F.lit("orders_orderkey_unique").alias("expectation"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")))
        .cast("long")
        .alias("n_violations"),
    )
    e3 = (
        orders.join(
            customer.select(F.col("c_custkey")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .agg(
            F.lit("orders_custkey_in_customer").alias("expectation"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )
    )
    e4 = orders.agg(
        F.lit("orders_status_accepted_values").alias("expectation"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    )
    e5 = lineitem.agg(
        F.lit("lineitem_quantity_in_range").alias("expectation"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    )
    return (
        e1.unionByName(e2)
        .unionByName(e3)
        .unionByName(e4)
        .unionByName(e5)
        .orderBy("expectation")
    )


INC_AGG_CUT = "1997-01-01"
INC_AGG_END = "1997-03-01"


@query(
    "etl_incremental_agg",
    oracle=f"""
    SELECT o_custkey AS cust_id,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    WHERE o_orderdate < DATE '{INC_AGG_END}' AND o_custkey < 500
    GROUP BY o_custkey
    ORDER BY cust_id
    """,
    tags=("incremental", "etl", "scale"),
)
def etl_incremental_agg(spark, sf_dir):
    """Incremental AGGREGATE maintenance (materialized-view delta
    refresh): a per-customer (count, integer-cents sum) aggregate table
    'stored' as of {INC_AGG_CUT} is brought current by merging ONLY the
    delta window [{INC_AGG_CUT}, {INC_AGG_END}) — never rescanning
    history. The merge is the partial-aggregate monoid: union the stored
    partials with the delta's partials and re-aggregate by key (counts
    add, cents add; integer cents per the float-parity discipline). The
    oracle is the FULL recompute over all orders before {INC_AGG_END},
    so the hash gate proves delta-merge == rescan — the algebraic
    property incremental view maintenance rests on (output surface
    bounded to cust_id < 500 per the fingerprint convention).

    Scale: the delta is date-partition-pruned (PushedFilters on
    o_orderdate), its aggregate is delta-sized, and the merge shuffles
    only (stored partials ∪ delta partials) on the key — at 100 TB the
    stored side is a parquet table hash-partitioned on cust_id, making
    the refresh cost O(delta + |keys touched|), independent of history
    length. The same shape maintains any commutative-monoid aggregate
    (sums, counts, min/max)."""
    orders = catalog.table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 500
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def partial(df):
        return df.groupBy(F.col("o_custkey").alias("cust_id")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )

    stored = partial(orders.filter(F.col("o_orderdate") < INC_AGG_CUT))
    delta = partial(
        orders.filter(
            (F.col("o_orderdate") >= INC_AGG_CUT)
            & (F.col("o_orderdate") < INC_AGG_END)
        )
    )
    return (
        stored.unionByName(delta)
        .groupBy("cust_id")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
        .orderBy("cust_id")
    )


@query(
    "q45_waiting_suppliers",
    oracle="""
    SELECT l1.l_suppkey AS supp_id,
           CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_waiting_orders
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY l1.l_suppkey
    HAVING count(DISTINCT l1.l_orderkey) >= 2
    ORDER BY n_waiting_orders DESC, supp_id
    """,
    tags=("extended", "subquery", "scale"),
)
def q45_waiting_suppliers(spark, sf_dir):
    """The TPC-H Q21 'suppliers who kept orders waiting' SHAPE (adapted
    to this corpus's reduced lineitem schema — returnflag stands in for
    the receipt-vs-commit lateness columns it lacks): for finished
    orders, count per supplier the DISTINCT orders with a returned
    lineitem where at least one OTHER supplier participated in the order
    (EXISTS) but NO other supplier also had a return (NOT EXISTS) —
    i.e., this supplier alone spoiled a multi-supplier order. The
    classic double-correlated-subquery stress: both subqueries correlate
    on l_orderkey with an inequality on the non-correlated column.

    Plan — the classic Q21 hand-decorrelation, taken one step past
    semi+anti (r8, VERDICT r7 #4): because the EXISTS probe and the NOT
    EXISTS probe differ only in a right-side filter, a semi+anti pair
    can never share its probe exchange (a right-only residual always
    pushes below the shuffle — measured: no ReusedExchange at any
    threshold). Instead BOTH subqueries collapse into a per-(order,
    supplier) rollup — one map-side-combined shuffle of lineitem to
    distinct (order, supplier, had_return) rows (no Expand: a
    COUNT(DISTINCT) pair would double the shuffled rows), then a
    second hash aggregate over the order key for n_supps /
    n_ret_supps. Since the outer row's supplier is itself in the order
    with a return, `EXISTS other supplier` <=> n_supps >= 2 and `NOT
    EXISTS other returning supplier` <=> n_ret_supps = 1 — and because
    a winning order has EXACTLY ONE returning supplier, that supplier
    is recoverable inside the SAME aggregate as max(CASE WHEN
    had_return THEN suppkey END): no window sort, no join-back, no
    probe-side rescan. Lineitem is read ONCE; orders joins only the
    tiny post-filter winner set. Pinned by
    test_waiting_suppliers_single_summary_join.

    Round 12 (VERDICT r11 #2, the 5.35 sf1 ratio): the two stacked
    groupBys each paid a full lineitem-sized shuffle — the (order,
    supplier) keys are near-unique, so the first aggregate's map-side
    combine removed almost nothing and the second shuffle moved the
    same ~6M rows again. One explicit repartition on l_orderkey now
    feeds BOTH aggregates: HashPartitioning(l_orderkey) satisfies the
    clustered distribution of {l_orderkey, l_suppkey} AND {l_orderkey},
    so both run exchange-free on one shuffle (plan: Scan -> Exchange ->
    4 stacked HashAggregates; the lost partial-agg combine was
    combining near-unique keys, i.e. nothing). Measured warm at sf1:
    6.19 s -> 2.71 s, sf0.1 1.20 -> 0.65 s (PERF.md round 12). The
    column-less repartition uses spark.sql.shuffle.partitions and stays
    AQE-coalescible — the right shape at 100 TB too, where one shuffle
    of the fact table instead of two is the whole game."""
    li = catalog.table(spark, sf_dir, "lineitem")
    orders = catalog.table(spark, sf_dir, "orders")

    per_supp = (
        li.select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_ret")
        )
    )
    winners = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supps"),
            F.sum("has_ret").alias("n_ret_supps"),
            F.max(
                F.when(F.col("has_ret") == 1, F.col("l_suppkey"))
            ).alias("l_suppkey"),
        )
        .filter((F.col("n_supps") >= 2) & (F.col("n_ret_supps") == 1))
        .select("l_orderkey", "l_suppkey")
    )
    finished = winners.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            F.col("o_orderkey").alias("l_orderkey")
        ),
        "l_orderkey",
    )
    return (
        finished.groupBy(F.col("l_suppkey").alias("supp_id"))
        # rollup rows are distinct (order, supplier) pairs, so a plain
        # count IS the distinct-order count
        .agg(F.count(F.lit(1)).alias("n_waiting_orders"))
        .filter(F.col("n_waiting_orders") >= 2)
        .orderBy(F.col("n_waiting_orders").desc(), "supp_id")
    )


@query(
    "q46_dormant_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS nation_id,
           CAST(count(*) AS BIGINT) AS n_custs,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_bal_cents
    FROM customer, avg_bal
    WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * n_pos > total_cents
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_nationkey
    ORDER BY nation_id
    """,
    tags=("extended", "subquery", "scale"),
)
def q46_dormant_rich_customers(spark, sf_dir):
    """The TPC-H Q22 'global sales opportunity' SHAPE: customers whose
    balance exceeds the positive-balance average (scalar subquery) and
    who placed no RECENT order (NOT EXISTS over a filtered orders
    subset — every customer in this corpus has SOME order, so the
    unfiltered variant returned 0 rows at every driver SF and the gate
    was vacuous; the 2000-01-01 cutoff yields 5 / 55 / 646 dormant-rich
    customers at sf0.001 / 0.01 / 0.1, ADVICE r7), grouped by nation
    (standing in for the phone country code this corpus's customer
    schema lacks) — count and integer-cents balance total per nation.

    Plan: the scalar threshold is a 1-row aggregate broadcast into the
    filter (no second full scan at the consumer); the threshold compare
    is pure BIGINT (`c_cents * n_pos > total_cents`) so no cross-engine
    float-summation order can flip a boundary row — a double avg()
    raced DuckDB's summation order before (the q17 discipline, now that
    the gate exercises real rows). The NOT EXISTS decorrelates to a
    left-anti against the date-filtered orders key projection (filter
    pushed below the shuffle). Both the anti join and the final groupBy
    are keyed shuffles."""
    cust = catalog.table(spark, sf_dir, "customer")
    orders = catalog.table(spark, sf_dir, "orders")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).cast("long").alias("total_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        cust.withColumn("c_cents", cents)
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_cents") * F.col("n_pos") > F.col("total_cents"))
    )
    dormant = rich.join(
        orders.filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        ).select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    )
    return (
        dormant.groupBy(F.col("c_nationkey").alias("nation_id"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("total_bal_cents"),
        )
        .orderBy("nation_id")
    )


INC_JOIN_DIM_MOD = 17  # c_custkey % MOD == 3 plays the late-arriving dim delta


@query(
    "etl_incremental_join",
    oracle=f"""
    SELECT c.c_nationkey AS nation_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderdate < DATE '{INC_AGG_END}'
    GROUP BY 1 ORDER BY nation_id
    """,
    tags=("incremental", "etl", "scale"),
)
def etl_incremental_join(spark, sf_dir):
    """Incremental JOIN-view maintenance — the delta-join algebra that
    keeps a materialized A JOIN B current without rescanning it:
      (A∪ΔA) ⋈ (B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ (A∪ΔA)⋈ΔB.
    Here A = orders before {INC_AGG_CUT} (the stored view's fact side),
    ΔA = the [{INC_AGG_CUT}, {INC_AGG_END}) date window, B = the
    customer dimension without the 1/{INC_JOIN_DIM_MOD} late-arriving
    slice, ΔB = that slice. Each of the three terms contributes PARTIAL
    per-nation aggregates (count + integer cents, the float-parity
    discipline), merged by the same monoid re-aggregation as
    etl_incremental_agg — extending incremental maintenance from
    single-table aggregates to joins. The oracle is the FULL recompute
    of (A∪ΔA)⋈(B∪ΔB), so the hash gate proves the delta algebra
    equals the rescan.

    Scale: ΔA is date-partition-pruned; ΔB is dimension-delta-sized and
    its term joins the full fact side — the one genuinely expensive
    term, and exactly the cost any engine pays when a dim row arrives
    late (mitigations at 100 TB: key-bucketed fact layout so the ΔB keys
    prune file groups, or an AQE-chosen broadcast of the small ΔB —
    both sides here are unhinted, corpus-scaled). The stored A⋈B term
    stands in for reading the materialized view's own partials; nothing
    rescans history twice."""
    orders = catalog.table(spark, sf_dir, "orders")
    cust = catalog.table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    a_old = orders.filter(F.col("o_orderdate") < INC_AGG_CUT)
    a_delta = orders.filter(
        (F.col("o_orderdate") >= INC_AGG_CUT)
        & (F.col("o_orderdate") < INC_AGG_END)
    )
    a_new = orders.filter(F.col("o_orderdate") < INC_AGG_END)
    is_dim_delta = F.col("c_custkey") % INC_JOIN_DIM_MOD == 3
    b_old = cust.filter(~is_dim_delta)
    b_delta = cust.filter(is_dim_delta)

    def partial(o, c):
        return (
            o.select(F.col("o_custkey").alias("c_custkey"), cents.alias("cents"))
            .join(c.select("c_custkey", "c_nationkey"), "c_custkey")
            .groupBy(F.col("c_nationkey").alias("nation_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("total_cents"),
            )
        )

    stored = partial(a_old, b_old)       # the materialized view's partials
    t_fact = partial(a_delta, b_old)     # ΔA ⋈ B
    t_dim = partial(a_new, b_delta)      # (A ∪ ΔA) ⋈ ΔB
    return (
        stored.unionByName(t_fact)
        .unionByName(t_dim)
        .groupBy("nation_id")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
        .orderBy("nation_id")
    )


@query(
    "q47_spatial_grid_scaled",
    oracle=f"""
    WITH nn AS (
      SELECT (SELECT count(*) FROM customer)
             + (SELECT count(*) FROM supplier) AS npts
    ),
    kk AS (
      SELECT min(k) AS k FROM range(0, 21) t(k), nn
      WHERE npts <= 64 * (1::BIGINT << (2 * k))
    ),
    gg AS (SELECT (1::BIGINT << k) * {GRID_CELL} AS gn FROM kk),
    cpts AS (
      SELECT c_custkey AS cust_id,
             (c_custkey * 7919) % gn AS cx,
             (c_custkey * 104729) % gn AS cy
      FROM customer, gg
    ),
    spts AS (
      SELECT s_suppkey AS supp_id,
             (s_suppkey * 12007) % gn AS sx,
             (s_suppkey * 30011) % gn AS sy
      FROM supplier, gg
    ),
    near AS (
      SELECT c.cust_id, s.supp_id,
             (c.cx - s.sx) * (c.cx - s.sx)
             + (c.cy - s.sy) * (c.cy - s.sy) AS d2
      FROM cpts c JOIN spts s
        ON (c.cx - s.sx) * (c.cx - s.sx)
           + (c.cy - s.sy) * (c.cy - s.sy) <= {GRID_R2}
    )
    SELECT cust_id,
           CAST(count(*) AS BIGINT) AS n_near,
           CAST(min(struct_pack(d := d2, s := supp_id)).s AS BIGINT)
             AS nearest_supp,
           CAST(min(d2) AS BIGINT) AS nearest_d2
    FROM near GROUP BY cust_id ORDER BY cust_id
    """,
    tags=("extended", "join", "scale"),
)
def q47_spatial_grid_scaled(spark, sf_dir):
    """DENSITY-SCALED spatial radius join — q43's 100 TB path. q43's
    fixed {GRID_N}x{GRID_N} plane SATURATES: 10x points on the same area
    means 10x density on BOTH sides, so candidate pairs AND true matches
    grow ~100x (measured at sf1: 50.5M candidates / 17.5M matches vs
    sf0.1's 505k / 175k — the 9.93 sf1 ratio is intrinsic output
    quadrature, not a plan defect). This twin grows the plane with the
    corpus instead: cells-per-side = 2^k for the smallest k with
    n_points <= 64 * 4^k (integer ladder, exact in both engines), so
    per-cell occupancy — and with it candidates per point and matches
    per point — stays bounded as N grows. The radius and cell edge stay
    {GRID_CELL} (cell >= radius keeps the 3x3 probe exact); only the
    plane, i.e. the coordinate modulus, scales. The two driver-side
    count() calls are bounded scalar collects (the planning statistic a
    catalog serves for free at scale). Oracle = the naive quadratic join
    computing the identical ladder in SQL."""
    cust_raw = catalog.table(spark, sf_dir, "customer")
    supp_raw = catalog.table(spark, sf_dir, "supplier")
    npts = cust_raw.count() + supp_raw.count()
    k = 0
    while npts > 64 * (4 ** k):
        k += 1
    cps, gn = 2 ** k, (2 ** k) * GRID_CELL
    cust = cust_raw.select(
        F.col("c_custkey").alias("cust_id"),
        ((F.col("c_custkey") * 7919) % gn).alias("cx"),
        ((F.col("c_custkey") * 104729) % gn).alias("cy"),
    )
    supp = supp_raw.select(
        F.col("s_suppkey").alias("supp_id"),
        ((F.col("s_suppkey") * 12007) % gn).alias("sx"),
        ((F.col("s_suppkey") * 30011) % gn).alias("sy"),
    )
    c_cells = cust.withColumn(
        "cell",
        (F.col("cx") / GRID_CELL).cast("long") * cps
        + (F.col("cy") / GRID_CELL).cast("long"),
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1),"
        " dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    # Probe cells CLAMPED to the plane: at small cps (<= 2) an
    # out-of-range (dx, dy) replica's id (ax*cps + ay) ALIASES a real
    # cell — (dx1-dx2)*cps == dy2-dy1 is satisfiable when cps <= 2 —
    # which duplicated supplier replicas within one cell and
    # double-counted pairs. In-range replicas can never collide (the
    # id is a bijection on [0,cps)^2), and out-of-range ones can never
    # match a customer cell, so the bounds filter is exactly the
    # dedup. q43's fixed cps=16 cannot alias; this twin's ladder can.
    ax = ((F.col("sx") / GRID_CELL).cast("long") + F.col("o.dx"))
    ay = ((F.col("sy") / GRID_CELL).cast("long") + F.col("o.dy"))
    s_cells = (
        supp.select("*", offsets.alias("o"))
        .filter((ax >= 0) & (ax < cps) & (ay >= 0) & (ay < cps))
        .select("supp_id", "sx", "sy", (ax * cps + ay).alias("cell"))
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    near = (
        c_cells.join(s_cells, "cell")
        .withColumn("d2", d2)
        .filter(F.col("d2") <= GRID_R2)
    )
    return (
        near.groupBy("cust_id")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min_by(
                F.col("supp_id"), F.struct(F.col("d2"), F.col("supp_id"))
            ).alias("nearest_supp"),
            F.min("d2").cast("long").alias("nearest_d2"),
        )
        .orderBy("cust_id")
    )


MB_MIN_SUPPORT = 12  # minimum baskets containing the item (pre-join prune)


@query(
    "q49_market_basket",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    freq AS (
      SELECT item, CAST(count(*) AS BIGINT) AS supp FROM items
      GROUP BY item HAVING count(*) >= {MB_MIN_SUPPORT}
    ),
    pruned AS (
      SELECT i.basket, i.item, f.supp FROM items i JOIN freq f USING (item)
    ),
    pair AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS pair_supp,
             CAST(min(a.supp) AS BIGINT) AS supp_a,
             CAST(min(b.supp) AS BIGINT) AS supp_b
      FROM pruned a JOIN pruned b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items)
    SELECT item_a, item_b, pair_supp,
           CAST(10000 * pair_supp // supp_a AS BIGINT) AS confidence_bp,
           CAST(10000 * pair_supp * n_baskets // (supp_a * supp_b) AS BIGINT)
             AS lift_e4
    FROM pair CROSS JOIN nb
    ORDER BY pair_supp DESC, item_a, item_b LIMIT 50
    """,
    tags=("extended", "join", "scale"),
)
def q49_market_basket(spark, sf_dir):
    """MARKET-BASKET association mining (the a-priori FIRST PASS): top
    co-purchased part pairs with support, confidence (P(b|a), basis
    points), and lift (observed/expected co-occurrence, x1e4) — all
    truncating integer ratios. The scale move is the CLASSIC one:
    support-prune items BEFORE the pair self-join (an item in fewer
    than {MB_MIN_SUPPORT} baskets can't form a frequent pair — monotone
    support), so the quadratic blowup only happens within baskets of
    frequent items; the pair join is an equi-join on basket id, never
    all-pairs. At 100 TB the same prune carries the full a-priori /
    FP-growth ladder."""
    lineitem = catalog.table(spark, sf_dir, "lineitem")
    items = lineitem.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    freq = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= MB_MIN_SUPPORT)
    )
    pruned = items.join(freq, "item")
    a = pruned.select("basket", F.col("item").alias("item_a"), F.col("supp").alias("sa"))
    b = pruned.select("basket", F.col("item").alias("item_b"), F.col("supp").alias("sb"))
    pair = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pair_supp"),
            F.min("sa").cast("long").alias("supp_a"),
            F.min("sb").cast("long").alias("supp_b"),
        )
        .filter(F.col("pair_supp") >= 3)
    )
    nb = items.agg(F.count_distinct("basket").cast("long").alias("n_baskets"))
    return (
        pair.crossJoin(F.broadcast(nb))  # 1-row global aggregate
        .select(
            "item_a",
            "item_b",
            "pair_supp",
            F.expr("10000 * pair_supp div supp_a").cast("long").alias("confidence_bp"),
            F.expr("10000 * pair_supp * n_baskets div (supp_a * supp_b)")
            .cast("long")
            .alias("lift_e4"),
        )
        .orderBy(F.col("pair_supp").desc(), "item_a", "item_b")
        .limit(50)
    )


@query(
    "q50_rfm_scores",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey AS cust_id,
             max(CAST(o_orderdate AS DATE)) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT cust_id,
             ntile(5) OVER (ORDER BY last_order, cust_id) AS r_score,
             ntile(5) OVER (ORDER BY frequency, cust_id) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents, cust_id) AS m_score
      FROM rfm
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(cust_id) AS BIGINT) AS min_cust
    FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score
    """,
    tags=("extended", "window", "spec-anchor"),
)
def q50_rfm_scores(spark, sf_dir):
    """RFM SEGMENTATION — the classic customer scoring pipeline: per
    customer recency (last order date), frequency (order count), and
    integer-cents monetary total, each quintiled by a GLOBAL ntile
    (ties broken by cust_id so the quintile boundaries are
    deterministic in both engines), then the 5x5x5 segment census. The
    global ntile is the one deliberate single-partition window in the
    registry — the fixture-scale plan states the ntile SEMANTICS; the
    shipped 100 TB twin is q50_rfm_scaled (broadcast quintile-boundary
    scoring over a hierarchical prefix sum — the q43->q47 pattern)."""
    from pyspark.sql import Window

    orders = catalog.table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("cust_id")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    scored = rfm.select(
        "cust_id",
        F.ntile(5)
        .over(Window.partitionBy().orderBy("last_order", "cust_id"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.partitionBy().orderBy("frequency", "cust_id"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.partitionBy().orderBy("monetary_cents", "cust_id"))
        .alias("m_score"),
    )
    return (
        scored.groupBy(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("cust_id").cast("long").alias("min_cust"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "q51_referential_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_checked,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            ANTI JOIN orders o ON o.o_orderkey = l.l_orderkey) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            ANTI JOIN part p ON p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            ANTI JOIN supplier s ON s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            ANTI JOIN customer c ON c.c_custkey = o.o_custkey)
    ORDER BY fk_edge
    """,
    tags=("extended", "quality"),
)
def q51_referential_audit(spark, sf_dir):
    """REFERENTIAL-INTEGRITY audit — the cross-table completeness report
    q44's single-table expectations don't cover: every foreign-key edge
    of the star schema gets (rows checked, orphan rows) via a left-anti
    join against its dimension. A lake has no FK enforcement, so this
    report IS the constraint — run post-ingest, alert on nonzero. Each
    edge is one anti join keyed on the FK (dimension side
    broadcast-able by AQE at any realistic dimension size); n_checked
    pins the scan cardinality so a silently-short scan can't fake a
    clean audit."""
    li = catalog.table(spark, sf_dir, "lineitem")
    orders = catalog.table(spark, sf_dir, "orders")
    part = catalog.table(spark, sf_dir, "part")
    supplier = catalog.table(spark, sf_dir, "supplier")
    customer = catalog.table(spark, sf_dir, "customer")

    def edge(name, fact, dim, fk, pk):
        checked = fact.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))
        orphans = fact.join(
            dim, F.col(pk) == F.col(fk), "left_anti"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        return (
            checked.crossJoin(orphans)  # 1-row x 1-row
            .select(F.lit(name).alias("fk_edge"), "n_checked", "n_orphans")
        )

    return (
        edge("lineitem.l_orderkey -> orders", li, orders, "l_orderkey", "o_orderkey")
        .unionByName(edge("lineitem.l_partkey -> part", li, part, "l_partkey", "p_partkey"))
        .unionByName(edge("lineitem.l_suppkey -> supplier", li, supplier, "l_suppkey", "s_suppkey"))
        .unionByName(edge("orders.o_custkey -> customer", orders, customer, "o_custkey", "c_custkey"))
        .orderBy("fk_edge")
    )


def _rfm_bounds_sql(dim: str) -> str:
    """Quintile boundaries for one RFM dimension: b_i = smallest value
    whose cumulative customer count reaches ceil(i*n/5). Pure integer
    arithmetic over the per-value histogram — exact cross-engine."""
    mins = ",\n             ".join(
        f"min(CASE WHEN cum >= ({i}*n+4)//5 THEN v END) AS {dim[0]}b{i}"
        for i in range(1, 5)
    )
    return f"""(
      SELECT {mins}
      FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum
            FROM (SELECT {dim} AS v, CAST(count(*) AS BIGINT) AS c
                  FROM rfm GROUP BY 1)), n
    )"""


def _rfm_score_sql(dim: str) -> str:
    b = dim[0] + "b"
    return (
        f"1 + ({dim} > {b}1)::BIGINT + ({dim} > {b}2)::BIGINT"
        f" + ({dim} > {b}3)::BIGINT + ({dim} > {b}4)::BIGINT"
    )


@query(
    "q50_rfm_scaled",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey AS cust_id,
             CAST(max(CAST(o_orderdate AS DATE)) - DATE '1992-01-01'
                  AS BIGINT) AS r_val,
             CAST(count(*) AS BIGINT) AS f_val,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS m_val
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rfm),
    rb AS {_rfm_bounds_sql("r_val")},
    fb AS {_rfm_bounds_sql("f_val")},
    mb AS {_rfm_bounds_sql("m_val")},
    scored AS (
      SELECT cust_id,
             {_rfm_score_sql("r_val")} AS r_score,
             {_rfm_score_sql("f_val")} AS f_score,
             {_rfm_score_sql("m_val")} AS m_score
      FROM rfm, rb, fb, mb
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(cust_id) AS BIGINT) AS min_cust
    FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score
    """,
    tags=("extended", "window", "scale"),
)
def q50_rfm_scaled(spark, sf_dir):
    """RFM segmentation, the 100 TB plan — q50_rfm_scores states the
    ntile SEMANTICS; this twin replaces its three global single-partition
    ntile windows with broadcast quintile-BOUNDARY scoring, the swap
    q50's own docstring specifies:

      1. per-customer RFM aggregate (keyed, map-side partials) —
         checkpointed once, reused by all four consumers;
      2. per dimension: value histogram (keyed groupBy, |distinct| rows)
         -> hierarchical prefix sum (operators/scale.py:
         distributed_prefix_sum — no unpartitioned row-scale window)
         -> the 4 boundary values b_i = min value whose cumulative count
         reaches ceil(i*n/5), as one global (1-row) aggregate;
      3. score = 1 + #{boundaries strictly below the value} via three
         broadcast 1-row joins — embarrassingly parallel;
      4. keyed 5x5x5 census.

    Semantic difference from q50, by design: equal values share a score
    (value-quantile semantics), where ntile splits ties by cust_id.
    That is exactly what a boundary lookup can promise at scale — and
    what production RFM actually wants (two identical customers should
    not land in different segments). Every stage is integer-exact, so
    the DuckDB oracle (same boundary definition via a window over the
    per-value histogram — oracle-side windows need not scale) hashes
    identically."""
    from gtec_etl_spark.operators.scale import distributed_prefix_sum

    orders = catalog.table(spark, sf_dir, "orders")
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("cust_id"))
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.to_date(F.lit("1992-01-01")),
            )
            .cast("long")
            .alias("r_val"),
            F.count(F.lit(1)).cast("long").alias("f_val"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("m_val"),
        )
        .localCheckpoint()  # |customers| rows, reused by 4 consumers
    )

    def bounds(col: str):
        hist = rfm.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        cum = distributed_prefix_sum(hist, "v", "c", out_col="cum")
        tot = hist.agg(F.sum("c").alias("n"))
        return (
            cum.crossJoin(F.broadcast(tot))  # 1-row global aggregate
            .agg(
                *[
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr(f"({i}*n+4) div 5"),
                            F.col("v"),
                        )
                    ).alias(f"{col[0]}b{i}")
                    for i in range(1, 5)
                ]
            )
        )

    def score(dim: str) -> str:
        b = dim[0] + "b"
        return (
            f"1 + cast({dim} > {b}1 as bigint) + cast({dim} > {b}2 as bigint)"
            f" + cast({dim} > {b}3 as bigint) + cast({dim} > {b}4 as bigint)"
        )

    scored = (
        rfm.crossJoin(F.broadcast(bounds("r_val")))  # 1-row boundary tables
        .crossJoin(F.broadcast(bounds("f_val")))
        .crossJoin(F.broadcast(bounds("m_val")))
        .select(
            "cust_id",
            F.expr(score("r_val")).alias("r_score"),
            F.expr(score("f_val")).alias("f_score"),
            F.expr(score("m_val")).alias("m_score"),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("cust_id").cast("long").alias("min_cust"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "q52_dominant_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    pt AS (
      SELECT l_partkey,
             CAST(sum(qty) AS BIGINT) AS total_qty,
             (min(struct_pack(nq := -qty, sk := l_suppkey))).sk AS lead_supp,
             -(min(struct_pack(nq := -qty, sk := l_suppkey))).nq AS lead_qty
      FROM ps GROUP BY l_partkey
    )
    SELECT s.s_suppkey AS supp_id, s.s_name AS supp_name,
           CAST(count(*) AS BIGINT) AS n_led_parts,
           CAST(sum(10000 * lead_qty // total_qty) AS BIGINT)
             AS total_share_bp
    FROM pt JOIN supplier s ON s.s_suppkey = pt.lead_supp
    GROUP BY 1, 2
    ORDER BY n_led_parts DESC, supp_id LIMIT 20
    """,
    tags=("extended", "join"),
)
def q52_dominant_supplier(spark, sf_dir):
    """TPC-H Q20's decorrelated shape adapted to the reduced schema (no
    partsupp/availqty): per part, the LEADING supplier by shipped
    quantity — Q20's correlated 'quantity > (SELECT ... )' subquery
    rewritten the way the engine always decorrelates it: one
    per-(part, supplier) aggregate, a per-part argmax OF THE FIRST (no
    second lineitem pass; struct-min with a negated quantity gives the
    deterministic max-qty-then-min-suppkey tie-break both engines agree
    on), integer share basis points, then the top-20 suppliers by parts
    led. Two keyed aggregations + one dimension join +
    TakeOrderedAndProject; the wide lineitem scan prunes to three
    columns."""
    li = catalog.table(spark, sf_dir, "lineitem")
    supplier = catalog.table(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty")
    )
    lead = F.min(F.struct((-F.col("qty")).alias("nq"), F.col("l_suppkey").alias("sk")))
    pt = ps.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("total_qty"),
        lead.getField("sk").alias("lead_supp"),
        (-lead.getField("nq")).cast("long").alias("lead_qty"),
    )
    return (
        pt.join(supplier, F.col("s_suppkey") == F.col("lead_supp"))
        .groupBy(
            F.col("s_suppkey").alias("supp_id"), F.col("s_name").alias("supp_name")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_led_parts"),
            F.sum(F.expr("10000 * lead_qty div total_qty"))
            .cast("long")
            .alias("total_share_bp"),
        )
        .orderBy(F.col("n_led_parts").desc(), "supp_id")
        .limit(20)
    )
