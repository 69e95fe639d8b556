"""Relational operator query pack (SURVEY.md §2.3–§2.9).

Each query exercises one operator family from the reference inventory,
re-expressed over the driver's TPC-H-ish tables. Doubles produced by
aggregation are rounded to 4 decimals on BOTH engines so the value-hash
comparison is well-defined. DuckDB sums of integers are cast to BIGINT to
match Spark's LongType.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.operators import aggregates as agg
from gtec_etl_spark.operators import joins as J
from gtec_etl_spark.plans.registry import query

# --------------------------------------------------------------------------
# A5-style aggregation: the TPC-H Q1 pricing summary shape.
# --------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                      AS sum_qty,
           round(sum(l_extendedprice), 4)                                 AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)              AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 4)                                      AS avg_qty,
           round(avg(l_extendedprice), 4)                                 AS avg_price,
           round(avg(l_discount), 4)                                      AS avg_disc,
           count(*)                                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q01_pricing_summary(spark, sf_dir):
    """Pricing summary (A5 statistics shape): 8 aggregates over two group
    keys, filter pushed to the parquet scan. Single shuffle with map-side
    partial aggregation."""
    li = catalog.table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Join chain with dimension broadcast (J1..J8 family + P4 title filter).
# --------------------------------------------------------------------------


@query(
    "q02_regional_revenue",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("join",),
)
def q02_regional_revenue(spark, sf_dir):
    """Five-way star join (P4 title-disjunction filter + J-chain). The two
    fixed-size dimension tables (nation 25 rows, region 5) are broadcast;
    the customer-derived dim is corpus-scaled so it carries NO hint — AQE
    picks broadcast at test scale and shuffle at 100 TB from measured size.
    Only the lineitem⋈orders join necessarily shuffles, and AQE coalesces
    the post-shuffle partitions."""
    t = catalog.load_tables(spark, sf_dir)
    dims = (
        t["customer"]
        .join(F.broadcast(t["nation"]), t["customer"].c_nationkey == t["nation"].n_nationkey)
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("c_custkey", "n_name")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


@query(
    "q03_top_revenue_orders",
    oracle="""
    SELECT o_orderkey, round(revenue, 4) AS revenue FROM (
      SELECT l_orderkey AS o_orderkey,
             sum(l_extendedprice * (1 - l_discount)) AS revenue
      FROM lineitem GROUP BY l_orderkey
    ) ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    tags=("topk",),
)
def q03_top_revenue_orders(spark, sf_dir):
    """O2/O5 top-k: global top-10 orders by revenue with deterministic
    tie-break. Spark's orderBy+limit compiles to TakeOrderedAndProject —
    a per-partition top-k then a driver merge; no full sort at scale."""
    li = catalog.table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("revenue", 4).alias("revenue"))
    )


@query(
    "q04_priority_semi_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join",),
)
def q04_priority_semi_join(spark, sf_dir):
    """J9/U4 left-semi join (EXISTS): orders having a returned lineitem,
    counted by priority."""
    t = catalog.load_tables(spark, sf_dir)
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        t["orders"]
        .join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "q05_customers_without_orders",
    oracle="""
    SELECT n.n_name, count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= DATE '1998-03-01')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("join",),
)
def q05_customers_without_orders(spark, sf_dir):
    """J9/P7 left-anti join (NOT EXISTS): customers with no RECENT orders
    (none since 1998-03-01), per nation — the reference's
    id-reconciliation 'missing' direction. Date-bounded rather than
    no-orders-ever because this corpus gives every customer at least one
    historical order at the small SFs, which left the gate checking an
    always-empty result (a vacuous gate that checks nothing); the
    cutoff yields 1/8/84 lapsed customers at sf0.001/0.01/0.1, so the
    anti join is exercised on real rows at every gate scale."""
    t = catalog.load_tables(spark, sf_dir)
    no_orders = J.anti_filter(
        t["customer"],
        t["orders"]
        .filter(F.col("o_orderdate") >= F.lit("1998-03-01").cast("date"))
        .select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )
    return (
        no_orders.join(F.broadcast(t["nation"]), no_orders.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


@query(
    "q06_derived_key_join",
    oracle="""
    SELECT derived_key, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_spend
    FROM (
      SELECT CAST(regexp_extract(c.c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS derived_key,
             o.o_totalprice
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    WHERE derived_key < 100
    GROUP BY derived_key
    ORDER BY derived_key
    """,
    tags=("join", "scalar"),
)
def q06_derived_key_join(spark, sf_dir):
    """J1 derived-key equi-join (portal_files.py:133-146): parse a numeric
    key out of a formatted id string with regexp_extract, join, aggregate.
    The regex runs JVM-side inside codegen; the dimension is broadcast."""
    t = catalog.load_tables(spark, sf_dir)
    cust = t["customer"].withColumn(
        "derived_key",
        F.regexp_extract(F.col("c_name"), r"Customer#(\d+)", 1).cast("long"),
    ).filter(F.col("derived_key") < 100)
    return (
        t["orders"]
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("derived_key")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
        .orderBy("derived_key")
    )


# --------------------------------------------------------------------------
# A4 mode / median representative-value picking.
# --------------------------------------------------------------------------


@query(
    "q07_mode_segment_per_nation",
    oracle="""
    SELECT c_nationkey, mode_value, mode_count FROM (
      SELECT c_nationkey, c_mktsegment AS mode_value, count(*) AS mode_count,
             row_number() OVER (
               PARTITION BY c_nationkey
               ORDER BY count(*) DESC, c_mktsegment ASC
             ) AS rn
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ) WHERE rn = 1 ORDER BY c_nationkey
    """,
    tags=("agg", "window"),
)
def q07_mode_segment_per_nation(spark, sf_dir):
    """A4 mode with the reference's tie-break (dna_extracts.py:49-53):
    count desc, then value asc. groupBy + row_number window."""
    cust = catalog.table(spark, sf_dir, "customer")
    return agg.mode_pick(cust, "c_nationkey", "c_mktsegment").orderBy("c_nationkey")


@query(
    "q08_median_acctbal_per_nation",
    oracle="""
    SELECT c_nationkey,
           round(median(c_acctbal), 4) AS median_value,
           round(avg(c_acctbal), 4)    AS mean_value
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    tags=("agg",),
)
def q08_median_acctbal_per_nation(spark, sf_dir):
    """A4 numeric representative value: exact interpolated median (the
    oracle-matching path; percentile_approx is the 100 TB swap-in)."""
    cust = catalog.table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.round(F.median("c_acctbal"), 4).alias("median_value"),
            F.round(F.avg("c_acctbal"), 4).alias("mean_value"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q09_orders_per_customer_histogram",
    oracle="""
    SELECT n_children, count(*) AS n_parents FROM (
      SELECT o_custkey, count(*) AS n_children FROM orders GROUP BY o_custkey
    ) GROUP BY n_children ORDER BY n_children
    """,
    tags=("agg",),
)
def q09_orders_per_customer_histogram(spark, sf_dir):
    """A3 two-level histogram (rna_extracts.py:13-46): orders per customer,
    then the histogram of those counts."""
    orders = catalog.table(spark, sf_dir, "orders")
    return agg.two_level_histogram(orders, "o_orderkey", "o_custkey").orderBy("n_children")


@query(
    "q10_group_collect_members",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS group_size,
           string_agg(c_name, ',' ORDER BY c_name) AS members
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
    tags=("agg",),
)
def q10_group_collect_members(spark, sf_dir):
    """A1 consent-group collect (gtex_v7_to_dats.py:193-224): per-group size
    + deterministic sorted member list (emitted as a joined string so the
    oracle hash is well-defined)."""
    cust = catalog.table(spark, sf_dir, "customer")
    return agg.group_collect(cust, ["c_nationkey", "c_mktsegment"], "c_name").orderBy(
        "c_nationkey", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# Constraint-style checks as queries (S1 dup-PK, A2 reconciliation).
# --------------------------------------------------------------------------


@query(
    "q11_duplicate_pk_check",
    oracle="""
    SELECT l_orderkey, l_linenumber, count(*) AS n
    FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("constraint",),
)
def q11_duplicate_pk_check(spark, sf_dir):
    """S1 duplicate-PK fatal (parsers/util.py:101-102) as a distributed
    check: groupBy PK, keep groups with count>1. Empty == constraint holds."""
    li = catalog.table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q12_union_distinct_parts",
    oracle="""
    SELECT DISTINCT p_brand, p_type FROM (
      SELECT p_brand, p_type FROM part WHERE p_size <= 10
      UNION ALL
      SELECT p_brand, p_type FROM part WHERE p_type IN ('ECONOMY', 'PROMO')
    ) ORDER BY p_brand, p_type
    """,
    tags=("setop",),
)
def q12_union_distinct_parts(spark, sf_dir):
    """U1/U3: unionByName of two filtered projections + dropDuplicates."""
    part = catalog.table(spark, sf_dir, "part")
    a = part.filter(F.col("p_size") <= 10).select("p_brand", "p_type")
    b = part.filter(F.col("p_type").isin("ECONOMY", "PROMO")).select("p_brand", "p_type")
    return a.unionByName(b).dropDuplicates().orderBy("p_brand", "p_type")


# --------------------------------------------------------------------------
# §2.9 scalar-function surface.
# --------------------------------------------------------------------------


@query(
    "q13_scalar_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                        AS name_upper,
           CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num,
           lpad(CAST(p_partkey AS VARCHAR), 9, '0')             AS padded_id,
           string_split(p_name, ' ')[1]                         AS first_word,
           substr(p_type, 1, 3)                                 AS type_prefix,
           concat(p_brand, ':', p_type)                         AS brand_type,
           length(p_name)                                       AS name_len
    FROM part WHERE p_partkey < 500 ORDER BY p_partkey
    """,
    tags=("scalar",),
)
def q13_scalar_suite(spark, sf_dir):
    """§2.9 scalar functions: regex extract, case conversion, zero-padding
    (the reference's '{:07d}' synthetic ids), split, substring, concat —
    all JVM-side built-ins inside one codegen stage."""
    part = catalog.table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") < 500)
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("long").alias("brand_num"),
            F.lpad(F.col("p_partkey").cast("string"), 9, "0").alias("padded_id"),
            F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
            F.substring("p_type", 1, 3).alias("type_prefix"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.length("p_name").alias("name_len"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q14_decode_status",
    oracle="""
    SELECT CASE o_orderstatus
             WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FULFILLED' WHEN 'P' THEN 'PENDING'
             ELSE 'UNKNOWN' END AS status_label,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders GROUP BY 1 ORDER BY status_label
    """,
    tags=("scalar",),
)
def q14_decode_status(spark, sf_dir):
    """integer_cv / decode-map semantics (parsers/util.py:74-84): a
    when/otherwise decode chain, then aggregate by the decoded label."""
    orders = catalog.table(spark, sf_dir, "orders")
    decoded = orders.withColumn(
        "status_label",
        F.when(F.col("o_orderstatus") == "O", "OPEN")
        .when(F.col("o_orderstatus") == "F", "FULFILLED")
        .when(F.col("o_orderstatus") == "P", "PENDING")
        .otherwise("UNKNOWN"),
    )
    return (
        decoded.groupBy("status_label")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("status_label")
    )


@query(
    "q15_segment_pivot",
    oracle="""
    SELECT n_name,
           CAST(count(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS automobile,
           CAST(count(*) FILTER (c_mktsegment = 'BUILDING')   AS BIGINT) AS building,
           CAST(count(*) FILTER (c_mktsegment = 'FURNITURE')  AS BIGINT) AS furniture,
           CAST(count(*) FILTER (c_mktsegment = 'HOUSEHOLD')  AS BIGINT) AS household,
           CAST(count(*) FILTER (c_mktsegment = 'MACHINERY')  AS BIGINT) AS machinery
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("pivot",),
)
def q15_segment_pivot(spark, sf_dir):
    """K3 dynamic-pivot shape (rdflib_tabular_dump.py:334-418): pivot
    customer counts by market segment per nation. Pivot values are passed
    explicitly (the two-pass distinct→pivot pattern resolved at plan time)
    so no extra job runs to discover them."""
    t = catalog.load_tables(spark, sf_dir)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    pivoted = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .pivot("c_mktsegment", segs)
        .count()
    )
    renamed = pivoted.select(
        "n_name", *[F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in segs]
    )
    return renamed.orderBy("n_name")


# --------------------------------------------------------------------------
# §2.6/§2.7 windows, ranking, running totals.
# --------------------------------------------------------------------------


@query(
    "q16_top3_lineitems_per_supplier",
    oracle="""
    SELECT l_suppkey, rn, l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
    FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 3 ORDER BY l_suppkey, rn
    """,
    tags=("window", "topk"),
)
def q16_top3_lineitems_per_supplier(spark, sf_dir):
    """O5 top-k per group via row_number window with full deterministic
    tie-break. One shuffle on the partition key."""
    li = catalog.table(spark, sf_dir, "lineitem")
    top = agg.top_k_per_group(
        li,
        "l_suppkey",
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        3,
    )
    return top.select(
        "l_suppkey", "rn", "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 4).alias("price"),
    ).orderBy("l_suppkey", "rn")


@query(
    "q17_running_revenue",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 100.0 AS running_revenue
    FROM lineitem WHERE l_suppkey < 5
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    tags=("window",),
)
def q17_running_revenue(spark, sf_dir):
    """Running total window (rows frame, deterministic multi-key order) —
    beyond the reference's surface (§2.6 notes no frames) but a required
    analytic capability.

    The summand is quantized to integer cents before the cumulative sum:
    windowed float sums are association-order-dependent (DuckDB uses a
    segment tree, Spark a sequential fold), so only an exact-integer
    accumulation is engine-portable."""
    from pyspark.sql import Window as W

    li = catalog.table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 5)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long")
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        (F.sum(cents).over(w) / 100.0).alias("running_revenue"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# Sessionization / as-of / range joins (scale-path operators).
# --------------------------------------------------------------------------


@query(
    "q18_sessionize_events",
    oracle="""
    SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM (
      SELECT user_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL THEN 1
                    WHEN date_diff('second',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) > 1800 THEN 1
                    ELSE 0 END AS new_session
        FROM events
      )
    ) GROUP BY user_id ORDER BY user_id
    """,
    tags=("window", "streaming"),
)
def q18_sessionize_events(spark, sf_dir):
    """Sessionization (gap > 30 min) via lag + cumulative sum — the batch
    equivalent of session_window in Structured Streaming. Single shuffle on
    user_id shared by both windows."""
    from pyspark.sql import Window as W

    ev = catalog.table(spark, sf_dir, "events")
    order_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = order_w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(order_w))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(order_w).isNull(), 1)
        .when(gap > 1800, 1)
        .otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(run_w))
    return (
        flagged.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "q19_asof_last_order",
    oracle="""
    SELECT event_id, user_id,
           CAST(max(combined) % 10000000 AS BIGINT) AS last_orderkey,
           max(o_orderdate) AS last_orderdate
    FROM (
      SELECT e.event_id, e.user_id, o.o_orderdate,
             CAST(epoch(o.o_orderdate) AS BIGINT) * 10000000 + o.o_orderkey AS combined
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      WHERE e.event_id < 1000
    )
    GROUP BY event_id, user_id
    ORDER BY event_id
    """,
    tags=("join", "asof"),
)
def q19_asof_last_order(spark, sf_dir):
    """As-of join (absent from the reference, SURVEY.md §2.4): for each
    event, the latest order of that user at-or-before the event time.
    Equi-join on the key + max — one shuffle, no per-row windows.
    Deterministic argmax via an (epoch·1e7 + orderkey) BIGINT encoding
    (engine-portable where a composite max_by is not)."""
    t = catalog.load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("event_id") < 1000).select("event_id", "user_id", "ts")
    o = t["orders"].select("o_custkey", "o_orderkey", "o_orderdate")
    combined = F.unix_timestamp("o_orderdate") * F.lit(10000000) + F.col("o_orderkey")
    return (
        ev.join(o, (F.col("o_custkey") == F.col("user_id")) & (F.col("o_orderdate") <= F.col("ts")))
        .withColumn("combined", combined)
        .groupBy("event_id", "user_id")
        .agg(
            (F.max("combined") % 10000000).alias("last_orderkey"),
            F.max("o_orderdate").alias("last_orderdate"),
        )
        .orderBy("event_id")
    )


@query(
    "q20_quantity_range_join",
    oracle="""
    WITH ranges(lo, hi, label) AS (
      VALUES (0, 5, 'XS'), (5, 15, 'S'), (15, 30, 'M'), (30, 60, 'L')
    )
    SELECT r.label, count(*) AS n_items, round(sum(l.l_quantity), 4) AS total_qty
    FROM lineitem l JOIN ranges r ON l.l_quantity >= r.lo AND l.l_quantity < r.hi
    GROUP BY r.label ORDER BY r.label
    """,
    tags=("join", "range"),
)
def q20_quantity_range_join(spark, sf_dir):
    """Range (point-in-interval) join via bucketization (the genomic-range
    scale path, SURVEY.md §1.2): ranges exploded into fixed-width buckets,
    equi-join on bucket, exact re-filter. Avoids the O(n·m) theta join."""
    li = catalog.table(spark, sf_dir, "lineitem")
    ranges = spark.createDataFrame(
        [(0, 5, "XS"), (5, 15, "S"), (15, 30, "M"), (30, 60, "L")],
        "lo long, hi long, label string",
    )
    joined = J.bucket_range_join(li, F.col("l_quantity"), F.broadcast(ranges), "lo", "hi", 5)
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
        .orderBy("label")
    )


@query(
    "q21_reconcile_ids",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders)
            WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS BIGINT)     AS left_found,
      CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders)
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT) AS left_missing,
      CAST((SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer)
            WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS BIGINT)       AS right_found,
      CAST((SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer)
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS BIGINT)   AS right_missing
    """,
    tags=("join", "constraint"),
)
def q21_reconcile_ids(spark, sf_dir):
    """J9 cross_check_ids (gtex_v7_to_dats.py:42-94): bidirectional
    found/missing counters via semi/anti joins."""
    t = catalog.load_tables(spark, sf_dir)
    orders_keys = t["orders"].select(F.col("o_custkey").alias("k"))
    cust_keys = t["customer"].select(F.col("c_custkey").alias("k"))
    return J.reconcile_ids(orders_keys, cust_keys, "k")
