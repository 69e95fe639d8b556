"""Scale-strategy tests: salted joins preserve semantics; bucketed tables
join without exchanges.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.operators import scale
from tests.conftest import SF_DIR


def _sorted(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_salted_join_matches_plain_join(spark):
    t = catalog.load_tables(spark, SF_DIR)
    orders = t["orders"].select("o_orderkey", F.col("o_custkey").alias("c_custkey"))
    cust = t["customer"].select("c_custkey", "c_name")
    plain = orders.join(cust, "c_custkey")
    salted = scale.salted_join(orders, cust, "c_custkey", n_salts=4)
    cols = ["c_custkey", "o_orderkey", "c_name"]
    assert _sorted(salted, cols) == _sorted(plain, cols)


def test_salted_join_left_semantics(spark):
    spark_df = spark.createDataFrame([(1, "a"), (2, "b"), (99, "dangling")], "k long, v string")
    dim = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    out = scale.salted_join(spark_df, dim, "k", n_salts=3, how="left")
    rows = {r["k"]: r["w"] for r in out.collect()}
    assert rows == {1: "X", 2: "Y", 99: None}
    assert out.count() == 3  # no duplication from salting


def test_bucketed_join_has_no_exchange(spark):
    t = catalog.load_tables(spark, SF_DIR)
    scale.write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders_b", "o_orderkey", 8,
    )
    scale.write_bucketed(
        t["lineitem"].select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "lineitem_b", "o_orderkey", 8,
    )
    joined = scale.bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey")
    n_ex = scale.count_exchanges(joined)
    assert n_ex == 0, f"bucketed join should not shuffle, found {n_ex} exchanges"
    # and the result is the same as the plain join
    plain = (
        t["orders"]
        .select(F.col("o_orderkey"), "o_custkey", "o_totalprice")
        .join(t["lineitem"].select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"), "o_orderkey")
    )
    assert joined.count() == plain.count()


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: with a fact table partitioned on the
    join key's domain (event date here) and a selective dim filter,
    Spark must inject a dynamicpruning subquery into the fact scan so
    only matching partitions are read — at 100 TB the difference
    between scanning a day and scanning the lake. Asserted on the plan
    (dynamicpruning expression present) AND on the result."""
    ev = catalog.table(spark, SF_DIR, "events").withColumn(
        "d", F.to_date("ts")
    )
    fact_path = str(tmp_path / "fact")
    ev.write.partitionBy("d").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        ev.select("d").distinct()
        .withColumn("tag", F.dayofmonth("d") % 7)
    )
    joined = fact.join(dim.filter(F.col("tag") == 3), "d").groupBy("d").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = {
        r["d"]: r["count"]
        for r in ev.groupBy("d").count().join(
            dim.filter(F.col("tag") == 3), "d"
        ).select("d", "count").collect()
    }
    got = {r["d"]: r["count"] for r in joined.collect()}
    assert got == want and got


def test_distributed_prefix_sum_matches_naive_window(spark):
    from pyspark.sql import Window

    docs = catalog.table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    got = scale.distributed_prefix_sum(docs, "doc_id", "n_chars", bucket=64)
    naive = docs.withColumn(
        "cum",
        F.sum("n_chars").over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert got.select("doc_id", "cum").exceptAll(naive.select("doc_id", "cum")).count() == 0
    assert got.count() == naive.count()


def test_distributed_prefix_sum_plan_has_no_global_row_window(spark):
    """The row-scale windows must be hash-PARTITIONED (_b1/_b2 keys); only
    the super-bucket spine may run an unpartitioned ordered window. A
    windowspecdefinition whose first argument is the order column itself
    (no partition key) over the base rows would be the single-task shape
    the operator exists to avoid."""
    docs = catalog.table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    out = scale.distributed_prefix_sum(docs, "doc_id", "n_chars")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(doc_id#" in line:
            raise AssertionError(f"global row-scale window found: {line.strip()}")


def test_fanout_guard_fires_in_fake_slice_regime(spark):
    """A compact scan reporting exactly defaultParallelism partitions is
    the fake-slice regime (byte slices of a single row group — most read
    zero rows), so the guard must repartition it; a frame already wider
    than 2x cores must pass through untouched (at 100 TB the guard is a
    no-op). min_bytes=0 disables the small-scan floor so this pins the
    partition-count logic in isolation."""
    par = spark.sparkContext.defaultParallelism
    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))

    narrow = docs.coalesce(min(par, 4))
    assert narrow.rdd.getNumPartitions() < 2 * par
    out = scale.cpu_fanout_repartition(narrow, "doc_id", min_bytes=0)
    assert out.rdd.getNumPartitions() == par

    wide = docs.repartition(2 * par + 1, "doc_id")
    out2 = scale.cpu_fanout_repartition(wide, "doc_id", min_bytes=0)
    assert out2.rdd.getNumPartitions() == 2 * par + 1
    assert out2 is wide


def test_fanout_guard_bytes_floor_skips_tiny_scans(spark):
    """A narrow frame whose estimated size is below the bytes floor
    must pass through UNTOUCHED (the exchange costs more than the fan-out
    it would unblock at that size), while the same frame clears the guard
    once the floor is below its size estimate. spark.range(1000) of one
    long column estimates at 8 KB."""
    par = spark.sparkContext.defaultParallelism
    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    narrow = docs.coalesce(min(par, 4))

    out = scale.cpu_fanout_repartition(narrow, "doc_id")  # default floor 2 MB
    assert out is narrow

    out2 = scale.cpu_fanout_repartition(narrow, "doc_id", min_bytes=1024)
    assert out2.rdd.getNumPartitions() == par
