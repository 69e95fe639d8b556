"""Unit tests for the forced-broadcast plan audit: the
guard must flag round 7's `graph_triangle_count` shape (forced broadcast of
a KEYED aggregate over an sf-scaled table — |V|-row degree dim) and must
pass the legitimate bounded shapes (global aggregate, limit, fixed-size
tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark.plan_audit import audit_forced_broadcasts, parse_tree

SF = "/root/testdata/sf0.001"


def _audit(df):
    return audit_forced_broadcasts(df._jdf.queryExecution().analyzed().toString())


def test_flags_forced_keyed_agg_broadcast(spark):
    # The round-7 triangle-count defect in miniature: degree table =
    # keyed aggregate over lineitem (corpus-scaled key domain), forced in.
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("d"))
    bad = li.join(F.broadcast(deg), "l_partkey")
    v = _audit(bad)
    assert len(v) == 1 and "lineitem" in v[0]


def test_flags_forced_raw_table_broadcast(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    v = _audit(li.join(F.broadcast(cust), li.l_orderkey == cust.c_custkey))
    assert len(v) == 1 and "customer" in v[0]


def test_passes_global_aggregate_broadcast(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    mx = li.agg(F.max("l_quantity").alias("mx"))
    assert _audit(li.crossJoin(F.broadcast(mx))) == []


def test_passes_limit_broadcast(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    top = li.select(F.col("l_orderkey").alias("ok")).limit(10)
    assert _audit(li.join(F.broadcast(top), li.l_orderkey == top.ok)) == []


def test_passes_fixed_size_table_broadcast(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    assert _audit(cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)) == []


def test_passes_unhinted_scaled_join(spark):
    # No hint: AQE decides — must not flag stats-chosen broadcasts.
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("d"))
    assert _audit(li.join(deg, "l_partkey")) == []


def test_parse_tree_depths(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    j = li.join(li.select(F.col("l_orderkey").alias("ok")), li.l_orderkey == F.col("ok"))
    rows = parse_tree(j._jdf.queryExecution().analyzed().toString())
    assert rows[0][0] == 0 and all(d >= 0 for d, _ in rows)
    assert any(n.startswith("Relation") for _, n in rows)
