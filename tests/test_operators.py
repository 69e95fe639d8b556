"""Unit tests for operator primitives not yet covered by the oracle-parity
suite: conflict-checked merge (J2/J3), as-of join, derived-key join with
dangling-FK detection, count assertion, and the bucketized range join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark.operators import aggregates as A
from gtec_etl_spark.operators import joins as J


def test_conflict_checked_merge(spark):
    base = spark.createDataFrame(
        [("s1", "male", None), ("s2", "female", "30-39"), ("s3", None, "20-29")],
        "id string, sex string, age string",
    )
    extra = spark.createDataFrame(
        [("s1", "male", "40-49", "A"), ("s2", "male", "30-39", "B"), ("s4", "female", None, "C")],
        "id string, sex string, age string, consent string",
    )
    merged, conflicts = J.conflict_checked_merge(base, extra, "id")

    conf = [(r["id"], r["column"], r["base_value"], r["extra_value"]) for r in conflicts.collect()]
    assert conf == [("s2", "sex", "female", "male")]  # the reference's fatal case

    rows = {r["id"]: r for r in merged.collect()}
    assert rows["s1"]["age"] == "40-49"          # null filled from extra
    assert rows["s1"]["consent"] == "A"          # new column carried over
    assert rows["s2"]["sex"] == "female"         # base wins on conflict
    assert rows["s3"]["consent"] is None         # no extra row -> null
    assert "s4" not in rows                      # left merge keeps base keys


def test_asof_join_operator(spark):
    facts = spark.createDataFrame(
        [(1, "2024-01-10"), (2, "2024-01-05")], "k long, t string"
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    events = spark.createDataFrame(
        [
            (1, "2024-01-01", "a"),
            (1, "2024-01-09", "b"),
            (1, "2024-01-11", "late"),
            (2, "2024-01-07", "future"),
        ],
        "k long, et string, payload string",
    ).select("k", F.col("et").cast("timestamp").alias("et"), "payload")

    out = J.asof_join(facts, events, "k", "k", "t", "et", ["payload"])
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["payload"] == "b"      # latest at-or-before
    assert rows[2]["payload"] is None     # only future events -> null

    # Stable row-tag variant (nondeterministic-upstream hardening): keying
    # the per-row group on an existing PK column gives identical results.
    tagged = J.asof_join(
        facts, events, "k", "k", "t", "et", ["payload"], row_tag="k"
    )
    assert {
        (r["k"], r["payload"]) for r in tagged.collect()
    } == {(r["k"], r["payload"]) for r in out.collect()}


def test_asof_join_row_tag_deterministic_under_shuffle(spark):
    """Property: with a stable row_tag, the asof result is a fixed multiset
    regardless of how the fact side is partitioned or ordered — including
    duplicate fact rows, which must each survive exactly once (the failure
    mode the monotonically_increasing_id caveat in the docstring warns
    about: a recomputed nondeterministic upstream can split/merge dup
    rows when the tag is physical)."""
    from collections import Counter

    facts = spark.createDataFrame(
        [(i, f"pk{i}", 100 + (i % 7) * 10) for i in range(40)]
        # two exact-duplicate PAYLOAD rows per key 0..4, distinct pk tags
        + [(i % 5, f"dup{i}", 120) for i in range(10)],
        "k long, pk string, t long",
    )
    events = spark.createDataFrame(
        [(k, et, f"v{k}_{et}") for k in range(7) for et in (95, 105, 115, 125)],
        "k long, et long, payload string",
    )

    def run(fact_df):
        out = J.asof_join(
            fact_df, events, "k", "k", "t", "et", ["payload"], row_tag="pk"
        )
        return Counter((r["pk"], r["payload"]) for r in out.collect())

    base = run(facts)
    assert sum(base.values()) == 50          # every fact row survives once
    assert max(base.values()) == 1           # pk is unique -> no merges
    for layout in (
        facts.repartition(13),
        facts.repartition(3, "t"),
        facts.orderBy(F.desc("t")).coalesce(1),
    ):
        assert run(layout) == base


def test_derived_key_join_and_dangling(spark):
    samples = spark.createDataFrame(
        [("GTEX-AB1-0001",), ("GTEX-AB1-0002",), ("GTEX-ZZ9-0001",)], "SAMPID string"
    )
    subjects = spark.createDataFrame([("GTEX-AB1", 60)], "SUBJID string, age long")
    joined = J.derived_key_join(
        samples, subjects, r"^(GTEX-[^-]+)", "SAMPID", "SUBJID"
    )
    assert joined.count() == 2
    dangling = J.dangling_keys(
        samples.withColumn("SUBJID", F.regexp_extract("SAMPID", r"^(GTEX-[^-]+)", 1)),
        subjects,
        "SUBJID",
    )
    assert [r["SAMPID"] for r in dangling.collect()] == ["GTEX-ZZ9-0001"]


def test_count_assertion(spark):
    actual = spark.createDataFrame([("GRU", 60), ("HMB", 39)], "code string, n long")
    expected = spark.createDataFrame([("GRU", 60), ("HMB", 40)], "code string, expected long")
    bad = A.count_assertion(actual, expected, "code", "n", "expected")
    assert [(r["code"], r["n"], r["expected"]) for r in bad.collect()] == [("HMB", 39, 40)]


def test_bucket_range_join_boundaries(spark):
    facts = spark.createDataFrame([(0,), (4,), (5,), (29,), (59,), (60,)], "v long")
    ranges = spark.createDataFrame(
        [(0, 5, "XS"), (5, 30, "S"), (30, 60, "L")], "lo long, hi long, label string"
    )
    out = J.bucket_range_join(facts, F.col("v"), ranges, "lo", "hi", 7)
    got = sorted((r["v"], r["label"]) for r in out.collect())
    # half-open [lo, hi): 5 goes to S, 60 matches nothing
    assert got == [(0, "XS"), (4, "XS"), (5, "S"), (29, "S"), (59, "L")]


def test_interval_overlap_join_equals_theta_join(spark):
    a = spark.createDataFrame(
        [(1, 0, 10), (2, 5, 6), (3, 100, 101), (4, 20, 40)], "a_id long, a_lo long, a_hi long"
    )
    b = spark.createDataFrame(
        [(11, 9, 12), (12, 5, 6), (13, 39, 45), (14, 200, 210)], "b_id long, b_lo long, b_hi long"
    )
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in J.interval_overlap_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 7).collect()
    )
    theta = sorted(
        (r["a_id"], r["b_id"])
        for r in a.join(
            b, (F.col("a_lo") < F.col("b_hi")) & (F.col("b_lo") < F.col("a_hi"))
        ).collect()
    )
    assert got == theta == [(1, 11), (1, 12), (2, 12), (4, 13)]


def test_interval_overlap_join_excludes_empty_intervals(spark):
    # Half-open [x, x) covers nothing: an empty interval lying INSIDE a
    # covering interval must not match (the raw strict predicate
    # a_lo < b_hi AND b_lo < a_hi would wrongly treat it as a point), and
    # the burst must not emit descending-sequence bucket rows for it.
    a = spark.createDataFrame([(1, 5, 5), (2, 3, 4)], "a_id long, a_lo long, a_hi long")
    b = spark.createDataFrame([(11, 0, 10), (12, 7, 7)], "b_id long, b_lo long, b_hi long")
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in J.interval_overlap_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 7).collect()
    )
    assert got == [(2, 11)]  # only the real interval pair survives


def test_found_counters(spark):
    df = spark.createDataFrame([(1,), (2,), (3,), (4,)], "x long")
    out = A.found_counters(df, F.col("x") <= 3).collect()[0]
    assert (out["n_found"], out["n_not_found"]) == (3, 1)


def test_connected_components_chain_and_isolate(spark):
    from gtec_etl_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # Chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 5-6,
    # isolated 7.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (6, 5)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_asof_nearest_join_directions(spark):
    from datetime import datetime

    from gtec_etl_spark.operators.joins import asof_nearest_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 10, t(30))], "lid long, k long, lt timestamp"
    )
    right = spark.createDataFrame(
        [(100, 10, t(20)), (200, 10, t(35)), (300, 10, t(50)), (400, 99, t(30))],
        "rid long, k long, rt timestamp",
    )
    def run(direction, tol=60_000_000, how="inner"):
        rows = asof_nearest_join(
            left, right, key="k", left_time="lt", right_time="rt",
            value_cols=["rid"], tolerance_us=tol, direction=direction, how=how,
        ).collect()
        return [(r["rid"], r["asof_dist_us"]) for r in rows]

    assert run("nearest") == [(200, 5_000_000)]      # +5s beats -10s
    assert run("backward") == [(100, 10_000_000)]    # only at-or-before
    assert run("forward") == [(200, 5_000_000)]
    assert run("nearest", tol=1_000_000) == []       # inner: excluded
    # merge_asof default: unmatched left rows survive with NULLs.
    assert run("nearest", tol=1_000_000, how="left") == [(None, None)]


def test_asof_nearest_join_keeps_duplicate_left_rows(spark):
    from datetime import datetime

    from gtec_etl_spark.operators.joins import asof_nearest_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    # Two IDENTICAL left rows (no unique id): merge_asof returns both.
    left = spark.createDataFrame(
        [(10, t(30)), (10, t(30))], "k long, lt timestamp"
    )
    right = spark.createDataFrame([(100, 10, t(20))], "rid long, k long, rt timestamp")
    rows = asof_nearest_join(
        left, right, key="k", left_time="lt", right_time="rt",
        value_cols=["rid"], tolerance_us=60_000_000,
    ).collect()
    assert [r["rid"] for r in rows] == [100, 100]


def test_pagerank_path_graph_symmetry_and_mass(spark):
    """Integer PageRank on the undirected path a—b—c: symmetry forces
    rank(a) == rank(c) < rank(b), and the total mass stays within
    rounding slack of the fixed-point scale (floors only ever lose
    sub-integer mass, bounded by iters * (|V| + |E|))."""
    from gtec_etl_spark.operators.graph import PR_SCALE, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iters=4).collect()}
    assert ranks["a"] == ranks["c"] < ranks["b"]
    total = sum(ranks.values())
    assert abs(total - PR_SCALE) < 1000


def test_personalized_pagerank_seed_locality_and_mass(spark):
    """PPR on two disconnected path components a—b—c and x—y with seed
    {a}: every node in the seed's component holds positive rank after
    enough iterations, the off-component nodes hold exactly ZERO (no
    uniform teleport — the defining PPR property), and total mass stays
    within rounding slack of the fixed-point scale."""
    from gtec_etl_spark.operators.graph import PR_SCALE, personalized_pagerank

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
            ("x", "y"), ("y", "x"),
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    ranks = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(edges, seeds, iters=4).collect()
    }
    assert ranks["x"] == ranks["y"] == 0
    assert ranks["a"] > 0 and ranks["b"] > 0 and ranks["c"] > 0
    # seed keeps the largest share (teleport returns there every round)
    assert ranks["a"] == max(ranks.values())
    total = sum(ranks.values())
    assert 0 <= PR_SCALE - total < 1000
