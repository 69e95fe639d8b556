"""Physical-plan regression tests: the properties that make these queries
scale are asserted on the plan itself, so a refactor that silently drops a
pushdown or broadcast fails CI — the engine-level equivalent of the
reference's hand-tuned join orders (SURVEY.md §4).
"""

from __future__ import annotations

import io
import contextlib
import re

import pytest

from gtec_etl_spark.plans import registry
from tests.conftest import SF_DIR


def _formatted_plan(spark, name: str) -> str:
    df = registry.specs()[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filter_reaches_parquet_scan(spark):
    plan = _formatted_plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_schema_pruned_to_needed_columns(spark):
    plan = _formatted_plan(spark, "q01_pricing_summary")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema  # unused columns never leave parquet
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_star_join_dimensions_broadcast(spark):
    for name in ["q02_regional_revenue", "ref_q6_tabular_dump"]:
        plan = _formatted_plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast joins"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product!"


def test_topk_compiles_to_take_ordered(spark):
    plan = _formatted_plan(spark, "q03_top_revenue_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_semi_anti_joins_stay_semi_anti(spark):
    plan = _formatted_plan(spark, "q04_priority_semi_join")
    assert "LeftSemi" in plan
    plan = _formatted_plan(spark, "q05_customers_without_orders")
    assert "LeftAnti" in plan


def test_window_queries_shuffle_once_per_key(spark):
    # q16's single window over l_suppkey: one hash-partition exchange for
    # the window plus the final presentation (range) sort; never more.
    # executedPlan inlines "Exchange hashpartitioning(...)" on one line.
    df = registry.specs()["q16_top3_lineitems_per_supplier"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges == 1, f"expected 1 hash exchange, got {n_hash_exchanges}"


def test_no_python_udfs_in_relational_queries(spark):
    # The relational pack must stay JVM-side (SURVEY.md §2.11): python
    # evals appear as BatchEvalPython / ArrowEvalPython nodes.
    for name in ["q13_scalar_suite", "q17_running_revenue", "ref_q6_tabular_dump"]:
        plan = _formatted_plan(spark, name)
        assert "EvalPython" not in plan, f"{name}: Python UDF leaked into the plan"


def test_k2_docs_no_join_no_python(spark):
    # Per-entity document emission is scan -> project -> sort: no
    # exchange other than the presentation sort, nothing Python-side.
    plan = _formatted_plan(spark, "k2_per_entity_docs")
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_datacite_read_prunes_and_projects(spark):
    plan = _formatted_plan(spark, "src_datacite_works")
    assert "EvalPython" not in plan


def test_correlated_exists_decorrelates_to_semi_anti(spark):
    df = registry.specs()["q37_correlated_exists"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_lateral_decorrelates_to_window(spark):
    df = registry.specs()["q38_lateral_topk_per_group"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan  # not a per-group re-scan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_flagship_ref_queries_plan_properties(spark):
    # Every reference-parity flagship: dimensions broadcast, predicates
    # reach the parquet scan, nothing cartesian, nothing Python-side.
    for name in [
        "ref_q1_second_level_datasets",
        "ref_q2_dataset_variables",
        "ref_q3_study_group_members",
        "ref_q4_subject_characteristics",
        "ref_q5_subject_sample_chain",
    ]:
        plan = _formatted_plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast joins"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product!"
        assert "EvalPython" not in plan, f"{name}: Python leaked into plan"
        pushed = [
            l for l in plan.splitlines() if "PushedFilters" in l and "[]" not in l
        ]
        assert pushed, f"{name}: no filters pushed to any scan"


def test_multi_resolution_rollup_single_scan_expand(spark):
    # ROLLUP must compile to ONE parquet scan feeding an Expand (each row
    # replicated per grouping set) + one hash aggregate pair — not a union
    # of per-resolution scans. N resolutions for one scan's cost is the
    # whole point of the operator.
    plan = _formatted_plan(spark, "ev_multi_resolution_rollup")
    # formatted output shows each node twice (tree + detail section);
    # count the tree lines only.
    assert plan.count("+- Scan parquet") == 1
    assert "Expand" in plan


def test_no_oracle_emits_hugeint(spark):
    # DuckDB promotes integer sums to HUGEINT (int128). A fetchall()
    # client gets exact Python ints, but a pandas/arrow fetch path renders
    # int128 as float64/decimal whose canonical string diverges from
    # Spark's int64 — hash-red with rows+schema green on any comparator
    # that isn't fetchall-based, and a single such oracle keeps its query
    # hash-red while its rows and schema match. Every integer aggregate
    # in an oracle must be CAST to BIGINT; this pins the whole registry.
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events"
        " documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    offenders = {}
    for name, spec in registry.specs().items():
        if spec.oracle is None:
            continue
        res = con.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0")
        bad = {
            c: str(t)
            for c, t in zip(res.columns, res.types)
            if "HUGEINT" in str(t)
        }
        if bad:
            offenders[name] = bad
    assert not offenders, f"oracles with int128 output columns: {offenders}"


def test_retention_cohorts_two_data_shuffles(spark):
    """ev_retention_cohorts: the collect_set formulation — one shuffle on
    user_id, one on the (cohort, offset) matrix, plus the window over the
    tiny matrix; the naive distinct/min/join shape costs four data-sized
    exchanges and a join."""
    plan = _formatted_plan(spark, "ev_retention_cohorts")
    assert plan.count("Arguments: hashpartitioning") <= 3
    assert "Join" not in plan


def test_scd2_merge_broadcasts_batch_over_history(spark):
    """etl_scd2_merge: every join of history against the (small) batch is
    a broadcast — the dimension side never shuffles."""
    plan = _formatted_plan(spark, "etl_scd2_merge")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_upsert_collapses_log_before_merge(spark):
    """etl_cdc_upsert: the changelog collapse (max_by per key) happens
    before the single merge join, and nothing falls to a cartesian."""
    plan = _formatted_plan(spark, "etl_cdc_upsert")
    assert "max_by" in plan
    assert "CartesianProduct" not in plan
    # The merge is split into broadcast-honored branches (BroadcastHashJoin
    # has no full-outer support) — the dimension must never shuffle.
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_triangle_count_broadcasts_degrees_no_global_sort(spark):
    """graph_triangle_count: the degree table must broadcast into the
    orientation (never shuffle the edge list against |V| rows twice), the
    triangle closure must stay a LeftSemi join, and nothing cartesian."""
    plan = _formatted_plan(spark, "graph_triangle_count")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_spatial_grid_join_is_equi_join_on_cell(spark):
    """q43_spatial_grid_join: the radius join must execute as an EQUI join
    on the grid cell (the blocked plan), never a nested-loop over the
    distance predicate; the 9-cell probe is a Generate (explode) on the
    supplier side."""
    plan = _formatted_plan(spark, "q43_spatial_grid_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_waiting_suppliers_single_summary_join(spark):
    """q45 (r8 shape): both correlated subqueries collapse into ONE
    per-(order, supplier) rollup + a second order-key hash aggregate —
    lineitem is read once, with NO Expand (a COUNT(DISTINCT) pair would
    double the shuffled rows), NO window sort, and no semi/anti probes
    (which can never share their exchange: a right-only residual always
    pushes below the shuffle). The only join left is the tiny winner
    set against orders."""
    df = registry.specs()["q45_waiting_suppliers"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "Expand" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # lineitem scanned exactly once; one join (winners x orders)
    assert plan.count("Scan parquet") == 2  # lineitem + orders
    assert sum(
        line.count("Join") for line in plan.splitlines() if "Join" in line
    ) == 1
    # r12: ONE explicit repartition on l_orderkey feeds BOTH stacked
    # aggregates exchange-free (HashPartitioning(o) satisfies the {o,s}
    # and {o} clustered distributions) — no exchange may appear between
    # the (order, supplier) rollup and the order-level summary.
    assert "REPARTITION_BY_COL" in plan
    lines = plan.splitlines()
    agg_os = next(
        i for i, l in enumerate(lines)
        if "HashAggregate" in l and "l_orderkey" in l and "l_suppkey" in l
    )
    join_line = next(i for i, l in enumerate(lines) if "Join" in l)
    assert join_line < agg_os, "plan shape changed; fix the slice below"
    assert not any(
        "Exchange" in l for l in lines[join_line:agg_os]
    ), "exchange crept back between the stacked aggregates"


def test_dormant_rich_scalar_broadcast_anti(spark):
    """q46: the scalar average reaches the filter via a broadcast (1-row
    nested loop), the NOT EXISTS is a left-anti; no second full customer
    scan for the average's consumer."""
    plan = _formatted_plan(spark, "q46_dormant_rich_customers")
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_rfm_scaled_no_row_scale_global_window(spark):
    """q50_rfm_scaled exists to kill q50's three global ntile windows: the
    executed plan must contain NO window whose spec leads with a row-scale
    column (v = the per-value histogram key; the only legal unpartitioned
    windows are the prefix-sum super-bucket spines over _b2). Also: no
    ntile anywhere, and no cartesian."""
    df = registry.specs()["q50_rfm_scaled"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition(v#" in line:
            raise AssertionError(f"global row-scale window found: {line.strip()}")


def test_ref_q2_builds_on_filtered_chain_not_facts(spark):
    """ref_q2_dataset_variables (r11 shape): the two fact joins must be
    ShuffledHashJoins (build side = the study-filtered chain via hint),
    never a broadcast build of orders/lineitem — the r10 plan built
    driver-side hashed relations of the FACTS because their 2-column
    pruned estimates sat under the broadcast threshold."""
    df = registry.specs()["ref_q2_dataset_variables"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") == 2
    # nation->customer and the part dimension may broadcast; the fact
    # tables must not be build sides anywhere.
    assert "CartesianProduct" not in plan


def test_degree_distribution_single_join_single_distinct(spark):
    """graph_degree_distribution (r11 shape): exactly ONE orders-lineitem
    join and ONE distinct aggregation — the r10 union shape executed the
    join and the pair-distinct twice (once per union branch)."""
    df = registry.specs()["graph_degree_distribution"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    scans = len(re.findall(r"FileScan parquet [^\n]*orders", plan))
    assert scans == 1, f"orders scanned {scans} times"
    assert "Generate explode" in plan or "Generate" in plan


def test_kcore_peel_is_keyed_joins(spark):
    """graph_kcore: the returned frame is a driver-assembled curve, but
    the peel rounds must have produced bounded results — smoke-assert the
    curve is monotone non-increasing and the round-0 row matches the
    symmetric edge count."""
    df = registry.specs()["graph_kcore"].fn(spark, SF_DIR)
    rows = df.collect()
    nodes = [r["n_nodes"] for r in rows]
    edges = [r["n_edges_directed"] for r in rows]
    assert nodes == sorted(nodes, reverse=True)
    assert edges == sorted(edges, reverse=True)
    assert all(e % 2 == 0 for e in edges)  # symmetric edge table


def test_markov_transitions_one_user_exchange(spark):
    """ev_markov_transitions: exactly ONE exchange touches event-scale
    data (hashpartitioning on user_id feeding the lead() window); the
    pair count and per-source totals run on the bounded transition
    relation."""
    df = registry.specs()["ev_markov_transitions"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    user_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "user_id" in l
    ]
    assert len(user_exchanges) == 1
    assert "CartesianProduct" not in plan


def test_psi_drift_single_scan_bucket_rollup(spark):
    """prof_drift_psi: one scan of events collapses into the <=10-bucket
    relation before anything else — the scalars ride a broadcast 1-row
    aggregate and the window total runs on bucket-sized data. No
    event-scale window, no event-keyed join."""
    df = registry.specs()["prof_drift_psi"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2  # counts pass + scalars reuse
    assert "CartesianProduct" not in plan
    # the only Window is over the bucket relation (no partition columns
    # from events, and upstream of it sits the bucket HashAggregate)
    assert "SortMergeJoin" not in plan


def test_degree_distribution_dedups_unmirrored_pairs(spark):
    """graph_degree_distribution (r15 shape): the distinct runs on the
    UN-mirrored (c, s) pair — the mirror explode sits ABOVE the dedup
    aggregate, so the dominant exchange carries |join output| rows, not
    2x. Pin: the explode's child is the aggregate side (no struct-pair
    Generate below the first HashAggregate), cheapest checked as: the
    plan's Generate explodes a 2-element plain array, not an array of
    structs."""
    df = registry.specs()["graph_degree_distribution"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode(array(c" in plan
    assert "struct(src" not in plan


def test_graph_edge_build_single_shuffle_presorted(spark):
    """Graph-family edge build: the iterative
    queries persist edges as repartition(key) -> dropDuplicates ->
    sortWithinPartitions(key). Two properties this pins:

    1. dropDuplicates AFTER repartition(key) adds NO exchange —
       HashPartitioning(key) satisfies the (key, other) clustering
       requirement, so the dedup reuses the one shuffle (the old
       distinct-then-repartition shape paid a second full-corpus
       exchange; sf10 A/B 32.2 -> 24.1 s warm).
    2. The persisted relation carries its sort order, so per-round
       sort-merge joins sort only the node-sized side (the unsorted
       cache re-sorted 2|E| rows per round and SPILLED at sf10 —
       204.5 -> 24.2 s on label propagation).
    """
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        (F.col("id") % 37).alias("src"), (F.col("id") % 11).alias("dst")
    )
    built = (
        df.repartition("src")
        .dropDuplicates(["src", "dst"])
        .sortWithinPartitions("src")
    )
    plan = built._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # and the dedup did run (37*11 distinct pairs from 1000 rows)
    assert built.count() == 37 * 11
    # the LP/pagerank/khop/ppr/hits builds all use this shape
    import inspect

    from gtec_etl_spark.plans import graph_queries

    src_text = inspect.getsource(graph_queries)
    assert src_text.count('.dropDuplicates(["src", "dst"])') >= 4
    assert src_text.count('.dropDuplicates(["ck", "sk"])') == 1
