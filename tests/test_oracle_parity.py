"""Local mirror of the driver's correctness gate: run every registered query
on Spark and its oracle on DuckDB over the same parquet tables; compare row
count, column names, and values (columns sorted by name, rows sorted by all
columns — an order-insensitive exact comparison).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from gtec_etl_spark.parity import normalize
from gtec_etl_spark.plans import registry

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def spec_ids():
    return sorted(registry.specs().keys())


# Full-registry plan guard (VERDICT r6 #3): no registered query may plan a
# CartesianProduct — the per-name guards in test_plans.py only covered an
# enumerated list, which is how a since-deleted image near-dup query
# shipped a 1024-task cartesian in round 6. Any deliberate tiny-fixture
# exception must be allowlisted HERE with a justification; currently
# there are none.
# Limitation: queries returning an eagerly-materialized result (graph
# iterations, localCheckpoint paths) expose only the post-materialization
# plan — their internal shapes are pinned by dedicated tests instead.
CARTESIAN_ALLOWLIST: frozenset[str] = frozenset()

# Full-registry vacuous-gate allowlist (VERDICT r8 #3): queries whose
# EMPTY result at the gate SF is itself the correct, meaningful answer.
# Empty today — both r8 audit hits were reseeded instead.
NONEMPTY_EXEMPT: frozenset[str] = frozenset()

# Full-registry forced-broadcast guard (VERDICT r7 #1/#7): no registered
# query may `F.broadcast` a subtree that scans an sf-scaled table without a
# limit / global aggregate bounding its cardinality — the class that let
# graph_triangle_count ship a forced |V|-row degree-table broadcast in
# round 7 (fine at sf1, driver-OOM at 100 TB). The audit reads the ANALYZED
# plan, so it flags exactly the hint-forced class; stats/AQE-chosen
# broadcasts (which re-decide per run) pass. Queries whose broadcast side
# is bounded by CONSTRUCTION in a way the plan cannot prove are declared
# here, each with its boundedness argument:
BROADCAST_BOUNDED_BY_CONSTRUCTION: dict[str, str] = {
    "etl_cdc_upsert": "batch side is ingest-interval-bounded in production; the fixture synthesizes it from customer",
    "etl_scd2_merge": "batch side is ingest-interval-bounded in production; the fixture synthesizes it from customer",
    "etl_scd2_asof_lookup": "composition over etl_scd2_merge — every inherited hint is its allowlisted ingest-interval-bounded batch side",
    "ev_anomaly_mad": "per-event-type robust stats — key domain is the fixed event-type enum",
    "ev_cusum_alerts": "per-event-type median/MAD tables — key domain is the fixed event-type enum",
    "ev_trailing_distinct_users": "day spine = one row per calendar day in the queried range (rows = days, ~365/yr; a 10-year retention window is ~3.7k rows, a few KB broadcast) — grows with wall-clock time only, never with corpus size",
    "q06_derived_key_join": "customer filtered to derived_key < 100 — fixed key range, <=100 rows at any sf",
    "sim_batch_topk": "query batch selected by key range (vec_id < 8) — fixed 8 rows at any sf",
    "sim_topk_bruteforce": "single query vector selected by key equality",
    "sim_sq8_rerank": "single query vector selected by key equality + 1-row global min/max aggregate (64-dim arrays)",
    "sim_range_search": "single query vector selected by key equality",
    "sim_recall_report": "composition of sim_topk_bruteforce/sim_ivf_probe/sim_ivf_multiprobe — every inherited hint is one of their allowlisted bounded sides (K-row centroid tables, single query vectors)",
    "sim_filtered_search": "K-row centroid table (fixed K) + single query vector — sim_ivf_probe's bounded sides, plus the pre-filter arm's single query vector",
    "sim_ivf_probe": "K-row centroid table (fixed K) + single query vector",
    "sim_ivf_upsert": "K-row centroid table (fixed label enum) + 1-row added-total aggregate",
    "sim_ivf_multiprobe": "K-row centroid table (fixed K) + single query vector",
}


@pytest.mark.parametrize("name", spec_ids())
def test_query_matches_oracle(spark, name):
    spec = registry.specs()[name]
    sdf = spec.fn(spark, SF_DIR)
    if name not in CARTESIAN_ALLOWLIST:
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (
            f"{name}: CartesianProduct in executed plan — broadcast a side "
            "or route pairs through a blocked/banded candidate generator"
        )
    if name not in BROADCAST_BOUNDED_BY_CONSTRUCTION:
        from gtec_etl_spark.plan_audit import audit_forced_broadcasts

        violations = audit_forced_broadcasts(
            sdf._jdf.queryExecution().analyzed().toString()
        )
        assert not violations, (
            f"{name}: forced broadcast of a corpus-scaled side — drop the "
            f"F.broadcast hint (AQE decides from measured size) or declare "
            f"the boundedness argument in BROADCAST_BOUNDED_BY_CONSTRUCTION: "
            f"{violations}"
        )
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)

    # Full-registry vacuous-gate guard (VERDICT r8 #3, generalizing the q46
    # ADVICE fix): a query that returns 0 rows at the gate SF is a gate
    # that checks nothing — rows/schema/hash all "match" trivially. Every
    # query must produce at least one row here; a legitimately-empty
    # result needs an allowlist entry with a justification (currently
    # none: the r8 audit's two hits, dedup_exact and
    # q05_customers_without_orders, were reseeded to non-vacuous shapes).
    if name not in NONEMPTY_EXEMPT:
        assert len(spark_rows) >= 1, (
            f"{name}: 0 rows at the gate SF — the correctness gate is "
            "vacuous; reseed the fixture predicate or allowlist with a "
            "justification"
        )

    if spec.oracle is None:
        assert len(spark_rows) >= 0  # rows-only check (driver's weaker gate)
        return

    con = duck_connection(SF_DIR)
    res = con.sql(spec.oracle)
    duck_cols = list(res.columns)
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_norm = normalize(spark_rows, spark_cols)
    d_norm = normalize(duck_rows, duck_cols)
    mism = [i for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b][:5]
    assert s_norm == d_norm, (
        f"{name}: value mismatch at sorted-row idx {mism}; "
        f"spark sample={[s_norm[i] for i in mism]}; duck sample={[d_norm[i] for i in mism]}"
    )


def test_selfcheck_coverage_preflight():
    """Structural version of the round-close full-sweep discipline
    (VERDICT r9 #7): every registered query must hold a GREEN row
    somewhere in the committed correctness-artifact union — the
    full-registry sweep (CORRECTNESS_self.json), the merge-accumulating
    partial file (CORRECTNESS_self_partial.json), or any driver round
    file (CORRECTNESS_r*.json). A query that was registered but never
    swept cannot ride to round close unchecked; the fix is one
    `python selfcheck.py -k <name>` run (partials merge, never
    clobber)."""
    import glob
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    covered: set[str] = set()
    paths = [root / "CORRECTNESS_self.json", root / "CORRECTNESS_self_partial.json"]
    paths += [pathlib.Path(p) for p in glob.glob(str(root / "CORRECTNESS_r*.json"))]
    for path in paths:
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or name == "__meta__":
                continue
            if row.get("err") not in (None, "no_oracle"):
                continue
            if row.get("hash_match") is True or (
                row.get("hash_match") is None and row.get("rows_match") is True
            ) or row.get("err") == "no_oracle":
                covered.add(name)
    missing = sorted(set(registry.specs()) - covered)
    assert not missing, (
        f"{len(missing)} registered queries have no committed green "
        f"selfcheck/driver row: {missing} — run "
        f"`python selfcheck.py -k <name>` for each"
    )


def test_exemptions_name_registered_queries():
    """Every key of the three full-registry exemption tables, and every
    name in bench.py's HEADLINE, names a registered query. A key left
    behind by a deleted query would silently exempt any future query that
    reuses the name; a stale headline name would drop out of the bench
    report."""
    import bench

    names = set(registry.specs())
    stale = {
        table: sorted(set(keys) - names)
        for table, keys in (
            ("CARTESIAN_ALLOWLIST", CARTESIAN_ALLOWLIST),
            ("NONEMPTY_EXEMPT", NONEMPTY_EXEMPT),
            ("BROADCAST_BOUNDED_BY_CONSTRUCTION", BROADCAST_BOUNDED_BY_CONSTRUCTION),
            ("bench.HEADLINE", bench.HEADLINE),
        )
    }
    assert not any(stale.values()), f"exemptions for unregistered queries: {stale}"
