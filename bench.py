"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gtec_etl_spark.plans import registry  # noqa: E402
from gtec_etl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q02_regional_revenue",
    "q03_top_revenue_orders",
    "q07_mode_segment_per_nation",
    "q16_top3_lineitems_per_supplier",
    "q18_sessionize_events",
    "q19_asof_last_order",
    "ref_q2_dataset_variables",
    "ref_q6_tabular_dump",
    "prof_event_value_stats",
    "ev_sliding_windows",
    "dedup_minhash_lsh",
    "stream_stream_join",
]


def _materialize(df) -> None:
    """Time-to-LAST-BYTE materialization: write every output column to the
    noop sink, JVM-side. `.count()` is NOT a benchmark primitive — Catalyst
    prunes output columns a count never reads (unreferenced aggregate
    expressions, fold columns), so count-timing under-measures exactly the
    expensive queries (measured: the r8 kNN-graph assignment stage counted
    0.7 s but materialized in 26 s). Round 9 switched both benches to this."""
    df.write.format("noop").mode("overwrite").save()


def _time_queries(spark, names, sf_dir, runs):
    """min-of-`runs` wall time per query (plus an untimed row count)."""
    specs = registry.specs()
    out = {}
    for name in names:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            _materialize(specs[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        n = specs[name].fn(spark, sf_dir).count()
        out[name] = (best, n)
    return out


def _retime_main(names: list[str]) -> None:
    """Child mode: re-time the given queries in THIS fresh JVM/session and
    print one JSON line {name: sec}. Each query is warmed once untimed
    first — a fresh session pays one-off python-worker spawn + codegen
    costs (~4-5 s on Arrow paths) that are not plan cost."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("gtec_etl_spark-bench-retime")
    specs = registry.specs()
    for name in names:
        _materialize(specs[name].fn(spark, sf_dir))  # warm
    timed = _time_queries(spark, names, sf_dir, runs)
    print(json.dumps({k: round(t[0], 3) for k, t in timed.items()}))


def _load_prev_timings(out_path: str, sf: str) -> dict[str, float]:
    """Previous committed bench_out.json timings at the SAME sf AND the
    same timing primitive, for the outlier pass; {} when absent/other-sf/
    other-metric/unreadable (a metric change would flag everything)."""
    try:
        with open(out_path) as fh:
            prev = json.load(fh)
        if str(prev.get("sf")) != str(sf):
            return {}
        if prev.get("timing", "count") != "noop-write":
            return {}
        return dict(prev.get("queries") or {})
    except Exception:
        return {}


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--retime":
        _retime_main([n for n in sys.argv[2].split(",") if n])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("gtec_etl_spark-bench")
    specs = registry.specs()
    names = [n for n in HEADLINE if n in specs] + [
        n for n in sorted(specs) if n not in HEADLINE
    ]

    # Warm the JVM, codegen, broadcast machinery, and parquet footers (not
    # timed): one light aggregation and one join-heavy query.
    _materialize(specs[names[0]].fn(spark, sf_dir))
    if "q02_regional_revenue" in specs:
        _materialize(specs["q02_regional_revenue"].fn(spark, sf_dir))

    # Three timed runs per query, keep the min: damps transient machine
    # contention (one or two slow runs don't misreport plan cost).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    prev_timings = _load_prev_timings(out_path, sf)
    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            _materialize(specs[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        n = specs[name].fn(spark, sf_dir).count()
        timings[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s ({n} rows)", file=sys.stderr)

    # Outlier pass (VERDICT r8 #1/#2): min-of-N inside ONE long session
    # does not damp SUSTAINED external load — r8 committed a 9.64 s entry a
    # fresh session re-timed at 1.26 s. Any query slower than its
    # previous-round committed time by >2x (and >0.5 s absolute) is
    # re-timed in a fresh subprocess session; the smaller time wins and
    # the entry is annotated so readers know which numbers were re-timed.
    suspects = [
        name
        for name, sec in timings.items()
        if name in prev_timings
        and sec > 2 * prev_timings[name]
        and sec - prev_timings[name] > 0.5
    ]
    retimed: dict[str, dict[str, float]] = {}
    if suspects and not os.environ.get("SPARK_GRAFT_BENCH_NO_RETIME"):
        import subprocess

        print(f"# outlier re-time (fresh session): {suspects}", file=sys.stderr)
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--retime",
                 ",".join(suspects)],
                capture_output=True, text=True, timeout=1800,
                env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                         SPARK_GRAFT_BENCH_RUNS=str(runs)),
            )
            fresh = {}
            for line in reversed(proc.stdout.strip().splitlines()):
                try:
                    fresh = json.loads(line)
                    break
                except (json.JSONDecodeError, ValueError):
                    continue
            for name, fsec in fresh.items():
                retimed[name] = {"session_sec": timings[name],
                                 "fresh_sec": fsec}
                if fsec < timings[name]:
                    timings[name] = fsec
                print(f"# {name}: retimed {retimed[name]['session_sec']:.3f}s"
                      f" -> fresh {fsec:.3f}s", file=sys.stderr)
        except Exception as ex:  # re-time is best-effort; keep session time
            print(f"# outlier re-time failed: {ex}", file=sys.stderr)

    total = sum(timings.values())
    # Full per-query timings go to a file; stdout gets ONE SHORT line so the
    # driver's tail capture can always parse it (BENCH_r01 lost the result
    # because the 60+-query dict outran the captured tail).
    payload = {
        "metric": "total_query_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "timing": "noop-write",
        "queries": timings,
        "sf": sf,
        # VERDICT r13 #5: these are deliberately scale-unsafe spec anchors
        # (each has a registered scale-safe twin, see QUERIES.md header);
        # listed separately so perf readers exclude them from regression
        # expectations without re-deriving why.
        "spec_anchors": sorted(
            n for n, s in specs.items() if "spec-anchor" in s.tags
        ),
    }
    if retimed:
        payload["retimed"] = retimed
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    headline = {k: timings[k] for k in HEADLINE if k in timings}
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                "timing": "noop-write",
                "queries": headline,
                "sf": sf,
                "n_queries": len(timings),
                "retimed": sorted(retimed),
                "file": "bench_out.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
