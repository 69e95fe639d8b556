"""Scale-stress bench: time the most expensive queries at a scaled-up
dataset (default /tmp/sparkdata_sf1, built by tools/make_scale_testdata.py)
and compare against the committed sf0.1 timings (bench_out.json) to get a
scaling CURVE per query, not a single point.

The interesting read-out is the ratio column: data grows `factor`x, so a
scale-safe plan should grow wall time ~linearly (ratio ~ factor, usually
less on local[32] because small-sf runs are overhead-dominated); a
super-linear ratio flags a plan that would not survive 100 TB.

Writes BENCH_sf1.json. Usage:
  python tools/bench_scale.py [--sf-dir /tmp/sparkdata_sf1] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

# The ten most expensive sf0.1 queries plus the scale-story pairs we want
# curves for (capped vs uncapped Jaccard; exact dedup; brute-force ANN) and
# two flagship reference queries as a relational control group.
QUERIES = [
    "dedup_ngram_jaccard_capped",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_clusters_cc",
    "dedup_embedding_cosine",
    "dedup_exact",
    "text_corpus_clean",
    "sim_topk_bruteforce",
    "ev_sliding_windows",
    "q01_pricing_summary",
    # Flagship reference ETL queries + the window pack — the relational
    # backbone must show the same ~linear curve as the dedup/text ops.
    "ref_q1_second_level_datasets",
    "ref_q2_dataset_variables",
    "ref_q2_all_studies",
    "ref_q3_study_group_members",
    "ref_q4_subject_characteristics",
    "ref_q5_subject_sample_chain",
    "ref_q6_full_dump",
    "ref_q6_tabular_dump",
    "topmed_multi_study_summary",
    "q29_order_gaps_lead_lag",
    "q30_rank_dense_ntile",
    "q31_range_frame_rolling",
    # Round-5 additions whose scale claims need curves, not assertions.
    "dedup_incremental_batch",
    "ev_multi_resolution_rollup",
    "sim_pq_trained_codebook",
    "text_pii_redact",
    # Round-6: the headline PQ ADC search path (broadcast codebook/LUT,
    # ~2 B/vector claim) — encode cost should track corpus ~linearly.
    "sim_pq_adc_topk",
    # Round-6: diversity sampling — training is corpus-independent, so
    # the curve isolates assignment (broadcast) + salted top-n cost.
    "sim_diversity_sample",
    # Round-6: DSIR importance weighting — one explode+hash pass with a
    # reused exchange; the curve should track corpus bigram count.
    "text_dsir_weights",
    # Round-6: exact substring spans — nothing pairwise, no cap; the
    # curve should track window count, immune to hot-phrase fan-out.
    "dedup_substring_spans",
    # Round-6 late additions: cluster-scoped semantic dedup (pairwise is
    # bounded by cluster size), paragraph-chunk dedup (three shuffles,
    # boilerplate-chunk skew is the stress), the bigram-LM familiarity
    # join, the Gopher rule ensemble (two chained aggs), and the cohort
    # matrix (collect_set shape).
    "sim_semdedup",
    "dedup_paragraph_chunks",
    "text_lm_familiarity",
    "text_gopher_rules",
    "ev_retention_cohorts",
    # Round-6 second wave: BPE training (cost tracks |vocab|, not corpus
    # — the curve should be FLAT apart from the initial word count),
    # BPE encode (one broadcast vocab join over the corpus word stream),
    # BM25 (prune-first term stats: one corpus scan + bounded joins),
    # the SCD2/CDC merges (batch side broadcast, history read once),
    # PageRank (per-iteration O(|E|) shuffle), and the Z-order stats
    # profile (one scan + one bounded groupBy).
    "text_bpe_train",
    "text_bpe_apply",
    "text_bm25_topk",
    "etl_scd2_merge",
    "etl_cdc_upsert",
    "graph_pagerank",
    "k6_zorder_layout",
    # Round-6 third wave: IVF-PQ (probed-list ADC — cost tracks encode +
    # nprobe/K of the corpus), stride chunking (map-side only), MAD
    # anomalies (one corpus scan + bounded per-type medians).
    "sim_ivfpq_adc_topk",
    "text_chunk_overlap",
    "ev_anomaly_mad",
    # Round-6: blocked fuzzy match (edit distance only inside prefix
    # blocks) and the unpivot Expand — both should track input size.
    "q41_fuzzy_blocked_match",
    "q42_unpivot_part_metrics",
    # Round-6: multi-source bounded BFS — cost = depth x frontier x
    # degree; the visited-set distinct dominates at high seed counts.
    "graph_khop_reachability",
    # Round-6: path mining (one shared window exchange + bounded triple
    # groupBy) and the equi-depth histogram (global-sort ntile at test
    # scale; approx_percentile is the documented 100 TB swap-in).
    "ev_top_paths",
    "prof_equidepth_histogram",
    # Round-7: K~sqrt(N) SemDeDup (the linearity knob itself — this curve
    # must beat the pinned-K twin's 9.8), oriented triangle counting
    # (wedge fan bounded O(sqrt(E))), grid-blocked spatial join (linear
    # at fixed density), and the IVF-blocked kNN graph.
    "sim_semdedup_scaled",
    "graph_triangle_count",
    "q43_spatial_grid_join",
    "sim_knn_graph",
    # Round-7 second wave: the declarative quality contract (one agg per
    # scan), the delta-refresh aggregate (cost ~ delta + keys), the
    # candidate-then-verify LSH pipeline, and TF-IDF extraction.
    "q44_quality_expectations",
    "etl_incremental_agg",
    "dedup_lsh_verify",
    "text_tfidf_topterms",
    # Round-7 third wave: the Q21-shape double-correlated subquery
    # (three lineitem scans sharing one order-key partitioning) and the
    # Q22-shape scalar-broadcast + anti join.
    "q45_waiting_suppliers",
    "q46_dormant_rich_customers",
    "sim_knn_graph_scaled",
    # Round-7: trailing-window distinct (offset-expand over the
    # collapsed user-day table — cost ~ 7x activity table, not events).
    "ev_trailing_distinct_users",
    # Round-8 sweep (VERDICT r7 #5): every scale-tagged registry entry
    # gets a curve — these six were tagged but uncurved.
    "dedup_incremental_apply",
    "k5_range_bucket_layout",
    "q39_salted_skew_join",
    "sim_ivf_trained_rerank",
    "text_contamination_check",
    "text_dsir_select",
    # Round-8: delta-join view maintenance (three partial-aggregate join
    # terms; cost ~ deltas + one fact-side pass).
    "etl_incremental_join",
    # Round-12 additions: fixpoints (ppr/hits), compression tiers (sq8,
    # ivf upsert), layout manifest, histogram-path profiling stats,
    # winnowing fingerprints, and the events-analytics pack (all
    # scan-bound or domain-bounded; curves recorded round 12).
    "graph_ppr_seeds",
    "graph_hits",
    "sim_sq8_rerank",
    "sim_ivf_upsert",
    "k9_partition_manifest",
    "prof_percentiles_grouped",
    "prof_gini_concentration",
    "dedup_winnowing_pairs",
    "ev_cusum_alerts",
    "ev_markov_transitions",
    "ev_ewma_hourly",
    "ev_inter_event_gaps",
    "ev_funnel_time_to_convert",
    "ev_attribution_markov",
    "etl_snapshot_diff",
    "etl_scd2_asof_lookup",
    "prof_drift_psi",
    # Round-9: DOULION sampled triangle estimate — the scale twin whose
    # whole point is bending the exact twin's E^1.5 curve; its residual
    # ratio is the linear pair-enumeration floor (PERF.md round 9).
    "graph_triangle_estimate",
    # Round-9: directed n-gram containment (same capped posting-list
    # generator as the capped Jaccard — the curve should track it) and
    # exact-quota stratified sampling (salted two-level per-stratum
    # pick; allocation side is |sources|-row arithmetic).
    "dedup_ngram_containment",
    "text_quota_sample",
    # Streaming LAST: their sf1 state stores stay cached in the executor
    # JVM after the query stops (HDFSBackedStateStoreProvider unloads
    # lazily), and the residue measurably degrades whatever batch query
    # runs next in the same session (observed 5.6s -> 30.9s on
    # text_corpus_clean). Ordering them last keeps every batch
    # measurement clean without needing a session per query.
    "stream_stream_join",
    "stream_dedup_watermark",
    "stream_stateful_user_totals",
    # Round-6: streaming LSH admission — per-trigger cost should track
    # the batch size, not the indexed corpus.
    "stream_dedup_admission",
    # Round-6: streaming CDC maintenance — three triggers whose cost
    # tracks wave size; the bootstrap wave scales with the dimension.
    "stream_cdc_snapshot",
    # Round-7: the left-outer stream-stream join (state-expiry outer
    # emission; cost tracks the interval state like the inner twin).
    "stream_stream_left_join",
]


def _all_curve_queries() -> list[str]:
    """The curated list above UNION every registry query tagged 'scale',
    so newly added scale-tagged queries get curves without anyone
    remembering to extend the hardcoded list (round 9 dropped four that
    way)."""
    from gtec_etl_spark.plans import registry

    tagged = [
        n for n, s in registry.specs().items()
        if "scale" in s.tags and n not in QUERIES
    ]
    # Splice BEFORE the streaming block: stream_* must stay LAST (their
    # state-store residue degrades whatever batch query runs next in the
    # same session — see the comment above "stream_stream_join").
    first_stream = next(
        i for i, n in enumerate(QUERIES) if n.startswith("stream_")
    )
    return QUERIES[:first_stream] + sorted(tagged) + QUERIES[first_stream:]


def _load_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def wait_for_quiet(threshold: float, timeout_sec: float) -> float:
    """Quiet-window gate (VERDICT r13 #6): the host has co-tenant load
    spikes that swing sf10 absolute seconds 2x between windows, so every
    recorded number must carry its conditions. Poll the 1-minute loadavg
    until it drops below `threshold` (or `timeout_sec` elapses, in which
    case WARN and proceed — a ratio measured back-to-back in the same
    loaded window is still meaningful, an unstamped one is not). Returns
    the load actually observed at the gate exit, which callers stamp into
    the payload."""
    t0 = time.monotonic()
    load = _load_1m()
    while load >= threshold and time.monotonic() - t0 < timeout_sec:
        print(
            f"# quiet-window gate: loadavg {load:.2f} >= {threshold}; "
            "waiting 30s",
            file=sys.stderr,
        )
        time.sleep(30)
        load = _load_1m()
    if load >= threshold:
        print(
            f"# WARNING: loadavg still {load:.2f} after {timeout_sec:.0f}s "
            "— proceeding; trust ratios, not absolute seconds",
            file=sys.stderr,
        )
    return load


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sparkdata_sf1")
    ap.add_argument("--base-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--base-sf", default="0.1",
                    help="scale-factor label for --base-dir (e.g. 0.1, 1)")
    ap.add_argument("--load-threshold", type=float, default=1.5,
                    help="1-min loadavg gate before timing starts")
    ap.add_argument("--load-timeout", type=float, default=600.0,
                    help="max seconds to wait for the quiet window")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--factor", type=float, default=10.0,
                    help="data volume vs the sf0.1 baseline")
    ap.add_argument("--out", default="BENCH_sf1.json")
    ap.add_argument(
        "--only",
        default="",
        help=(
            "comma-separated query names: re-time just these in a fresh "
            "session and MERGE into the existing --out file (for "
            "re-measuring entries hit by transient machine load; the "
            "same-session sf0.1-vs-sf1 pairing still holds per query)"
        ),
    )
    args = ap.parse_args()

    from gtec_etl_spark.plans import registry
    from gtec_etl_spark.session import get_spark

    repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")

    spark = get_spark("bench-scale")
    specs = registry.specs()

    def materialize(df) -> None:
        # Time-to-last-byte via the noop sink: .count() lets Catalyst
        # prune output columns a count never reads (unreferenced
        # aggregates, fold columns), under-measuring exactly the
        # expensive queries (r9; see bench.py._materialize).
        df.write.format("noop").mode("overwrite").save()

    # Warm JVM/codegen/footers (untimed).
    materialize(specs["q01_pricing_summary"].fn(spark, args.sf_dir))

    gate_load = wait_for_quiet(args.load_threshold, args.load_timeout)

    def best_of(name: str, sf_dir: str) -> tuple[float, int]:
        best = float("inf")
        for _ in range(args.runs):
            t0 = time.perf_counter()
            materialize(specs[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        rows = specs[name].fn(spark, sf_dir).count()
        return best, rows

    results: dict[str, dict] = {}
    total = 0.0
    names = [n for n in args.only.split(",") if n] or _all_curve_queries()
    for name in names:
        # SAME-SESSION baseline, measured back-to-back with the scaled
        # run: a long bench session slows as JVM heap / GC / state-store
        # residue accumulates, so a baseline recorded in a different
        # session (bench_out.json) makes ratios drift up to 4x. Timing
        # both scales within seconds of each other cancels the drift —
        # the ratio is the signal, the absolute seconds are not.
        b, _ = best_of(name, args.base_dir)
        best, rows = best_of(name, args.sf_dir)
        results[name] = {
            "sec": round(best, 3),
            "rows": rows,
            "base_sec": round(b, 3),
            "ratio": round(best / b, 2) if b else None,
            "load_1m": _load_1m(),
        }
        total += best
        print(
            f"# {name}: {best:.3f}s ({rows} rows, "
            f"{results[name]['ratio']}x vs sf{args.base_sf}, "
            f"load {results[name]['load_1m']:.2f})",
            file=sys.stderr,
        )

    payload = {
        "metric": "scale_stress_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "timing": "noop-write",
        "sf_dir": args.sf_dir,
        "base_dir": args.base_dir,
        "base_sf": args.base_sf,
        "data_factor_vs_base": args.factor,
        "load_gate": {
            "threshold_1m": args.load_threshold,
            "load_at_gate": gate_load,
            "load_at_end": _load_1m(),
        },
        "note": (
            "ratio = sec / base_sec where base is --base-dir (sf labeled "
            "base_sf), both sides timed back-to-back in the same session "
            "(min-of-N). EXPONENT CONVENTION: scaling exponents quoted in "
            "PERF.md are PER-DECADE, exponent = log10(ratio) for a 10x "
            "data factor — always against base_sf, never a skipped "
            "decade. load_1m stamps the host 1-minute loadavg at record "
            "time (co-tenant spikes swing absolute seconds 2x); trust "
            "ratios over absolute seconds when load_1m > ~1.5"
        ),
        "queries": results,
    }
    out_path = os.path.join(repo, args.out)
    if args.only and os.path.exists(out_path):
        with open(out_path) as fh:
            prior = json.load(fh)
        prior["queries"].update(results)
        prior["load_gate"] = payload["load_gate"]
        payload = prior
        payload["value"] = round(
            sum(q["sec"] for q in payload["queries"].values()), 3
        )
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"metric": "scale_stress_wall_sec", "value": round(total, 3),
                      "n_queries": len(results), "file": args.out},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
