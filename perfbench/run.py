"""Benchmark launcher for the gtec_etl_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The launcher pins the Spark
environment, starts one session on local[<cores>], stages the workload's
inputs from the seed, runs one untimed warm iteration that checks and pins
the outputs, then measures a closed loop (one client) for --seconds.
Progress and the workload's named figures go to stdout as `#` lines; the
last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Everything it writes lives under .perfbench_work/ in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: JVM heap for the driver: well under the RAM of a 16 GB, 4-core machine
#: (the session's own 48g default gets the JVM OOM-killed there).
DRIVER_MEM = "3g"
#: Staging is repeated this many times per run; setup_s takes the median.
STAGE_REPEATS = 3
#: A run stops measuring at the first allowed point after --seconds, and
#: at the latest once the process is this old, so that it exits within
#: 180 s even when set-up was slow.
RUN_CAP_S = 150.0

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ops_per_s", "1/s"),
]


def per_layer_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    from perfbench.workloads import REGISTRY_OPS, STREAM_TOPOLOGIES

    lower, higher = "lower", "higher"
    specs = [
        ("session.get_spark.s", "s", lower),
        ("session.peak_rss_mb", "MB", lower),
        ("session.jvm_rss_mb", "MB", lower),
        ("catalog.table.pct", "%", lower),
        ("catalog.table.calls", "count", lower),
    ]
    for name in ("sources.read_tsv", "sources.assert_valid"):
        specs += [(f"{name}.pct", "%", lower), (f"{name}.jobs", "count", lower)]
    specs += [
        ("sources.read_jsonld.pct", "%", lower),
        ("sources.triples.rows", "count", higher),
        ("operators.dangling_keys.pct", "%", lower),
        ("operators.conflict_checked_merge.pct", "%", lower),
        ("operators.audit.pct", "%", lower),
        ("operators.audit.jobs", "count", lower),
        ("pipelines.run_gtex_like_etl.pct", "%", lower),
        ("pipelines.run_gtex_like_etl.self_pct", "%", lower),
        ("pipelines.run_gtex_like_etl.jobs", "count", lower),
        ("pipelines.export_release.pct", "%", lower),
    ]
    for name in ("sinks.validate_release", "sinks.write_documents", "sinks.write_tsv_dump"):
        specs += [(f"{name}.pct", "%", lower), (f"{name}.jobs", "count", lower)]
    specs += [
        ("sinks.make_bag.pct", "%", lower),
        ("sinks.verify_bag.pct", "%", lower),
        ("sinks.payload_bytes", "bytes", lower),
        ("sinks.bag_bytes", "bytes", lower),
        ("sinks.refs_per_full", "ratio", higher),
        ("plans.build.pct", "%", lower),
        ("plans.execute.pct", "%", lower),
    ]
    for op in REGISTRY_OPS + ("jsonld_parse",):
        specs += [(f"plans.{op}.pct", "%", lower), (f"plans.{op}.jobs", "count", lower)]
    specs.append(("streaming.read_events_stream.pct", "%", lower))
    for topo in STREAM_TOPOLOGIES:
        pre = f"streaming.{topo}"
        specs += [(f"{pre}.pct", "%", lower), (f"{pre}.cold_start_x", "ratio", lower)]
        specs += [
            (f"{pre}.{part}_pct", "%", lower)
            for part in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
        ]
        specs += [(f"{pre}.state_rows_peak", "count", lower), (f"{pre}.rows_out", "count", higher)]
    specs += [("trace.op_p50_s", "s", lower), ("trace.overhead_pct", "%", lower)]
    return specs


def pin_env(work: str) -> dict[str, str]:
    """Pin the run environment: every core, a bounded heap, and all scratch
    space (Spark local dirs, warehouse, JVM and Python temp) in the run's
    work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # No JVM writes hsperfdata to the system temp directory.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Job records are kept for every span's job-group lookup.
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
            " --conf spark.ui.retainedJobs=100000 pyspark-shell"
        ),
    }
    os.environ.update(pins)
    return pins


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, wl, samples) -> tuple[dict[str, float], list[str]]:
    """Per-layer values from the traced operations (sample i is operation
    id i), and the report lines that go with them."""
    from perfbench.trace import SpanStats, aggregate

    traced = [s for s in samples if s.traced]
    plain = [s for s in samples if not s.traced]
    op_ids = {i for i, s in enumerate(samples) if s.traced}
    stats = aggregate(tracer.spans, op_ids)
    total = stats["op"].total_s if "op" in stats else 0.0
    n_ops = max(1, len(op_ids))
    none = SpanStats()

    def pct(seconds: float) -> float:
        return 100.0 * seconds / total if total else 0.0

    values: dict[str, float] = {}
    setup_spans = [s for s in tracer.spans if s.name == "session.get_spark"]
    values["session.get_spark.s"] = sum(s.end - s.start for s in setup_spans)
    values["session.peak_rss_mb"] = wl.peak_rss_mb
    values["session.jvm_rss_mb"] = wl.jvm_rss_mb
    values.update(wl.layer_extras)
    for name, unit, _ in per_layer_specs():
        if name in values:
            continue
        base, _, kind = name.rpartition(".")
        st = stats.get(base, none)
        if kind == "pct":
            values[name] = pct(st.total_s)
        elif kind == "self_pct":
            values[name] = pct(st.self_s)
        elif kind == "jobs":
            values[name] = st.jobs / st.calls if st.calls else 0.0
        elif kind == "calls":
            values[name] = st.calls / n_ops

    t_med = statistics.median([s.seconds for s in traced]) if traced else 0.0
    p_med = statistics.median([s.seconds for s in plain]) if plain else 0.0
    values["trace.op_p50_s"] = t_med
    values["trace.overhead_pct"] = 100.0 * (t_med - p_med) / p_med if p_med else 0.0
    lines = [
        f"tracing overhead: traced op median {t_med:.6g} s (n={len(traced)}) vs untraced"
        f" {p_med:.6g} s (n={len(plain)}) = {values['trace.overhead_pct']:+.2f}%"
    ]
    for name, st in sorted(stats.items(), key=lambda kv: -kv[1].self_s):
        lines.append(
            f"span {name}: calls={st.calls} total={st.total_s:.4f}s self={st.self_s:.4f}s jobs={st.jobs}"
        )
    for name, _, _ in per_layer_specs():
        values.setdefault(name, 0.0)
    absent = [n for n, _, _ in per_layer_specs() if values[n] == 0.0]
    if absent:
        lines.append(f"not exercised by {wl.name} (reported as 0): {', '.join(absent)}")
    return values, lines


def run(args, work: str) -> dict:
    pins = pin_env(work)
    print("# env: " + " ".join(f"{k}={v}" for k, v in pins.items() if k != "PYSPARK_SUBMIT_ARGS"), flush=True)

    from perfbench import stats
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS

    from gtec_etl_spark import session

    tracer = Tracer()
    if args.trace:
        tracer.patch()
        tracer.enabled = True
    spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - T_START
    tracer.enabled = False
    tracer.unpatch()
    tracer.bind(spark.sparkContext)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, SIZES[args.size], tracer)
        stage_s = []
        for k in range(STAGE_REPEATS):
            stage_dir = os.path.join(work, f"stage{k}")
            t0 = time.perf_counter()
            wl.stage(stage_dir)
            stage_s.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(work, f"stage{k - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(stage_s) + warm_s
        print(
            f"# setup: session {session_s:.3f} s + staging median {statistics.median(stage_s):.3f} s"
            f" (of {', '.join(f'{s:.3f}' for s in stage_s)}) + warm {warm_s:.3f} s = {setup_s:.3f} s",
            flush=True,
        )

        samples = []
        t_meas = time.perf_counter()
        i = 0
        while True:
            elapsed = time.perf_counter() - t_meas
            if samples and time.perf_counter() - T_START >= RUN_CAP_S:
                break
            if elapsed >= args.seconds and wl.can_stop(i) and (not args.trace or i >= wl.min_traced_iterations):
                break
            traced = bool(args.trace) and wl.trace_this(i)
            if traced:
                tracer.op_id = i
                tracer.patch()
                tracer.enabled = True
            try:
                sample = wl.iterate(i, traced)
            finally:
                if traced:
                    tracer.enabled = False
                    tracer.unpatch()
            print(f"# op {i} {sample.op} {sample.seconds:.4f} s{' traced' if traced else ''}"
                  f"{'' if sample.ok else ' FAILED'}", flush=True)
            samples.append(sample)
            i += 1
        measured_s = time.perf_counter() - t_meas

        from pyspark import SparkContext

        wl.jvm_rss_mb = stats.vm_hwm_mb(SparkContext._gateway.proc.pid)
        wl.peak_rss_mb = stats.tree_peak_rss_mb()
        if args.trace:
            tracer.resolve_jobs()
    finally:
        stop_spark(spark)

    failed = [s for s in samples if not s.ok]
    good = [s.seconds for s in samples if s.ok and not s.traced] or [s.seconds for s in samples]
    report = wl.report([s for s in samples if not s.traced] or samples)
    print(f"# measured {len(samples)} operations in {measured_s:.3f} s", flush=True)
    print(f"# peak_rss_mb = {wl.peak_rss_mb:.6g} MB  (Python process + JVM; JVM alone {wl.jvm_rss_mb:.6g} MB)",
          flush=True)
    for line in report.lines:
        print(f"# {line}", flush=True)
    print(
        f"# fail_ratio = {len(failed) / len(samples):.6g} ratio  ({len(failed)} of {len(samples)} failed)"
        if samples else "# fail_ratio: no operations",
        flush=True,
    )
    for s in failed[:5]:
        print(f"# failure {s.op}: {s.note}", flush=True)

    if args.trace:
        values, lines = layer_metrics(tracer, wl, samples)
        for line in lines:
            print(f"# {line}", flush=True)
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in per_layer_specs()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(good),
            "ops_per_s": len(good) / sum(good),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    return {
        "correct": not failed and bool(samples),
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_release", "query_mix", "dats_emit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["bench", "tiny"], default="bench",
                    help="input size preset; 'tiny' is the smoke size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gtec_etl_spark", "__init__.py")):
        print(f"perfbench: no gtec_etl_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
