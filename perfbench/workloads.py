"""The benchmark workloads.

Each workload stages its inputs from the seed, runs one untimed warm
iteration that also pins the expected outputs, and then runs timed
iterations. An iteration is one operation and returns its `Sample`; a
sample whose correctness check failed, or whose operation raised, has
`ok=False`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from statistics import median

import numpy as np

from perfbench import gen_etl, gen_star
from perfbench.stats import percentile, rows_digest, tail_percentile

#: Input sizes. "bench" is what the timed runs use; "tiny" is the smoke
#: size the benchmark's own tests run. query_mix replays the events of its
#: own star schema.
SIZES = {
    "bench": {"etl_subjects": 2_000, "dats_sf": 0.002, "query_sf": 0.002},
    "tiny": {"etl_subjects": 1_000, "dats_sf": 0.001, "query_sf": 0.001},
}

#: Registry operations of the query mix: the reference's Q2 join chain,
#: the Q6 tabular dump and a basic graph pattern over the triples view.
REGISTRY_OPS = (
    "ref_q2_dataset_variables",
    "ref_q6_tabular_dump",
    "q34_bgp_over_triples",
)
#: A pass of the query mix: the registry operations, the JSON-LD parse of
#: a seeded DATS release, and one streaming replay.
QUERY_OPS = REGISTRY_OPS + ("jsonld_parse", "stream_replay")

STREAM_TOPOLOGIES = ("ssjoin", "session")
#: Event-time chunks of a replay: a cold first trigger and a steady one per
#: topology, the least that separates the two.
STREAM_CHUNKS = 2
COUNTER_KEYS = ("n_unknown_type", "n_bad_id", "n_dup_full", "n_dangling")


@dataclass
class Sample:
    op: str
    seconds: float
    ok: bool
    traced: bool = False
    note: str = ""
    rows: int = 0


@dataclass
class Report:
    """Named end-to-end figures a workload prints besides the generic ones."""

    lines: list[str] = field(default_factory=list)

    def metric(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.lines.append(f"{name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))

    def tail(self, name: str, values: list[float], unit: str) -> None:
        """Median plus the tail percentile the sample count supports."""
        if not values:
            self.lines.append(f"{name}: no samples")
            return
        self.metric(f"{name}_p50_s", median(values), unit, f"median, n={len(values)}")
        if len(values) >= 100:
            self.metric(f"{name}_p90_s", percentile(values, 90), unit, f"n={len(values)}")
            return
        tail = tail_percentile(values)
        shown = f"p{tail[0]} = {tail[1]:.6g} {unit}" if tail else "no percentile above"
        self.lines.append(
            f"{name}_p90_s: n/a, needs >=100 samples (n={len(values)}; {shown})"
        )


class Workload:
    name = ""
    #: A traced run measures at least this many iterations, so traced and
    #: untraced ones both occur.
    min_traced_iterations = 2

    def __init__(self, spark, work_dir: str, seed: int, size: dict, tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.layer_extras: dict[str, float] = {}
        self.jvm_rss_mb = 0.0
        self.peak_rss_mb = 0.0

    def stage(self, stage_dir: str) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """One untimed iteration that pins the expected outputs."""
        raise NotImplementedError

    def iterate(self, i: int, traced: bool) -> Sample:
        raise NotImplementedError

    def can_stop(self, i: int) -> bool:
        return i >= 1

    def trace_this(self, i: int) -> bool:
        """In a traced run, traced and untraced iterations alternate."""
        return i % 2 == 0

    def report(self, samples: list[Sample]) -> Report:
        raise NotImplementedError

    def _fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _timed(self, op: str, traced: bool, fn) -> tuple[Sample, object]:
        """Run fn() as one operation: timed, exceptions recorded as failures."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            return Sample(op, time.perf_counter() - t0, False, traced, repr(exc)[:300]), None
        return Sample(op, time.perf_counter() - t0, True, traced), out


class _ReleaseWorkload(Workload):
    """Shared bookkeeping of the two workloads that end in a checksummed bag."""

    def __init__(self, *args):
        super().__init__(*args)
        self.pinned_sha: str | None = None
        self.bag_bytes = 0
        self.payload_bytes = 0
        self.refs_per_full = 0.0

    def _check_release(self, out: dict) -> list[str]:
        """Violation counters all 0, the expected document count, a bag that
        verifies and repeats the pinned sha256."""
        c = out["counters"]
        problems = [f"{k}={c[k]}" for k in COUNTER_KEYS if c[k] != 0]
        if c["n_docs"] != self.expected_docs():
            problems.append(f"n_docs={c['n_docs']} (expected {self.expected_docs()})")
        if not out["verified"]:
            problems.append("verify_bag failed")
        sha = out["summary"]["bag_sha256"]
        if self.pinned_sha is None:
            self.pinned_sha = sha
        elif sha != self.pinned_sha:
            problems.append(f"bag sha256 {sha[:12]} != pinned {self.pinned_sha[:12]}")
        self.bag_bytes = out["bag_bytes"]
        self.payload_bytes = out["summary"]["payload_bytes"]
        self.refs_per_full = c["n_refs"] / c["n_full"] if c["n_full"] else 0.0
        return problems

    def expected_docs(self) -> int:
        raise NotImplementedError

    def _release(self) -> dict:
        raise NotImplementedError

    def warm(self) -> None:
        problems = self._check_release(self._release())
        if problems:
            raise RuntimeError(f"{self.name} warm iteration failed checks: {problems}")

    def iterate(self, i: int, traced: bool) -> Sample:
        sample, out = self._timed(self.name, traced, self._release)
        if out is not None:
            problems = self._check_release(out)
            if problems:
                sample.ok, sample.note = False, "; ".join(problems)
        self.layer_extras = {
            "sinks.payload_bytes": float(self.payload_bytes),
            "sinks.bag_bytes": float(self.bag_bytes),
            "sinks.refs_per_full": self.refs_per_full,
        }
        return sample


class EtlRelease(_ReleaseWorkload):
    """GTEx-like release lifecycle over seeded TSVs: ingest + validate, key
    linkage, dangling/conflict audits, release validation, TSV + JSON-LD
    export and the checksummed bag."""

    name = "etl_release"

    def stage(self, stage_dir: str) -> None:
        self.inputs = gen_etl.generate(stage_dir, self.seed, self.size["etl_subjects"])

    def expected_docs(self) -> int:
        return len(self.inputs.expected_group_sizes)

    def _release(self) -> dict:
        from gtec_etl_spark import pipelines
        from gtec_etl_spark.sinks import bdbag, jsonld

        inp = self.inputs
        out_dir = self._fresh_dir("etl_release_out")
        bag = os.path.join(self.work_dir, "etl_release.tgz")
        res = pipelines.run_gtex_like_etl(
            self.spark, inp.subjects_tsv, inp.samples_tsv, inp.restricted_tsv,
            expected_group_sizes=inp.expected_group_sizes,
        )
        with self.tracer.span("operators.audit"):
            n_dangling = res.dangling_samples.count()
            n_conflicts = res.conflicts.count()
        counters = jsonld.validate_release(res.documents).first().asDict()
        summary = pipelines.export_release(res, out_dir, bag)
        verified = bdbag.verify_bag(bag)
        return {
            "counters": counters, "summary": summary, "verified": verified,
            "bag_bytes": os.path.getsize(bag),
            "n_dangling": n_dangling, "n_conflicts": n_conflicts,
        }

    def _check_release(self, out: dict) -> list[str]:
        problems = super()._check_release(out)
        if out["n_dangling"] != self.inputs.n_dangling_samples:
            problems.append(f"dangling {out['n_dangling']} != planted {self.inputs.n_dangling_samples}")
        if out["n_conflicts"] != self.inputs.n_conflicts:
            problems.append(f"conflicts {out['n_conflicts']} != planted {self.inputs.n_conflicts}")
        return problems

    def can_stop(self, i: int) -> bool:
        """At least three timed releases, so a run's median is not one sample."""
        return i >= 3

    def report(self, samples: list[Sample]) -> Report:
        r = Report()
        times = [s.seconds for s in samples if s.ok]
        r.lines.append(
            f"inputs: {self.size['etl_subjects']} subjects, {self.inputs.n_rows} source rows,"
            f" {self.inputs.n_bytes} TSV bytes; planted {self.inputs.n_dangling_samples}"
            f" dangling samples, {self.inputs.n_conflicts} AGE conflicts"
        )
        if times:
            r.metric("etl_release_s", median(times), "s", f"median, n={len(times)}")
            r.metric("etl_rows_per_s", self.inputs.n_rows * len(times) / sum(times), "rows/s")
        r.metric("etl_bag_bytes_per_input_byte", self.bag_bytes / self.inputs.n_bytes, "ratio")
        return r


class DatsEmit(_ReleaseWorkload):
    """The flagship DATS JSON-LD release from the star schema: build, validate,
    write, bag, verify."""

    name = "dats_emit"

    def stage(self, stage_dir: str) -> None:
        self.sf_dir = stage_dir
        self.rows = gen_star.generate(stage_dir, self.seed, self.size["dats_sf"])

    def expected_docs(self) -> int:
        return len(gen_star.REGIONS)

    def _release(self) -> dict:
        from gtec_etl_spark.sinks import bdbag, dats_builder, jsonld

        out_dir = self._fresh_dir("dats_release_out")
        bag = os.path.join(self.work_dir, "dats_release.tgz")
        docs = dats_builder.build_program_documents(self.spark, self.sf_dir)
        counters = jsonld.validate_release(docs).first().asDict()
        jsonld.write_documents(docs, f"{out_dir}/documents", single_file=True)
        summary = bdbag.make_bag(out_dir, bag, {"Source-Organization": "gtec_etl_spark"})
        verified = bdbag.verify_bag(bag)
        return {
            "counters": counters, "summary": summary, "verified": verified,
            "bag_bytes": os.path.getsize(bag),
        }

    def report(self, samples: list[Sample]) -> Report:
        r = Report()
        times = [s.seconds for s in samples if s.ok]
        r.lines.append(
            f"inputs: star schema sf={self.size['dats_sf']} ({self.rows['customer']} customers,"
            f" {self.rows['lineitem']} lineitems); payload {self.payload_bytes} bytes,"
            f" bag {self.bag_bytes} bytes"
        )
        if times:
            r.metric("dats_emit_s", median(times), "s", f"median, n={len(times)}")
            r.metric("dats_mb_per_s", self.payload_bytes / 1e6 * len(times) / sum(times), "MB/s")
        return r


class StreamReplayer:
    """Event-time chunks of the events table, replayed one file per trigger
    through the stream-stream interval join and the session-window
    aggregation (`streaming.pipelines`). Each replay's per-topology output
    count and digest must repeat the first replay's."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.pinned: dict[str, tuple[int, str]] = {}
        self.progress: dict[str, list[dict]] = {t: [] for t in STREAM_TOPOLOGIES}
        self.layer_extras: dict[str, float] = {}

    def stage(self, events, replay_dir: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.n_events = events.num_rows
        self.replay_dir = replay_dir
        os.makedirs(replay_dir)
        ts = pc.cast(events["ts"], "int64").to_numpy()
        bucket = ((ts - ts.min()) * STREAM_CHUNKS) // (ts.max() - ts.min() + 1)
        for i in range(STREAM_CHUNKS):
            dst = os.path.join(replay_dir, f"ev{i:03d}.parquet")
            pq.write_table(events.filter(bucket == i), dst)
            # File sources replay in modification-time order.
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def _topology(self, topo: str):
        from pyspark.sql import functions as F

        from gtec_etl_spark.streaming import pipelines as P

        def events():
            return P.read_events_stream(self.spark, self.replay_dir, 1, path_glob="*.parquet")

        if topo == "session":
            return P.session_counts(events())
        clicks = (
            events().filter(F.col("event_type") == "click")
            .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "2 hours")
        )
        purchases = (
            events().filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user_id"),
                    F.col("ts").alias("purchase_ts"))
            .withWatermark("purchase_ts", "2 hours")
        )
        return clicks.join(purchases, F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts"
            " AND purchase_ts <= click_ts + interval 30 minutes"
        ))

    def replay(self) -> dict:
        """Run every topology over all chunks (append mode, memory sink)."""
        from gtec_etl_spark.streaming import pipelines as P

        out = {}
        for topo in STREAM_TOPOLOGIES:
            name = f"perfbench_{topo}_{uuid.uuid4().hex[:8]}"
            with self.tracer.span(f"streaming.{topo}"):
                with P.state_partitions(self.spark, self.spark.sparkContext.defaultParallelism):
                    q = (self._topology(topo).writeStream.format("memory").queryName(name)
                         .outputMode("append").trigger(availableNow=True).start())
                try:
                    if not q.awaitTermination(120):
                        raise TimeoutError(f"{topo} replay did not finish")
                finally:
                    if q.isActive:
                        q.stop()
            progress = [json.loads(p.json) for p in q.recentProgress]
            out[topo] = {"name": name, "progress": [p for p in progress if p["numInputRows"] > 0]}
        return out

    def check(self, out: dict) -> list[str]:
        """Compare each topology's output with the pin (untimed), record the
        replay's progress, and drop the memory tables."""
        problems = []
        for topo, res in out.items():
            table = self.spark.table(res["name"])
            rows = table.collect()
            got = (len(rows), rows_digest(rows, table.columns))
            self.spark.catalog.dropTempView(res["name"])
            pinned = self.pinned.setdefault(topo, got)
            if got != pinned:
                problems.append(f"{topo}: {got[0]} rows/digest differs from pinned {pinned[0]}")
            self.progress[topo].extend(res["progress"])
            self._layer_metrics(topo, res["progress"], got[0])
        return problems

    def _layer_metrics(self, topo: str, progress: list[dict], rows_out: int) -> None:
        prog = sorted(progress, key=lambda p: p["batchId"])
        steady = prog[1:]
        total = sum(p["durationMs"]["triggerExecution"] for p in steady) or 1
        pre = f"streaming.{topo}"
        cold = prog[0]["durationMs"]["triggerExecution"] if prog else 0
        self.layer_extras[f"{pre}.cold_start_x"] = (
            cold / median([p["durationMs"]["triggerExecution"] for p in steady]) if steady else 0.0
        )
        self.layer_extras[f"{pre}.state_rows_peak"] = float(max(
            (sum(op["numRowsTotal"] for op in p.get("stateOperators", [])) for p in prog), default=0))
        self.layer_extras[f"{pre}.rows_out"] = float(rows_out)
        for part in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
            self.layer_extras[f"{pre}.{part}_pct"] = 100.0 * sum(
                p["durationMs"].get(part, 0) for p in steady) / total

    def input_rows(self, out: dict) -> int:
        return sum(p["numInputRows"] for res in out.values() for p in res["progress"])

    def report(self, r: Report, samples: list[Sample]) -> None:
        r.lines.append(
            f"stream inputs: {self.n_events} events in {STREAM_CHUNKS} event-time chunks,"
            f" one chunk per trigger, one state partition per core"
        )
        if samples:
            r.metric("stream_rows_per_s", sum(s.rows for s in samples) / sum(s.seconds for s in samples),
                     "rows/s", "input rows of both topologies per second of replay")
        triggers = []
        for topo in STREAM_TOPOLOGIES:
            steady = [p["durationMs"]["triggerExecution"] / 1000 for p in self.progress[topo]
                      if p["batchId"] > 0]
            triggers.extend(steady)
            if steady:
                r.metric(f"stream.{topo}.trigger_p50_s", median(steady), "s", f"n={len(steady)}")
        r.tail("stream_trigger", triggers, "s")


class QueryMix(Workload):
    """One closed-loop client running passes over the reference's query set,
    the relational pack, the JSON-LD parse and a streaming replay; the order
    of each pass is shuffled by the seed."""

    name = "query_mix"
    min_traced_iterations = 2 * len(QUERY_OPS)

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = np.random.default_rng(self.seed)
        self.schedule: list[str] = []
        self.pinned: dict[str, tuple[int, str]] = {}
        self.n_triples = 0
        self.stream = StreamReplayer(self.spark, self.tracer)

    def stage(self, stage_dir: str) -> None:
        self.sf_dir = stage_dir
        tables = gen_star.build_tables(self.seed, self.size["query_sf"])
        self.rows = gen_star.write_tables(tables, stage_dir)
        # A foreign DATS release, the input the reference's parse-then-query
        # users start from.
        self.release_dir = os.path.join(stage_dir, "release")
        gen_star.write_dats_release(tables, self.release_dir)
        self.stream.stage(tables["events"], os.path.join(stage_dir, "replay"))

    def _run(self, op: str):
        """Build and execute one operation; returns (rows, columns), the
        triple count for jsonld_parse, or the replay for stream_replay."""
        from gtec_etl_spark.plans import registry
        from gtec_etl_spark.sources import jsonld_triples

        if op == "stream_replay":
            return self.stream.replay()
        with self.tracer.span(f"plans.{op}"):
            if op == "jsonld_parse":
                with self.tracer.span("plans.build"):
                    df = jsonld_triples.read_jsonld(self.spark, self.release_dir, multiline=False)
                with self.tracer.span("plans.execute"):
                    return df.count()
            with self.tracer.span("plans.build"):
                df = registry.specs()[op].fn(self.spark, self.sf_dir)
            with self.tracer.span("plans.execute"):
                return df.collect(), df.columns

    def _oracle(self, op: str):
        import duckdb

        from gtec_etl_spark import catalog
        from gtec_etl_spark.plans import registry

        con = duckdb.connect()
        try:
            for t in catalog.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            res = con.sql(registry.specs()[op].oracle)
            return res.fetchall(), res.columns
        finally:
            con.close()

    def _check(self, op: str, out) -> str:
        """'' when the result matches the pin, else what differs."""
        if op == "stream_replay":
            return "; ".join(self.stream.check(out))
        got = (out, "") if op == "jsonld_parse" else (len(out[0]), rows_digest(*out))
        if got != self.pinned[op]:
            return f"{op}: result {got[0]} rows/digest differs from pinned"
        return ""

    def warm(self) -> None:
        """Run every operation once. Registry operations are checked against
        their DuckDB oracle (order-insensitive digest + row count); the
        digest is pinned for the timed iterations. jsonld_parse pins its
        triple count; stream_replay pins each topology's output."""
        mismatched = []
        for op in QUERY_OPS:
            out = self._run(op)
            if op == "stream_replay":
                mismatched += self.stream.check(out)
                continue
            if op == "jsonld_parse":
                self.pinned[op] = (out, "")
                self.n_triples = out
                continue
            rows, cols = out
            digest = rows_digest(rows, cols)
            o_rows, o_cols = self._oracle(op)
            if sorted(cols) != sorted(o_cols) or len(rows) != len(o_rows) or digest != rows_digest(o_rows, o_cols):
                mismatched.append(op)
            self.pinned[op] = (len(rows), digest)
        if mismatched:
            raise RuntimeError(f"query_mix: warm pass failed checks: {mismatched}")

    def _next_op(self, i: int) -> str:
        if i >= len(self.schedule):
            self.schedule.extend(QUERY_OPS[k] for k in self.rng.permutation(len(QUERY_OPS)))
        return self.schedule[i]

    def iterate(self, i: int, traced: bool) -> Sample:
        op = self._next_op(i)
        sample, out = self._timed(op, traced, lambda: self._run(op))
        if out is not None:
            problem = self._check(op, out)
            if problem:
                sample.ok, sample.note = False, problem
            if op == "stream_replay":
                sample.rows = self.stream.input_rows(out)
        self.layer_extras = {"sources.triples.rows": float(self.n_triples), **self.stream.layer_extras}
        return sample

    def can_stop(self, i: int) -> bool:
        return i > 0 and i % len(QUERY_OPS) == 0

    def trace_this(self, i: int) -> bool:
        """Each operation alternates between traced and untraced executions,
        so two passes give every operation one of each; half the operations
        start traced, so each pass holds both modes."""
        op = self._next_op(i)
        return (self.schedule[:i].count(op) + QUERY_OPS.index(op)) % 2 == 0

    def report(self, samples: list[Sample]) -> Report:
        r = Report()
        r.lines.append(
            f"inputs: star schema sf={self.size['query_sf']} ({self.rows['lineitem']} lineitems);"
            f" jsonld_parse reads {self.n_triples} triples"
        )
        ok = [s for s in samples if s.ok]
        queries = [s.seconds for s in ok if s.op != "stream_replay"]
        r.tail("query", queries, "s")
        if queries:
            r.metric("query_per_s", len(queries) / sum(queries), "ops/s", "queries only")
        by_op: dict[str, list[float]] = {}
        for s in ok:
            by_op.setdefault(s.op, []).append(s.seconds)
        for op in QUERY_OPS:
            if op in by_op:
                r.metric(f"query.{op}_s", median(by_op[op]), "s", f"median, n={len(by_op[op])}")
        self.stream.report(r, [s for s in ok if s.op == "stream_replay"])
        return r


WORKLOADS = {w.name: w for w in (EtlRelease, QueryMix, DatsEmit)}
