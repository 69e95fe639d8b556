"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded around calls into the program's public functions by
patching module attributes in the benchmark process (the program itself
is not edited). Each span keeps its name, start, end, parent and
operation id; spans stay in memory until the run ends. While a span is
open its own Spark job group is set, so the jobs a lazy builder's eager
caller triggers are attributed to the innermost open span; the counts
are resolved from `statusTracker` once the run is over.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: (module, attribute, span name). Modules that bind a function by name
#: (`from x import f`) are patched at the binding site as well.
TARGETS = [
    ("gtec_etl_spark.session", "get_spark", "session.get_spark"),
    ("gtec_etl_spark.catalog", "table", "catalog.table"),
    ("gtec_etl_spark.catalog", "load_tables", "catalog.load_tables"),
    ("gtec_etl_spark.catalog", "register_views", "catalog.register_views"),
    ("gtec_etl_spark.sources.validated", "read_tsv", "sources.read_tsv"),
    ("gtec_etl_spark.sources.validated", "assert_valid", "sources.assert_valid"),
    ("gtec_etl_spark.sources.jsonld_triples", "read_jsonld", "sources.read_jsonld"),
    ("gtec_etl_spark.sources.jsonld_triples", "jsonld_to_triples", "sources.jsonld_to_triples"),
    ("gtec_etl_spark.operators.joins", "dangling_keys", "operators.dangling_keys"),
    ("gtec_etl_spark.operators.joins", "conflict_checked_merge", "operators.conflict_checked_merge"),
    ("gtec_etl_spark.pipelines", "run_gtex_like_etl", "pipelines.run_gtex_like_etl"),
    ("gtec_etl_spark.pipelines", "export_release", "pipelines.export_release"),
    ("gtec_etl_spark.pipelines", "write_tsv_dump", "sinks.write_tsv_dump"),
    ("gtec_etl_spark.pipelines", "make_bag", "sinks.make_bag"),
    ("gtec_etl_spark.sinks.tabular", "write_tsv_dump", "sinks.write_tsv_dump"),
    ("gtec_etl_spark.sinks.bdbag", "make_bag", "sinks.make_bag"),
    ("gtec_etl_spark.sinks.bdbag", "verify_bag", "sinks.verify_bag"),
    ("gtec_etl_spark.sinks.jsonld", "validate_release", "sinks.validate_release"),
    ("gtec_etl_spark.sinks.jsonld", "write_documents", "sinks.write_documents"),
    ("gtec_etl_spark.sinks.dats_builder", "build_program_documents", "sinks.build_program_documents"),
    ("gtec_etl_spark.streaming.pipelines", "read_events_stream", "streaming.read_events_stream"),
    ("gtec_etl_spark.streaming.pipelines", "session_counts", "streaming.session_counts"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    group: str | None = None
    own_jobs: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Collects spans while `enabled`; a disabled tracer's `span` is a no-op,
    so the same workload code runs traced and untraced."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._sc = None
        self._patches: list[tuple[object, str, object]] = []

    def bind(self, spark_context) -> None:
        """Start tagging spans with Spark job groups."""
        self._sc = spark_context

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = Span(name, time.perf_counter(), parent=parent, op_id=self.op_id)
        if parent is not None:
            self.spans[parent].children.append(idx)
        if self._sc is not None:
            rec.group = f"perfbench-span-{idx}"
            self._sc.setLocalProperty("spark.jobGroup.id", rec.group)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                outer = self.spans[self._stack[-1]].group if self._stack else None
                self._sc.setLocalProperty("spark.jobGroup.id", outer)

    def patch(self) -> None:
        """Wrap every TARGETS attribute in a span."""
        import importlib

        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            original = getattr(mod, attr)
            setattr(mod, attr, self._wrap(original, span_name))
            self._patches.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patches):
            setattr(mod, attr, original)
        self._patches.clear()

    def _wrap(self, fn, span_name: str):
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def resolve_jobs(self) -> None:
        """Fill each span's own job count from its job group. Waits for the
        listener bus first, since job events are recorded asynchronously."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            if rec.group is not None:
                rec.own_jobs = len(tracker.getJobIdsForGroup(rec.group))


@dataclass
class SpanStats:
    calls: int = 0
    total_s: float = 0.0
    self_s: float = 0.0
    jobs: int = 0


def aggregate(spans: list[Span], op_ids: set[int]) -> dict[str, SpanStats]:
    """Per span name: calls, inclusive and self seconds, and inclusive job
    count, over the spans of the given operations. Self time is a span's
    duration minus the part of it its children cover."""
    incl_jobs: dict[int, int] = {}
    for idx in range(len(spans) - 1, -1, -1):  # children come after parents
        rec = spans[idx]
        incl_jobs[idx] = rec.own_jobs + sum(incl_jobs[c] for c in rec.children)
    out: dict[str, SpanStats] = defaultdict(SpanStats)
    for idx, rec in enumerate(spans):
        if rec.op_id not in op_ids:
            continue
        dur = rec.end - rec.start
        covered = sum(spans[c].end - spans[c].start for c in rec.children)
        st = out[rec.name]
        st.calls += 1
        st.total_s += dur
        st.self_s += max(0.0, dur - covered)
        st.jobs += incl_jobs[idx]
    return dict(out)
