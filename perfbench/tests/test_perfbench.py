"""The benchmark's own tests: percentile rule, generator determinism, the
correctness checks that feed fail_ratio, the BENCHMARK.json contract, and
tiny-size smoke runs of the launcher (these start Spark; about 5 minutes).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen_etl, gen_star
from perfbench.stats import percentile, tail_percentile
from perfbench.workloads import QUERY_OPS, EtlRelease, QueryMix, Sample

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    values = [float(v) for v in range(1, n + 1)]
    got = tail_percentile(values)
    if expected is None:
        assert got is None
        return
    p, value = got
    assert p == expected
    assert value == percentile(values, p)
    assert sum(v > value for v in values) >= 10


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 90) == 5.0
    assert percentile(values, 1) == 1.0


# -- generators -------------------------------------------------------------


def _digest_dir(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


def test_etl_generator_is_deterministic(tmp_path):
    a = gen_etl.generate(str(tmp_path / "a"), seed=7, n_subjects=500)
    b = gen_etl.generate(str(tmp_path / "b"), seed=7, n_subjects=500)
    c = gen_etl.generate(str(tmp_path / "c"), seed=8, n_subjects=500)
    assert _digest_dir(str(tmp_path / "a")) == _digest_dir(str(tmp_path / "b"))
    assert _digest_dir(str(tmp_path / "a")) != _digest_dir(str(tmp_path / "c"))
    assert a.expected_group_sizes == b.expected_group_sizes
    assert a.n_bytes == sum(os.path.getsize(p) for p in (a.subjects_tsv, a.samples_tsv, a.restricted_tsv))


def _read_tsv(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f, delimiter="\t"))


def test_etl_generator_plants_the_counts_it_reports(tmp_path):
    inp = gen_etl.generate(str(tmp_path), seed=3, n_subjects=800)
    subjects = {r["SUBJID"]: r for r in _read_tsv(inp.subjects_tsv)}
    samples = _read_tsv(inp.samples_tsv)
    restricted = _read_tsv(inp.restricted_tsv)
    dangling = [s for s in samples if s["SAMPID"].rsplit("-", 1)[0] not in subjects]
    conflicts = [r for r in restricted if subjects[r["SUBJID"]]["AGE"] != r["AGE"]]
    assert len(dangling) == inp.n_dangling_samples == 80
    assert len(conflicts) == inp.n_conflicts == 4
    groups: dict[str, int] = {}
    for r in restricted:
        groups[r["CONSENT"]] = groups.get(r["CONSENT"], 0) + 1
    assert groups == inp.expected_group_sizes
    assert sum(groups.values()) == len(subjects) == 800
    assert inp.n_rows == len(subjects) + len(samples) + len(restricted)


def test_star_generator_is_deterministic():
    a = gen_star.build_tables(5, 0.001)
    b = gen_star.build_tables(5, 0.001)
    c = gen_star.build_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    sizes = gen_star.table_sizes(0.001)
    assert a["orders"].num_rows == sizes["orders"]
    assert a["lineitem"].num_rows == sizes["lineitem"]
    assert gen_star.dats_documents(a) == gen_star.dats_documents(b)
    assert gen_star.dats_documents(a) != gen_star.dats_documents(c)


# -- correctness checks that feed fail_ratio --------------------------------


class _NoSpan:
    def span(self, name):
        from contextlib import nullcontext

        return nullcontext()


def _query_mix_with_fixed_result(rows, cols):
    wl = QueryMix(None, "", 1, {}, _NoSpan())
    wl.schedule = ["q34_bgp_over_triples"]
    wl._run = lambda op: (rows, cols)
    return wl


def test_query_result_matching_its_pin_passes():
    from perfbench.stats import rows_digest

    rows, cols = [(1, "a"), (2, "b")], ["k", "v"]
    wl = _query_mix_with_fixed_result(rows, cols)
    op = wl._next_op(0)
    wl.pinned[op] = (2, rows_digest(rows, cols))
    sample = wl.iterate(0, traced=False)
    assert sample.ok


def test_wrong_pinned_hash_counts_as_failure():
    rows, cols = [(1, "a"), (2, "b")], ["k", "v"]
    wl = _query_mix_with_fixed_result(rows, cols)
    op = wl._next_op(0)
    wl.pinned[op] = (2, "0" * 64)
    sample = wl.iterate(0, traced=False)
    assert not sample.ok
    assert "differs from pinned" in sample.note


def test_release_with_other_bag_sha_or_counts_counts_as_failure(tmp_path):
    wl = EtlRelease(None, str(tmp_path), 1, {}, _NoSpan())
    wl.inputs = gen_etl.generate(str(tmp_path / "in"), seed=1, n_subjects=200)
    counters = {"n_docs": 4, "n_full": 10, "n_refs": 0, "n_unknown_type": 0,
                "n_bad_id": 0, "n_dup_full": 0, "n_dangling": 0}
    good = {"counters": counters, "summary": {"bag_sha256": "a" * 64, "payload_bytes": 1},
            "verified": True, "bag_bytes": 1,
            "n_dangling": wl.inputs.n_dangling_samples, "n_conflicts": wl.inputs.n_conflicts}
    assert wl._check_release(good) == []
    assert wl._check_release(dict(good, summary={"bag_sha256": "b" * 64, "payload_bytes": 1}))
    assert wl._check_release(dict(good, n_conflicts=good["n_conflicts"] + 1))
    assert wl._check_release(dict(good, counters=dict(counters, n_dangling=1)))
    assert wl._check_release(dict(good, verified=False))


def test_traced_query_mix_gives_every_operation_both_modes():
    wl = QueryMix(None, "", 3, {}, _NoSpan())
    n = 2 * len(QUERY_OPS)
    traced = {(wl._next_op(i), wl.trace_this(i)) for i in range(n)}
    assert traced == {(op, mode) for op in QUERY_OPS for mode in (True, False)}
    first_pass = [wl.trace_this(i) for i in range(len(QUERY_OPS))]
    assert any(first_pass) and not all(first_pass)


def test_failed_operation_is_recorded_not_raised():
    wl = QueryMix(None, "", 1, {}, _NoSpan())

    def boom(op):
        raise RuntimeError("engine down")

    wl._run = boom
    wl.schedule = ["q34_bgp_over_triples"]
    sample = wl.iterate(0, traced=False)
    assert isinstance(sample, Sample) and not sample.ok and "engine down" in sample.note


# -- BENCHMARK.json contract ------------------------------------------------


def test_benchmark_json_matches_the_launcher():
    from perfbench.run import END_TO_END, per_layer_specs
    from perfbench.workloads import WORKLOADS

    spec = _benchmark_json()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == per_layer_specs()
    assert all(w["name"] in WORKLOADS for w in spec["workloads"])
    assert len(spec["per_layer"]) <= 128
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(QUERY_OPS) == len({op for op in QUERY_OPS})


def test_launcher_refuses_a_tree_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_release", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# -- tiny-size smoke runs (start Spark) -------------------------------------


def _run(workload: str, trace: int, prelude: str = "") -> dict:
    args = ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); sys.path.insert(0, '.')\n"
        f"{prelude}\n"
        "from perfbench import run\n"
        f"sys.exit(run.main({args!r}))\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["etl_release", "query_mix", "dats_emit"])
def test_smoke_run_emits_every_end_to_end_metric(workload):
    res = _run(workload, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = [m["name"] for m in _benchmark_json()["end_to_end"]]
    assert list(res["metrics"]) == names
    assert all(res["metrics"][n]["value"] > 0 for n in names)


def test_traced_smoke_run_emits_every_per_layer_metric():
    res = _run("etl_release", trace=1)
    names = [m["name"] for m in _benchmark_json()["per_layer"]]
    assert list(res["metrics"]) == names
    assert res["metrics"]["pipelines.run_gtex_like_etl.jobs"]["value"] > 0


def test_injected_wrong_pin_makes_fail_ratio_nonzero():
    prelude = (
        "from perfbench import workloads as w\n"
        "_warm = w.QueryMix.warm\n"
        "def warm(self):\n"
        "    _warm(self)\n"
        "    self.pinned['q34_bgp_over_triples'] = (0, 'wrong')\n"
        "w.QueryMix.warm = warm\n"
    )
    res = _run("query_mix", trace=0, prelude=prelude)
    assert not res["correct"]
    assert res["failed"] >= 1 and res["failed"] < res["attempted"]
