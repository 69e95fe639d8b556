"""Tests for the foreign JSON-LD -> triples loader (SURVEY S16).

The registered queries pin parser semantics against DuckDB oracles; these
tests cover what the oracles can't: the physical file round-trip through
the K1 writer, blank-node determinism, the triple set of the engine's own
DATS release, the single-scan plan, SQL quoting of field names, malformed
input, and a pure-Python reference flattener over random documents.
"""

from __future__ import annotations

import hashlib
import json
import re

import pytest
from hypothesis import given, settings, strategies as st

from gtec_etl_spark.plans.sink_queries import k1_jsonld_study_groups
from gtec_etl_spark.plans.triples_queries import (
    _FIXTURE_PATH,
    K1_DOC_SCHEMA,
    src_jsonld_roundtrip,
)
from gtec_etl_spark.sinks.dats_builder import build_program_documents
from gtec_etl_spark.sinks.jsonld import write_documents
from gtec_etl_spark.sources.jsonld_triples import (
    jsonld_to_triples,
    read_jsonld,
)


def test_file_roundtrip_equals_inline_roundtrip(spark, sf_dir, tmp_path):
    """emit -> write_documents -> spark.read.json -> triples must equal the
    zero-I/O from_json path: the physical writer adds or loses nothing."""
    docs = k1_jsonld_study_groups(spark, sf_dir)
    out = str(tmp_path / "k1docs")
    write_documents(docs, out)
    # write_documents emits one document per line -> JSON Lines read. The
    # read schema is pinned (read.json would widen `size` to the same
    # long anyway; pinning keeps the comparison about CONTENT).
    reloaded = spark.read.schema(K1_DOC_SCHEMA).json(out)
    from_files = {
        (r.s, r.p, r.o) for r in jsonld_to_triples(reloaded).collect()
    }
    inline = {
        (r.s, r.p, r.o) for r in src_jsonld_roundtrip(spark, sf_dir).collect()
    }
    assert from_files == inline
    assert len(inline) > 0


def test_ref_only_objects_add_no_literals(spark):
    """First-occurrence-full-then-ref: a full object and its @id-only ref
    flatten to the same graph as two fulls would minus nothing — refs
    contribute edges only."""
    rows = [
        json.dumps(
            {
                "@id": "e:a",
                "link": {"@id": "e:b", "name": "bee"},
            }
        ),
        json.dumps({"@id": "e:c", "link": {"@id": "e:b"}}),
    ]
    df = spark.read.json(spark.sparkContext.parallelize(rows))
    got = {(r.s, r.p, r.o) for r in jsonld_to_triples(df).collect()}
    assert got == {
        ("e:a", "link", "e:b"),
        ("e:c", "link", "e:b"),
        ("e:b", "name", "bee"),
    }


def test_blank_node_ids_deterministic(spark):
    """An object without @id gets a content-hash blank-node label —
    reproducible across runs/engines (rdflib's bnode labels are not)."""
    doc = {"@id": "e:x", "dim": {"unit": "count"}}
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(doc)]))
    triples = {(r.s, r.p, r.o) for r in jsonld_to_triples(df).collect()}
    expected_bnode = "_:" + hashlib.sha256(b'{"unit":"count"}').hexdigest()[:16]
    assert ("e:x", "dim", expected_bnode) in triples
    assert (expected_bnode, "unit", "count") in triples


def test_mixed_identified_and_anonymous_siblings(spark):
    """Schema-merge hazard (r5 advice): when one document's nested object
    has @id and a sibling document's object at the SAME path omits it, the
    merged schema contains @id so the anonymous node reads as @id=NULL. It
    must still get a deterministic bnode subject and keep its parent edge
    and literals — rdflib assigns a bnode; dropping the node would lose
    triples silently."""
    rows = [
        json.dumps({"@id": "e:a", "dim": {"@id": "e:d", "unit": "mm"}}),
        json.dumps({"@id": "e:b", "dim": {"unit": "count"}}),
    ]
    df = spark.read.json(spark.sparkContext.parallelize(rows))
    assert "@id" in df.schema["dim"].dataType.fieldNames()  # merged schema
    triples = {(r.s, r.p, r.o) for r in jsonld_to_triples(df).collect()}
    assert ("e:a", "dim", "e:d") in triples
    assert ("e:d", "unit", "mm") in triples
    # The anonymous sibling: bnode subject, edge kept, literal kept, and
    # NO null-subject or null-object rows anywhere.
    bnodes = {s for (s, p, o) in triples if p == "unit" and o == "count"}
    assert len(bnodes) == 1
    bnode = bnodes.pop()
    assert bnode.startswith("_:")
    assert ("e:b", "dim", bnode) in triples
    assert all(s is not None and o is not None for (s, _, o) in triples)


def test_nested_list_predicates_encode_position(spark):
    """@list-of-lists flattening: position becomes an indexed predicate,
    recursively; a document WITHOUT the nested field (null after schema
    merge) contributes nothing for it."""
    rows = [
        json.dumps({"@id": "e:1", "grid": [[10, 20], [30]]}),
        json.dumps({"@id": "e:2", "other": "flat"}),
    ]
    df = spark.read.json(spark.sparkContext.parallelize(rows))
    got = {(r.s, r.p, r.o) for r in jsonld_to_triples(df).collect()}
    assert got == {
        ("e:1", "grid[0]", "10"),
        ("e:1", "grid[0]", "20"),
        ("e:1", "grid[1]", "30"),
        ("e:2", "other", "flat"),
    }


def test_triples_flatten_has_no_python_udfs(spark, sf_dir):
    plan = (
        src_jsonld_roundtrip(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _triple_set(df) -> set[tuple[str, str, str]]:
    return {(r.s, r.p, r.o) for r in df.collect()}


# The engine's own DATS release at the test sf (5 program documents): its
# triple count and the sha256 of the sorted, tab/newline-joined (s, p, o)
# set. Both were computed with the earlier flatten (one union branch per
# nesting level and field), so any rewrite must reproduce its graph exactly.
DATS_RELEASE_TRIPLES = 15484
DATS_RELEASE_SHA256 = "e3398833b8f975a7f0f51b23341f3b65306e3a8ed3523b55abc5303d90d8433a"


def test_dats_release_triple_set_digest(spark, sf_dir, tmp_path):
    out = str(tmp_path / "dats")
    write_documents(build_program_documents(spark, sf_dir), out)
    triples = sorted(_triple_set(read_jsonld(spark, out, multiline=False)))
    digest = hashlib.sha256(
        "\n".join("\t".join(t) for t in triples).encode()
    ).hexdigest()
    assert (len(triples), digest) == (DATS_RELEASE_TRIPLES, DATS_RELEASE_SHA256)


def test_read_jsonld_is_one_scan_without_union(spark):
    """The flatten is one projection over one file scan, whatever the
    nesting: no per-field branch re-reads the file."""
    plan = read_jsonld(spark, _FIXTURE_PATH)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan json") == 1
    assert "Union" not in plan


def test_read_jsonld_malformed_line_fails_fast(spark, tmp_path):
    """A broken line is an error naming the file, not a document whose
    triples silently vanish."""
    path = tmp_path / "docs.jsonl"
    path.write_text(
        '{"@id": "e:1", "name": "one"}\n'
        '{"@id": "e:2", "name": \n'
        '{"@id": "e:3", "name": "three"}\n'
    )
    with pytest.raises(ValueError, match="malformed JSON-LD") as ei:
        read_jsonld(spark, str(path), multiline=False)
    assert str(path) in str(ei.value)


def test_read_jsonld_rewritten_malformed_fails_fast(spark, tmp_path):
    """A file read once and then rewritten with a broken line is inferred,
    and so checked, again: the cached schema of the old version must not
    skip the FAILFAST scan."""
    path = tmp_path / "docs.jsonl"
    path.write_text('{"@id": "e:1", "name": "one"}\n{"@id": "e:2", "name": "two"}\n')
    assert read_jsonld(spark, str(path), multiline=False).count() == 2
    path.write_text('{"@id": "e:1", "name": "one"}\n{"@id": "e:2", "name": \n')
    with pytest.raises(ValueError, match="malformed JSON-LD in " + re.escape(str(path))):
        read_jsonld(spark, str(path), multiline=False)


def test_field_names_are_quoted_in_sql(spark, tmp_path):
    """Field names become SQL identifiers and predicate literals: IRIs,
    CURIEs, quotes, backslashes, dots and backticks all survive."""
    doc = {
        "@id": "e:1",
        "http://schema.org/name": "iri",
        "dats:title": "curie",
        "it's": "quote",
        "back\\slash": "backslash",
        "tick`ed": "backtick",
        "child": {"@id": "e:2", "a.b": "dotted", "in`ner": ["x", "y"]},
    }
    path = tmp_path / "doc.jsonl"
    path.write_text(json.dumps(doc) + "\n")
    assert _triple_set(read_jsonld(spark, str(path), multiline=False)) == {
        ("e:1", "http://schema.org/name", "iri"),
        ("e:1", "dats:title", "curie"),
        ("e:1", "it's", "quote"),
        ("e:1", "back\\slash", "backslash"),
        ("e:1", "tick`ed", "backtick"),
        ("e:1", "child", "e:2"),
        ("e:2", "a.b", "dotted"),
        ("e:2", "in`ner", "x"),
        ("e:2", "in`ner", "y"),
    }


def _reference_triples(docs: list[dict]) -> set[tuple[str, str, str]]:
    """The module docstring's semantics for documents whose objects all
    have an @id, in plain Python."""
    out: set[tuple[str, str, str]] = set()

    def node(obj: dict) -> str:
        for key, v in obj.items():
            if key not in ("@id", "@context"):
                value(obj["@id"], key, v)
        return obj["@id"]

    def value(s: str, p: str, v) -> None:
        if v is None:
            return
        if isinstance(v, dict):
            out.add((s, p, node(v)))
        elif isinstance(v, list):
            for i, e in enumerate(v):
                value(s, f"{p}[{i}]" if isinstance(e, list) else p, e)
        else:
            out.add((s, p, str(v)))

    for doc in docs:
        node(doc)
    return out


_IDS = st.sampled_from([f"e:{i}" for i in range(5)])
_TEXT = st.text(alphabet="ab'`\\ ", max_size=3)
_INT = st.integers(min_value=-3, max_value=99)


def _lists(leaf, depth: int):
    return leaf if depth == 0 else st.lists(_lists(leaf, depth - 1), max_size=3)


@st.composite
def _objects(draw, depth: int, full: bool = False) -> dict:
    """An object whose every key keeps one type across documents (so the
    merged schema has no string-widened conflicts); unless `full`, at the
    depth limit or by chance an @id-only reference."""
    obj = {"@id": draw(_IDS)}
    if not full and (depth == 0 or draw(st.integers(0, 3)) == 0):
        return obj
    child = _objects(depth - 1)
    kinds = {
        "name": _TEXT,
        "it's `odd`": _TEXT,
        "size": _INT,
        "tags": st.lists(st.one_of(st.none(), _TEXT), max_size=3),
        "grid": _lists(_INT, 2),
        "cube": _lists(_INT, 3),
        "part": child,
        "members": st.lists(child, max_size=3),
        "paths": _lists(child, 2),
    }
    for key in draw(st.sets(st.sampled_from(sorted(kinds)), min_size=1, max_size=5)):
        obj[key] = draw(kinds[key])
    return obj


@settings(max_examples=25, deadline=None)
@given(st.lists(_objects(3, full=True), min_size=1, max_size=4))
def test_flatten_matches_python_reference(spark, docs):
    rows = [json.dumps(d) for d in docs]
    df = spark.read.json(spark.sparkContext.parallelize(rows))
    assert _triple_set(jsonld_to_triples(df)) == _reference_triples(docs)
