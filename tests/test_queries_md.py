"""QUERIES.md is generated from the registry; a query added or deleted
without regenerating it leaves the committed catalog stale."""

from __future__ import annotations

import importlib.util
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_queries_md_matches_registry():
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", ROOT / "tools" / "gen_queries_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    committed = (ROOT / "QUERIES.md").read_text()
    assert gen.render() == committed, (
        "QUERIES.md is stale; run `python tools/gen_queries_md.py`"
    )
