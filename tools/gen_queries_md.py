"""Regenerate QUERIES.md from the registry — one catalog row per query.

'Oracle' = the query ships DuckDB SQL for the oracle parity test;
'rows-only' = non-SQL-expressible surface (weaker rows-only check).
The description is the first sentence of the query's docstring.

Usage: python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
QUERIES_MD = os.path.join(REPO, "QUERIES.md")

sys.path.insert(0, REPO)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.search(r"\.(?:\s|$)", text)
    s = text[: m.end()].strip() if m else text
    return s.replace("|", "\\|")


def render() -> str:
    """The QUERIES.md text for the current registry."""
    from gtec_etl_spark.plans import registry

    specs = registry.specs()  # sorted by name
    rows = []
    for name, spec in specs.items():
        oracle = "yes" if spec.oracle else "rows-only"
        tags = ",".join(spec.tags)
        rows.append(f"| {name} | {oracle} | {tags} | {first_sentence(spec.fn.__doc__)} |")

    n = len(specs)
    anchors = [n_ for n_, s in specs.items() if "spec-anchor" in s.tags]
    out = [
        "# QUERIES — the registered query catalog",
        "",
        "Generated by `tools/gen_queries_md.py` from",
        "`gtec_etl_spark.plans.registry` — do not edit by hand.",
        f"{n} queries; 'oracle' = DuckDB SQL cross-check in the",
        "oracle parity test (tests/test_oracle_parity.py), 'rows-only' =",
        "non-SQL-expressible surface.",
        "",
        "**`spec-anchor` tag**: deliberately scale-unsafe",
        "specification anchors — each pins exact reference semantics (global",
        "ntile, uncapped truth join, exact triangle count, fixed-plane grid)",
        "and each has a registered scale-safe twin that is the production",
        "path. They are correct, intentionally slow at scale, and excluded",
        "from perf-regression expectations: " + ", ".join(f"`{a}`" for a in anchors) + ".",
        "",
        "| Query | Oracle | Tags | What it checks |",
        "|---|---|---|---|",
        *rows,
        "",
    ]
    return "\n".join(out)


def main() -> None:
    from gtec_etl_spark.plans import registry

    with open(QUERIES_MD, "w") as fh:
        fh.write(render())
    specs = registry.specs()
    n_oracled = sum(1 for s in specs.values() if s.oracle)
    print(f"QUERIES.md: {len(specs)} queries ({n_oracled} oracled)")


if __name__ == "__main__":
    main()
