"""Plan-level scale-hazard audits.

`audit_forced_broadcasts` walks a query's ANALYZED logical plan and flags
every `ResolvedHint (strategy=broadcast)` whose subtree scans an sf-scaled
base table with no cardinality-bounding operator in between — the guard
class behind round 7's `graph_triangle_count` defect (a forced broadcast of
the |V|-row degree table: green at sf1, driver-OOM at 100 TB). A hint is
a PROMISE that the side is bounded regardless of corpus size; this audit
makes the promise checkable at authoring time, the way the cartesian sweep
checks its class.

Why the analyzed plan (not the physical plan): a `BroadcastExchange` in the
initial physical plan can be a legitimate STATS-chosen broadcast — small at
test scale, shuffle at 100 TB, exactly what AQE re-decides per run. Only the
explicit `F.broadcast`/hint survives as `ResolvedHint` in the analyzed plan,
so auditing there flags precisely the forced class and nothing else.

Bounding operators (make a corpus-scaled subtree fixed-size):
  - GlobalLimit / LocalLimit (e.g. top-k, fixed-size samples)
  - Sample (fractional training samples are sf-proportional — still flagged;
    absolute-size samples go through limit)
  - global Aggregate (no grouping keys — scalar min/max/count summaries)
A KEYED aggregate does NOT bound: its cardinality is the key domain, which
the plan cannot prove fixed (the triangle-count degree table was exactly a
keyed aggregate). Queries whose key domain is bounded by construction
(event-type dims, a mod-W sketch grid) declare that in
`KEYED_AGG_BROADCAST_OK` with a justification.

Limitation (shared with the cartesian sweep): queries returning an eagerly
materialized result (localCheckpoint iteration loops) expose only the
post-materialization plan; their internal shapes are pinned by dedicated
plan tests.
"""

from __future__ import annotations

import re

# First column of each sf-scaled base table, as it appears in the analyzed
# `Relation [cols] parquet` line. region/nation are fixed-size (5/25 rows)
# and may be broadcast freely.
SCALED_TABLE_MARKERS = {
    "lineitem": "l_orderkey#",
    "orders": "o_orderkey#",
    "customer": "c_custkey#",
    "supplier": "s_suppkey#",
    "part": "p_partkey#",
    "events": "event_id#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
}

_LINE_RE = re.compile(r"^((?::  |   )*)(?:([+:])- )?(.*)$")


def parse_tree(plan: str) -> list[tuple[int, str]]:
    """Parse a Spark plan treeString into (depth, node_text) rows."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        m = _LINE_RE.match(line)
        indent, marker, name = m.groups()
        out.append((len(indent) // 3 + (1 if marker else 0), name))
    return out


def _is_global_aggregate(node: str) -> bool:
    """True for `Aggregate [aggExprs]` (no grouping keys). Keyed aggregates
    print as `Aggregate [keys], [exprs]` — detected by a bracket-depth-0
    `], [` separator so commas inside expressions don't confuse it."""
    if not node.startswith("Aggregate ["):
        return False
    body = node[len("Aggregate ") :]
    depth = 0
    for i, ch in enumerate(body):
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if depth == 0 and body[i : i + 4] == "], [":
            return False  # keyed aggregate — cardinality is the key domain
    return True


def _bounds_cardinality(node: str) -> bool:
    return (
        node.startswith("GlobalLimit")
        or node.startswith("LocalLimit")
        or _is_global_aggregate(node)
    )


def audit_forced_broadcasts(analyzed_plan: str) -> list[str]:
    """Return violation descriptions: one per (broadcast hint, scaled-table
    relation) pair with no bounding operator on the path between them."""
    rows = parse_tree(analyzed_plan)
    violations = []
    for hi, (hdepth, hnode) in enumerate(rows):
        if "ResolvedHint" not in hnode or "broadcast" not in hnode:
            continue
        # subtree = following rows strictly deeper than the hint
        sub = []
        for j in range(hi + 1, len(rows)):
            if rows[j][0] <= hdepth:
                break
            sub.append(rows[j])
        for ri, (rdepth, rnode) in enumerate(sub):
            if not (rnode.startswith("Relation") and " parquet" in rnode):
                continue
            table = next(
                (t for t, m in SCALED_TABLE_MARKERS.items() if m in rnode), None
            )
            if table is None:
                continue
            # ancestor chain: nearest-shallower predecessors back to the hint
            bounded = False
            need = rdepth - 1
            for k in range(ri - 1, -1, -1):
                d, node = sub[k]
                if d == need:
                    if _bounds_cardinality(node):
                        bounded = True
                        break
                    need -= 1
                    if need <= hdepth:
                        break
            if not bounded:
                violations.append(
                    f"forced broadcast of subtree scanning sf-scaled table "
                    f"'{table}' with no limit/global-aggregate between "
                    f"(hint at analyzed-plan depth {hdepth})"
                )
    return violations
