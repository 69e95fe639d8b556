"""Seeded generator for the star schema the catalog reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one parquet file per table, with the column names, types and value
domains the registered queries filter on (region and nation names, market
segments, return flags, the events type set and the 2024-01 event month).

Sizes scale with `sf` like the TPC-H-shaped tables they imitate: 150,000
customers, 1.5 M orders and ~6 M lineitems per unit of sf. The same
(seed, sf) always writes the same rows.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = "the fast key order sort table scan merge part window small hash join batch stream spark dup".split()

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH_US = 788_918_400 * 1_000_000  # 1995-01-01
ORDER_DAYS = 2_403  # through 2001-08-01
EVENT_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US


def table_sizes(sf: float) -> dict[str, int]:
    orders = max(200, round(1_500_000 * sf))
    customers = max(250, round(150_000 * sf))
    return {
        "customer": customers,
        "supplier": max(10, round(10_000 * sf)),
        "part": max(64, round(200_000 * sf)),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": max(1_000, round(1_000_000 * sf)),
        "users": max(10, customers // 10),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
    })

    ck = np.arange(n["customer"], dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, ck.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": _pick(rng, SEGMENTS, ck.size),
    })

    sk = np.arange(n["supplier"], dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, sk.size), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size),
    })

    pk = np.arange(n["part"], dtype=np.int64)
    part_names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, part_names, pk.size),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, pk.size).tolist()]),
        "p_type": _pick(rng, PART_TYPES, pk.size),
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })

    ok = np.arange(n["orders"], dtype=np.int64)
    order_day = rng.integers(0, ORDER_DAYS + 1, ok.size)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], ok.size),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], ok.size),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, ok.size),
        "o_orderdate": _ts(ORDER_EPOCH_US + order_day * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, ok.size),
    })

    n_li = n["lineitem"]
    l_order = rng.integers(0, n["orders"], n_li)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[l_order] + rng.integers(1, 95, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n["part"], n_li),
        "l_suppkey": rng.integers(0, n["supplier"], n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(ORDER_EPOCH_US + ship_day * DAY_US),
    })

    n_ev = n["events"]
    ev_ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) + EVENT_EPOCH_US
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n["users"], n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
    })

    # Registered as views by the SQL surface; no benchmarked query scans them.
    n_doc = 50
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": [" ".join(_pick(rng, WORDS, 12).to_pylist()) for _ in range(n_doc)],
        "lang": _pick(rng, ["en", "es", "de"], n_doc),
        "source": _pick(rng, ["src0", "src1"], n_doc),
    })
    tables["documents"] = tables["documents"].append_column(
        "n_chars", pc.utf8_length(tables["documents"]["text"]).cast(pa.int64())
    )
    vecs = rng.normal(0.0, 0.1, (n_doc, 16)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_doc), pa.int32()),
    })
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def _id(entity: str, *key) -> str:
    return hashlib.sha256("|".join(map(str, (entity,) + key)).encode()).hexdigest()[:32]


def dats_documents(tables: dict[str, pa.Table]) -> list[str]:
    """One DATS-shaped JSON-LD document per region, in the shape of the
    reference's releases: program Dataset -> study Datasets (nations) ->
    study groups (market segments; members as @id refs) and subjects
    (customers, with characteristics and file Datasets, their lineitems).
    Within a document a file or producer (supplier) is embedded in full on
    its first occurrence and as an @id ref after."""
    cust = tables["customer"].to_pydict()
    supplier_name = tables["supplier"]["s_name"].to_pylist()
    order_cust = tables["orders"]["o_custkey"].to_pylist()
    li = tables["lineitem"]
    files_of = defaultdict(list)
    for ok, ln, sk in zip(li["l_orderkey"].to_pylist(), li["l_linenumber"].to_pylist(),
                          li["l_suppkey"].to_pylist()):
        files_of[order_cust[ok]].append((ok, ln, sk))
    subjects_of = defaultdict(list)
    for ck, name, nk, bal, seg in zip(cust["c_custkey"], cust["c_name"], cust["c_nationkey"],
                                      cust["c_acctbal"], cust["c_mktsegment"]):
        subjects_of[nk].append((name, ck, bal, seg))
    nations = tables["nation"].to_pydict()

    docs = []
    for rk, region in enumerate(REGIONS):
        seen: set[str] = set()

        def full_or_ref(obj: dict) -> dict:
            if obj["@id"] in seen:
                return {"@id": obj["@id"]}
            seen.add(obj["@id"])
            return obj

        studies = []
        for nk, nation, n_rk in zip(nations["n_nationkey"], nations["n_name"], nations["n_regionkey"]):
            if n_rk != rk:
                continue
            subjects, groups = [], defaultdict(list)
            for name, ck, bal, seg in sorted(subjects_of[nk]):
                subject_id = _id("Material", ck)
                parts = []
                for ok, ln, sk in sorted(files_of[ck]):
                    producer = full_or_ref({"@id": _id("Organization", sk), "@type": "Organization",
                                            "name": supplier_name[sk]})
                    parts.append(full_or_ref({"@id": _id("Dataset", ok, ln), "@type": "Dataset",
                                              "producedBy": producer}))
                subjects.append({
                    "@id": subject_id, "@type": "Material", "name": name,
                    "characteristics": [{"name": "mktsegment", "value": seg},
                                        {"name": "acctbal", "value": f"{bal:,.2f}"}],
                    "hasPart": parts,
                })
                groups[seg].append({"@id": subject_id})
            studies.append({
                "@id": _id("Dataset", nation), "@type": "Dataset", "title": nation,
                "studyGroups": [
                    {"@id": _id("StudyGroup", nation, seg), "@type": "StudyGroup", "name": seg,
                     "size": len(members), "members": members}
                    for seg, members in sorted(groups.items())
                ],
                "isAbout": subjects,
            })
        docs.append(json.dumps({"@id": _id("Dataset", region), "@type": "Dataset", "title": region,
                                "hasPart": studies}, separators=(",", ":")))
    return docs


def write_dats_release(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write `dats_documents` as one JSON-lines file in `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "documents.json"), "w") as f:
        f.writelines(doc + "\n" for doc in dats_documents(tables))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    return write_tables(build_tables(seed, sf), out_dir)
