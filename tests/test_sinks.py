"""Emitter tests: determinism, first-occurrence dedup, ref minimality,
structural integrity of the assembled JSON-LD, and the TSV dump round-trip.
"""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.sinks.dats_builder import build_program_documents
from gtec_etl_spark.sinks.tabular import write_tsv_dump
from tests.conftest import SF_DIR


def _docs(spark):
    rows = build_program_documents(spark, SF_DIR).orderBy("program").collect()
    return {r["program"]: json.loads(r["doc"]) for r in rows}


def test_documents_deterministic_across_runs(spark):
    a = build_program_documents(spark, SF_DIR).orderBy("program").collect()
    b = build_program_documents(spark, SF_DIR).orderBy("program").collect()
    assert [(r["program"], r["doc"]) for r in a] == [(r["program"], r["doc"]) for r in b]


def test_document_structure_and_counts(spark):
    docs = _docs(spark)
    regions = {
        r["r_name"]: r["r_regionkey"]
        for r in catalog.table(spark, SF_DIR, "region").collect()
    }
    assert set(docs) == set(regions)
    nations = catalog.table(spark, SF_DIR, "nation").collect()
    per_region = {}
    for n in nations:
        per_region.setdefault(n["n_regionkey"], set()).add(n["n_name"])
    for prog, doc in docs.items():
        assert doc["@type"] == "Dataset" and doc["title"] == prog
        got_studies = {s["title"] for s in doc["hasPart"]}
        assert got_studies == per_region[regions[prog]]
        for study in doc["hasPart"]:
            sizes = sum(g["size"] for g in study["studyGroups"])
            assert sizes == len(study["isAbout"])  # group sizes cover subjects


def test_group_members_are_id_refs(spark):
    docs = _docs(spark)
    doc = next(iter(docs.values()))
    study = doc["hasPart"][0]
    subject_ids = {s["@id"] for s in study["isAbout"]}
    for g in study["studyGroups"]:
        for m in g["members"]:
            assert set(m.keys()) == {"@id"}  # cycle links serialize as pure refs
            assert m["@id"] in subject_ids


def test_producer_first_occurrence_full_then_ref(spark):
    docs = _docs(spark)
    total_refs = 0
    for doc in docs.values():
        # Per-DOCUMENT contract: every producer @id referenced anywhere in
        # this document is embedded in full exactly once IN THIS document
        # (a ref that only resolves in some other program's document would
        # be dangling — each JSON-LD document is self-contained).
        full, referenced = {}, set()
        for study in doc["hasPart"]:
            for subj in study["isAbout"]:
                for f in subj["hasPart"]:
                    if set(f.keys()) == {"@id"}:
                        # deduplicated file dataset (round 12): a later
                        # duplicate of a file @id collapses to a ref and
                        # carries no producer
                        continue
                    p = f["producedBy"]
                    referenced.add(p["@id"])
                    if set(p.keys()) == {"@id"}:
                        total_refs += 1
                    else:
                        assert p["@type"] == "Organization" and p["name"]
                        full[p["@id"]] = full.get(p["@id"], 0) + 1
        assert full and all(v == 1 for v in full.values())
        assert set(full) == referenced  # no dangling refs in this document
    assert total_refs > 0  # shared objects actually got deduplicated


def test_ids_are_content_hashes_not_uuids(spark):
    docs = _docs(spark)
    doc = next(iter(docs.values()))
    assert doc["@id"].startswith("dats:Dataset/")
    sid = doc["hasPart"][0]["isAbout"][0]["@id"]
    assert sid.startswith("dats:Material/") and len(sid.split("/")[1]) == 32


def test_tsv_dump_roundtrip(spark, tmp_path):
    from gtec_etl_spark.plans.etl_queries import ref_q6_tabular_dump

    df = ref_q6_tabular_dump(spark, SF_DIR)
    out = str(tmp_path / "dump")
    write_tsv_dump(df, out, ["program", "study", "subject_name", "sample_id", "file_id"],
                   single_file=True)
    files = glob.glob(out + "/part-*.tsv")
    assert len(files) == 1  # stable finalized name, no job-UUID part files
    back = (
        spark.read.option("sep", "\t").option("header", True).csv(out)
    )
    assert back.count() == df.count()
    assert back.columns == df.columns


def test_tsv_dump_finalize_is_scheme_dispatched(spark, tmp_path):
    """The stable-name commit step must go through the
    Hadoop FileSystem API, not glob/os.replace — pinned by writing the
    dump to an explicit file:// URI, which os.path/glob cannot list but
    scheme-dispatched Path.getFileSystem resolves (the same way an
    s3a:// sink path would)."""
    from gtec_etl_spark.plans.etl_queries import ref_q6_tabular_dump

    df = ref_q6_tabular_dump(spark, SF_DIR).limit(50)
    out_local = str(tmp_path / "uri_dump")
    write_tsv_dump(
        df,
        "file://" + out_local,
        ["program", "study", "subject_name", "sample_id", "file_id"],
        single_file=True,
    )
    names = sorted(p.name for p in (tmp_path / "uri_dump").iterdir())
    assert names == ["part-00000.tsv"]  # finalized: no _SUCCESS/.crc/UUID
    # idempotent on an already-finalized dir (rename-to-self is a no-op)
    from gtec_etl_spark.sinks.tabular import finalize_deterministic_dir

    finalize_deterministic_dir(spark, "file://" + out_local, "tsv")
    assert sorted(p.name for p in (tmp_path / "uri_dump").iterdir()) == names


def test_binary_content_hashes_match_hashlib(spark):
    """Spark-side manifest hashing (k4_bag_manifest's engine half) is the
    raw-byte digest for ANY payload, including non-UTF-8 bytes the
    DuckDB oracle's decode() path can't represent."""
    import hashlib

    from pyspark.sql import functions as F

    payload = bytes(range(256))  # decidedly not UTF-8
    df = spark.createDataFrame([(payload,)], "content binary")
    row = df.select(
        F.md5("content").alias("m"), F.sha2("content", 256).alias("s")
    ).collect()[0]
    assert row["m"] == hashlib.md5(payload).hexdigest()
    assert row["s"] == hashlib.sha256(payload).hexdigest()


def test_range_bucketed_write_layout(spark, tmp_path):
    """Physical contract of sinks.tabular.write_range_bucketed: one
    directory per bucket, parquet footer min/max equal to the
    k5_range_bucket_layout query's rows, and bucket key-ranges pairwise
    disjoint — the data-skipping property the layout exists for."""
    import pyarrow.parquet as pq

    from gtec_etl_spark.plans.sink_queries import K5_BUCKETS, k5_range_bucket_layout
    from gtec_etl_spark.sinks.tabular import write_range_bucketed

    docs = catalog.table(spark, SF_DIR, "documents")
    ub = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    out = str(tmp_path / "bucketed")
    write_range_bucketed(docs, out, "doc_id", K5_BUCKETS, ub)

    expected = {
        r["bucket"]: (r["n_rows"], r["min_id"], r["max_id"])
        for r in k5_range_bucket_layout(spark, SF_DIR).collect()
    }

    seen = {}
    for d in sorted(glob.glob(out + "/bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        n = mn = mx = None
        for f in sorted(glob.glob(d + "/*.parquet")):
            md = pq.read_metadata(f)
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(0).statistics
                assert md.row_group(i).column(0).path_in_schema == "doc_id"
                n = (n or 0) + md.row_group(i).num_rows
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        seen[b] = (n, mn, mx)
    assert seen == expected

    spans = sorted((mn, mx) for (_, mn, mx) in seen.values())
    for (_, amax), (bmin, _) in zip(spans, spans[1:]):
        assert amax < bmin  # disjoint → a key predicate prunes to one bucket


def test_compact_parquet_dir_preserves_content(spark, tmp_path):
    """Compaction contract: many fragment files in, size-targeted few
    files out, content multiset unchanged, sorted row groups when a key
    is given."""
    from gtec_etl_spark.sinks.tabular import compact_parquet_dir

    src = str(tmp_path / "frags")
    for b in range(6):
        spark.createDataFrame(
            [(b * 10 + i, f"v{b}_{i}") for i in range(10)], "id long, v string"
        ).coalesce(1).write.parquet(f"{src}/batch_id={b}")

    dst = str(tmp_path / "compacted")
    n_out = compact_parquet_dir(spark, src, dst, target_bytes=1 << 30, sort_key="id")
    assert n_out == 1
    files = glob.glob(dst + "/*.parquet")
    assert len(files) == 1  # 6 fragments -> 1 size-targeted file
    got = sorted(r["id"] for r in spark.read.parquet(dst).collect())
    assert got == list(range(60))


def test_zordered_write_2d_tile_spans(spark, tmp_path):
    """write_zordered: each zbucket directory is a 2-D Morton tile — with
    bucket_bits=4 its rows span at most ~1/4 of EACH key's range (plus
    one normalization-grid cell of rounding), so predicates on either
    column prune directories. A single-column sort gives this for one
    dimension only."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog
    from gtec_etl_spark.sinks.tabular import write_zordered

    ev = catalog.table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    b = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("tus"), F.max("tus")
    ).collect()[0]
    ulo, uhi, tlo, thi = b
    path = str(tmp_path / "zord")
    write_zordered(
        ev, path, "user_id", "tus", (ulo, uhi), (tlo, thi), bits=8, bucket_bits=4
    )
    got = (
        spark.read.parquet(path)
        .groupBy("zbucket")
        .agg(
            F.min("user_id").alias("mu"), F.max("user_id").alias("xu"),
            F.min("tus").alias("mt"), F.max("tus").alias("xt"),
        )
        .collect()
    )
    assert len(got) > 4  # data actually spreads across tiles
    uspan_max = (uhi - ulo + 1) // 4 + (uhi - ulo + 1) // 256 + 2
    tspan_max = (thi - tlo + 1) // 4 + (thi - tlo + 1) // 256 + 2
    for r in got:
        assert r["xu"] - r["mu"] + 1 <= uspan_max, r
        assert r["xt"] - r["mt"] + 1 <= tspan_max, r


def test_zordered_read_prunes_partitions(spark, tmp_path):
    """The z-order layout's payoff: a zbucket predicate reaches the scan
    as a PartitionFilter, so Catalyst prunes directories instead of
    scanning the corpus."""
    from pyspark.sql import functions as F

    from gtec_etl_spark import catalog
    from gtec_etl_spark.sinks.tabular import write_zordered

    ev = catalog.table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    b = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("tus"), F.max("tus")
    ).collect()[0]
    path = str(tmp_path / "zp")
    write_zordered(
        ev, path, "user_id", "tus", (b[0], b[1]), (b[2], b[3]),
        bits=8, bucket_bits=4,
    )
    df = spark.read.parquet(path).filter("zbucket = 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(zbucket" in plan


def test_compact_parquet_dir_multi_file_split(spark, tmp_path):
    """Size-targeted compaction must also SPLIT: a tiny target_bytes
    yields several output files (no sort key path)."""
    from gtec_etl_spark.sinks.tabular import compact_parquet_dir

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, "x" * 50) for i in range(2000)], "id long, v string"
    ).coalesce(1).write.parquet(src)
    dst = str(tmp_path / "dst")
    n_out = compact_parquet_dir(spark, src, dst, target_bytes=4 << 10)
    files = glob.glob(dst + "/*.parquet")
    assert n_out > 1 and len(files) == n_out
    assert spark.read.parquet(dst).count() == 2000


def test_vacuum_snapshots_keeps_newest(spark, tmp_path):
    """Snapshot retention: vacuum removes every version except the newest
    keep_latest; the surviving newest version stays fully readable, and
    a second vacuum is a no-op. keep_latest < 1 is rejected (readers pick
    the newest version — it must never be in the delete set)."""
    import pytest

    from gtec_etl_spark.sinks.tabular import vacuum_snapshots

    snap = str(tmp_path / "snap")
    for v in (0, 1, 3, 7):
        spark.createDataFrame(
            [(v, f"name{v}")], "cust_id long, name string"
        ).coalesce(1).write.parquet(f"{snap}/version={v}")

    removed = vacuum_snapshots(spark, snap, keep_latest=2)
    assert removed == [0, 1]
    left = sorted(p.name for p in (tmp_path / "snap").iterdir())
    assert left == ["version=3", "version=7"]
    assert spark.read.parquet(f"{snap}/version=7").collect()[0]["name"] == "name7"
    assert vacuum_snapshots(spark, snap, keep_latest=2) == []
    with pytest.raises(ValueError):
        vacuum_snapshots(spark, snap, keep_latest=0)


def test_validate_release_healthy_all_zero(spark):
    """A well-formed three-document release reports zero violations and the
    right counts: one full Material, one doc referencing it (a ref resolved
    by ANOTHER document's full embed is not dangling), and one doc that
    embeds the same Material in full again (each document is
    self-contained, so that is not a duplicate)."""
    from gtec_etl_spark.sinks.jsonld import validate_release

    mid = "dats:Material/" + "a" * 32
    did = "dats:Dataset/" + "b" * 32
    did2 = "dats:Dataset/" + "c" * 32
    docs = spark.createDataFrame(
        [
            (
                '{"@id":"%s","@type":"Material","name":"s1"}' % mid,
            ),
            (
                '{"@id":"%s","@type":"Dataset","name":"d1",'
                '"hasPart":[{"@id":"%s"}]}' % (did, mid),
            ),
            (
                '{"@id":"%s","@type":"Dataset","name":"d2",'
                '"members":[{"@id":"%s","@type":"Material","name":"s1"}]}'
                % (did2, mid),
            ),
        ],
        "doc string",
    )
    row = validate_release(docs).first()
    assert row.n_docs == 3
    assert row.n_full == 4
    assert row.n_refs == 1
    assert (
        row.n_unknown_type,
        row.n_bad_id,
        row.n_dup_full,
        row.n_dangling,
    ) == (0, 0, 0, 0)


def test_validate_release_detects_each_violation(spark):
    """Each violation class trips its own counter: unknown @type (the
    DATS_TYPES registry check, datsobj.py:81-83), malformed/missing @id,
    type-prefix/@type contradiction, duplicate full embed, dangling ref."""
    from gtec_etl_spark.sinks.jsonld import validate_release

    mid = "dats:Material/" + "c" * 32
    docs = spark.createDataFrame(
        [
            # unknown type (not in the 36-entry registry)
            ('{"@id":"dats:Gadget/' + "d" * 32 + '","@type":"Gadget","name":"x"}',),
            # missing @id
            ('{"@type":"Material","name":"no-id"}',),
            # malformed @id (not dats:<Type>/<32hex>)
            ('{"@id":"urn:uuid:1234","@type":"Material","name":"bad"}',),
            # @id type prefix contradicts @type
            (
                '{"@id":"dats:Dataset/' + "e" * 32
                + '","@type":"Material","name":"lie"}',
            ),
            # duplicate full embeds of the same id WITHIN one document
            # (cross-document re-embeds are legal — each doc is
            # self-contained; the reference's DatsObjCache is
            # per-document), plus a dangling hasPart ref nothing embeds
            (
                '{"@id":"dats:Dataset/%s","@type":"Dataset","members":'
                '[{"@id":"%s","@type":"Material","name":"dup1"},'
                '{"@id":"%s","@type":"Material","name":"dup2"}],'
                '"hasPart":[{"@id":"dats:Study/%s"}]}'
                % ("9" * 32, mid, mid, "f" * 32),
            ),
            # same id full in ANOTHER doc: must NOT count as duplicate
            ('{"@id":"%s","@type":"Material","name":"ok"}' % mid,),
        ],
        "doc string",
    )
    row = validate_release(docs).first()
    assert row.n_docs == 6
    assert row.n_unknown_type == 1
    # missing + malformed + contradicting = 3 bad ids
    assert row.n_bad_id == 3
    assert row.n_dup_full == 1  # one duplicated id
    assert row.n_dangling == 1


def test_validate_release_adversarial_two_documents(spark):
    """A malformed root @id, a dangling ref that is malformed too, an
    id-less full object and an unknown @type, spread over two documents:
    the counters are the ones the Column-built validator reported."""
    from gtec_etl_spark.sinks.jsonld import validate_release

    docs = spark.createDataFrame(
        [
            (
                '{"@id":"urn:uuid:1234","@type":"Dataset",'
                '"members":[{"@type":"Material","name":"no-id"}],'
                '"hasPart":[{"@id":"urn:uuid:5678"}]}',
            ),
            ('{"@id":"dats:Gadget/%s","@type":"Gadget","name":"g"}' % ("d" * 32),),
        ],
        "doc string",
    )
    assert validate_release(docs).first().asDict() == {
        "n_docs": 2,
        "n_full": 3,
        "n_refs": 1,
        "n_unknown_type": 1,
        "n_bad_id": 3,
        "n_dup_full": 0,
        "n_dangling": 1,
    }


def test_validate_release_failfast_on_malformed_json(spark):
    """FAILFAST semantics: a syntactically broken document aborts the
    validation run (the reference's fatal release gate), never a silent
    null row."""
    import pytest

    from gtec_etl_spark.sinks.jsonld import validate_release

    docs = spark.createDataFrame([('{"@id": broken',)], "doc string")
    with pytest.raises(Exception) as ei:
        validate_release(docs).first()
    assert "Malformed" in str(ei.value) or "FAILFAST" in str(ei.value)


def test_program_release_validates_clean(spark):
    """Integration: the REAL DATS program documents (build_program_documents,
    arbitrary nesting depth) pass k8's release validation with zero
    violations — unknown types, bad ids, per-document duplicate full
    embeds, dangling refs. Guards the emitter/validator pair end-to-end;
    round 12's validator found real per-document duplicate full Dataset
    embeds this way (degenerate (orderkey, linenumber) keys in the
    synthetic lineitem), fixed by giving file datasets the producers'
    first-occurrence-full-then-ref treatment."""
    from gtec_etl_spark.sinks.jsonld import validate_release

    docs = build_program_documents(spark, SF_DIR)
    row = validate_release(docs).first()
    assert row.n_docs == 5
    assert row.n_full > 100           # real embeds extracted at depth
    assert row.n_refs > 100           # real refs extracted at depth
    assert (
        row.n_unknown_type,
        row.n_bad_id,
        row.n_dup_full,
        row.n_dangling,
    ) == (0, 0, 0, 0), row


def test_hive_partitioned_write_matches_manifest(spark, tmp_path):
    """Physical contract of sinks.tabular.write_hive_partitioned: one
    key=value directory per non-empty (event_type, day) grain, and
    per-grain row counts equal to the k9_partition_manifest query's rows
    — the partition-pruning promise the layout exists for."""
    import pyarrow.parquet as pq

    from gtec_etl_spark.plans.sink_queries import k9_partition_manifest
    from gtec_etl_spark.sinks.tabular import write_hive_partitioned

    ev = catalog.table(spark, SF_DIR, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    )
    out = str(tmp_path / "hive")
    write_hive_partitioned(ev, out, ["event_type", "day"])

    expected = {
        (r["event_type"], str(r["day"])): r["n_rows"]
        for r in k9_partition_manifest(spark, SF_DIR).collect()
    }

    seen = {}
    for d in sorted(glob.glob(out + "/event_type=*/day=*")):
        etype = d.split("event_type=")[1].split("/")[0]
        day = d.rsplit("day=", 1)[1]
        n = 0
        for f in sorted(glob.glob(d + "/*.parquet")):
            n += pq.read_metadata(f).num_rows
        seen[(etype, day)] = n

    assert seen == expected
