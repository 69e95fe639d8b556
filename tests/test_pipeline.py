"""End-to-end ETL lifecycle test (SURVEY.md §3.1): validated sources →
linkage → restricted merge → consent groups → JSON-LD + TSV + bag, plus
the S9/S12 restricted readers and bag determinism.
"""

from __future__ import annotations

import gc
import json
import textwrap
from pathlib import Path

import pytest

from gtec_etl_spark import pipelines
from gtec_etl_spark.sinks.bdbag import make_bag, verify_bag
from gtec_etl_spark.sources import restricted as R


def _w(p, text):
    p.write_text(textwrap.dedent(text))
    return str(p)


@pytest.fixture()
def fixture_files(tmp_path):
    subjects = _w(
        tmp_path / "subjects.tsv",
        """\
        SUBJID\tSEX\tAGE
        GTEX-AB1\t1\t20-29
        GTEX-CD2\t2\t30-39
        GTEX-EF3\t1\t40-49
        """,
    )
    samples = _w(
        tmp_path / "samples.tsv",
        """\
        SAMPID\tSMTS\tSMRIN
        GTEX-AB1-0001\tBlood\t7.2
        GTEX-AB1-0002\tBrain\t6.8
        GTEX-CD2-0001\tBlood\t8.1
        GTEX-ZZ9-0001\tSkin\t5.0
        """,
    )
    restrictedf = _w(
        tmp_path / "restricted.tsv",
        """\
        SUBJID\tCONSENT\tAGE
        GTEX-AB1\t1\t20-29
        GTEX-CD2\t2\t30-39
        GTEX-EF3\t1\t40-49
        """,
    )
    return subjects, samples, restrictedf


def test_full_etl_lifecycle(spark, fixture_files, tmp_path):
    subjects, samples, restrictedf = fixture_files
    res = pipelines.run_gtex_like_etl(
        spark, subjects, samples, restrictedf, expected_group_sizes={"1": 2, "2": 1}
    )
    # J1 linkage: the GTEX-ZZ9 sample dangles, 3 link.
    assert [r["SAMPID"] for r in res.dangling_samples.collect()] == ["GTEX-ZZ9-0001"]
    assert res.samples.count() == 3
    # J2 merge: no conflicts in consistent fixture; CONSENT arrived.
    assert res.conflicts.count() == 0
    assert res.subjects.filter("CONSENT IS NULL").count() == 0
    # A1 groups.
    groups = {r["CONSENT"]: r for r in res.study_groups.collect()}
    assert groups["1"]["size"] == 2 and groups["1"]["members"] == "GTEX-AB1,GTEX-EF3"
    # K1 documents: valid JSON, member refs sorted.
    docs = {r["group"]: json.loads(r["doc"]) for r in res.documents.collect()}
    assert docs["1"]["size"] == 2 and docs["1"]["@type"] == "StudyGroup"

    # Load: K3 + K1 + K4 bag; verify checksums round-trip.
    out = tmp_path / "release"
    bag = pipelines.export_release(res, str(out), str(tmp_path / "release.tgz"))
    assert bag["n_files"] >= 2 and verify_bag(str(tmp_path / "release.tgz"))


# Committed golden checksum of the full release artifact (K1 JSON-LD docs +
# K3 TSV dump + K4 bag) built from the fixture inputs above. Byte-stable
# across runs AND session partition counts (verified at local[7] and
# local[32]); ANY nondeterminism introduced into the emit path — unstable
# part filenames, shuffle-order row drift, archive metadata leaks — changes
# this digest. Recompute intentionally only: the docstring/format of every
# emitted artifact is part of the release contract (reference
# README.md:36-52, remote-files.json).
GOLDEN_RELEASE_SHA256 = (
    "fe3aee6fe391de0af4123a7411a9fb5730fff5b00bd496070d3fcbd94eb5d329"
)


def test_release_matches_golden_checksum(spark, fixture_files, tmp_path):
    subjects, samples, restrictedf = fixture_files
    res = pipelines.run_gtex_like_etl(
        spark, subjects, samples, restrictedf, expected_group_sizes={"1": 2, "2": 1}
    )
    out = pipelines.export_release(
        res, str(tmp_path / "release"), str(tmp_path / "release.tgz")
    )
    assert out["bag_sha256"] == GOLDEN_RELEASE_SHA256
    # Manifest names are stable too (no job-UUID part files, no _SUCCESS).
    import tarfile

    with tarfile.open(tmp_path / "release.tgz", "r:gz") as tar:
        manifest = tar.extractfile("bag/manifest-sha256.txt").read().decode()
    assert sorted(line.split("  ", 1)[1] for line in manifest.strip().splitlines()) == [
        "data/documents/part-00000.txt",
        "data/samples_dump/part-00000.tsv",
    ]


def test_etl_fails_fast_on_bad_source(spark, fixture_files, tmp_path):
    subjects, samples, _ = fixture_files
    bad = _w(
        tmp_path / "bad_subjects.tsv",
        """\
        SUBJID\tSEX\tAGE
        GTEX-AB1\t9\t20-29
        """,
    )
    from gtec_etl_spark.sources.validated import ValidationError

    with pytest.raises(ValidationError):
        pipelines.run_gtex_like_etl(spark, bad, samples)


def test_etl_count_reconciliation_fails(spark, fixture_files):
    subjects, samples, restrictedf = fixture_files
    with pytest.raises(ValueError, match="reconciliation"):
        pipelines.run_gtex_like_etl(
            spark, subjects, samples, restrictedf, expected_group_sizes={"1": 99}
        )


def test_etl_reconciliation_catches_absent_group(spark, fixture_files):
    # Exhaustive expectations: an EXPECTED group with no computed group
    # (consent "9" has no subjects) fails, not silently drops out.
    subjects, samples, restrictedf = fixture_files
    with pytest.raises(ValueError, match="reconciliation"):
        pipelines.run_gtex_like_etl(
            spark, subjects, samples, restrictedf,
            expected_group_sizes={"1": 2, "2": 1, "9": 4},
        )


@pytest.mark.parametrize(
    "row",
    ["GTEX-CD2-0002\tBlood\t7.0\tx\ty", "GTEX-CD2-0002\tBlood"],
    ids=["two_extra_fields", "missing_SMRIN"],
)
def test_etl_fails_fast_on_ragged_row(spark, fixture_files, tmp_path, row):
    # CSV PERMISSIVE mode would drop the extra fields or null the missing
    # one; the validation pass reports the row instead, naming its table
    # and file and carrying the raw line.
    subjects, samples, restrictedf = fixture_files
    ragged = tmp_path / "ragged_samples.tsv"
    ragged.write_text(Path(samples).read_text() + row + "\n")
    from gtec_etl_spark.sources.validated import ValidationError

    with pytest.raises(ValidationError) as ei:
        pipelines.run_gtex_like_etl(spark, subjects, str(ragged), restrictedf)
    (v,) = ei.value.sample
    assert (v["table"], v["column"], v["value"], v["check"]) == (
        "samples", None, row, "row_shape"
    )
    assert v["row_key"].endswith("/ragged_samples.tsv")


def test_dump_demographics_come_from_pre_merge_subjects(spark, fixture_files, tmp_path):
    # GTEX-AB1 has no AGE in subjects.tsv but one in restricted.tsv: the
    # merged subjects carry the restricted AGE, while the sample dump's
    # linkage joins the PRE-merge subjects and so dumps an empty AGE.
    _, samples, restrictedf = fixture_files
    subjects = _w(
        tmp_path / "subjects_no_age.tsv",
        """\
        SUBJID\tSEX\tAGE
        GTEX-AB1\t1\t
        GTEX-CD2\t2\t30-39
        GTEX-EF3\t1\t40-49
        """,
    )
    res = pipelines.run_gtex_like_etl(spark, subjects, samples, restrictedf)
    merged = {r["SUBJID"]: r["AGE"] for r in res.subjects.collect()}
    assert merged["GTEX-AB1"] == "20-29"
    out = tmp_path / "release"
    pipelines.export_release(res, str(out), str(tmp_path / "release.tgz"))
    lines = (out / "samples_dump" / "part-00000.tsv").read_text().splitlines()
    assert lines[0] == "SUBJID\tSAMPID\tSMTS\tSMRIN\tSEX\tAGE"
    ab1 = [line.split("\t") for line in lines[1:] if line.startswith("GTEX-AB1\t")]
    assert len(ab1) == 2 and all(f[5] == "" for f in ab1)


#: Spark jobs of one release on the fixture, in the order a release runs
#: them: run_gtex_like_etl, the dangling and conflict audit counts,
#: validate_release(...).first() and export_release. Each action re-plans
#: its lineage, so at release sizes the job count, not the row count, sets
#: the cost; a change that adds a pass shows up here.
RELEASE_JOB_BUDGET = 17
#: py4j round trips of the same release. PySpark sends every Column-API
#: call (F.col, alias, operators) to the JVM with call-site capture, one
#: round trip or more per node, so the release path builds its expressions
#: as SQL text, one string per DataFrame step; a Column tree that creeps
#: back in shows here. py4j object releases move the count by about ±80
#: from one release to the next.
RELEASE_PY4J_BUDGET = 2000


def _release(spark, fixture_files, tmp_path):
    from gtec_etl_spark.sinks.jsonld import validate_release

    subjects, samples, restrictedf = fixture_files
    res = pipelines.run_gtex_like_etl(
        spark, subjects, samples, restrictedf, expected_group_sizes={"1": 2, "2": 1}
    )
    assert res.dangling_samples.count() == 1
    assert res.conflicts.count() == 0
    assert validate_release(res.documents).first().n_docs == 2
    pipelines.export_release(res, str(tmp_path / "release"), str(tmp_path / "r.tgz"))


def test_release_job_budget(spark, fixture_files, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("release-job-budget", "one release")
    try:
        _release(spark, fixture_files, tmp_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("release-job-budget"))
    assert jobs <= RELEASE_JOB_BUDGET, f"{jobs} Spark jobs per release"


def test_release_py4j_budget(spark, fixture_files, tmp_path, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    calls = 0

    def counting(self, command):
        nonlocal calls
        calls += 1
        return send(self, command)

    gc.collect()  # release the py4j objects of earlier tests first
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    _release(spark, fixture_files, tmp_path)
    monkeypatch.undo()
    assert calls <= RELEASE_PY4J_BUDGET, f"{calls} py4j round trips per release"


@pytest.fixture()
def multi_study_frames(spark):
    studies = spark.createDataFrame(
        [(1, "study_a"), (2, "study_b"), (3, "study_public")],
        "study_id long, study_name string",
    )
    subjects = spark.createDataFrame(
        [(1, "s1", "GRU"), (1, "s2", "GRU"), (1, "s3", "HMB"), (2, "s4", "HMB")],
        "study_id long, subject_id string, consent string",
    )
    samples = spark.createDataFrame(
        [("s1", "sa1"), ("s1", "sa2"), ("s2", "sa3"), ("s4", "sa4")],
        "subject_id string, sample_id string",
    )
    files = spark.createDataFrame(
        [("sa1", "f1"), ("sa3", "f2"), ("sa3", "f3")],
        "sample_id string, file_id string",
    )
    return studies, subjects, samples, files


def test_multi_study_etl(spark, multi_study_frames):
    studies, subjects, samples, files = multi_study_frames
    res = pipelines.run_multi_study_etl(spark, studies, subjects, samples, files)
    rows = {r["study_id"]: r for r in res.summary.collect()}
    # Restricted study 1: 3 subjects, 2 consent groups, 3 samples of which
    # sa1+sa3 are file-referenced (sa2 is filtered by the semi-join).
    assert rows[1]["subject_source"] == "restricted"
    assert rows[1]["n_subjects"] == 3 and rows[1]["n_groups"] == 2
    assert rows[1]["n_samples"] == 3 and rows[1]["n_referenced"] == 2
    # Public-only study 3: synthetic subject, A4 consent pick = GRU
    # (count 2 beats HMB 2? GRU=2, HMB=2 -> tie broken ascending = GRU).
    assert rows[3]["subject_source"] == "synthetic"
    assert rows[3]["n_subjects"] == 1 and rows[3]["n_referenced"] is None
    assert rows[3]["picked_consent"] == "GRU"
    # Synthetic ids follow the reference's SU%07d / SA%07d format.
    synth = res.subjects.filter("subject_source = 'synthetic'").collect()
    assert [s["subject_id"] for s in synth] == ["SU0000003"]
    assert res.samples.filter("sample_id = 'SA0000003'").count() == 1
    # A1 groups: sorted member lists.
    g = {
        (r["study_id"], r["consent"]): r["members"]
        for r in res.study_groups.collect()
    }
    assert g[(1, "GRU")] == "s1,s2"


def test_multi_study_reconciliation_fails(spark, multi_study_frames):
    studies, subjects, samples, files = multi_study_frames
    expected = spark.createDataFrame(
        [(1, "GRU", 99)], "study_id long, consent string, expected long"
    )
    with pytest.raises(ValueError, match="reconciliation"):
        pipelines.run_multi_study_etl(
            spark, studies, subjects, samples, files, expected_group_sizes=expected
        )


def test_restricted_reader_accessions(spark, tmp_path):
    path = _w(
        tmp_path / "restricted_subject.txt",
        """\
        # Study accession: phs000424.v7.p2
        # Table accession: pht002741.v7.p2
        SUBJID\tCONSENT
        GTEX-AB1\t1
        """,
    )
    rows, acc = R.read_restricted_tsv(spark, path)
    assert rows.columns == ["SUBJID", "CONSENT"] and rows.count() == 1
    got = {(r["kind"], r["accession"]) for r in acc.collect()}
    assert got == {("Study", "phs000424.v7.p2"), ("Table", "pht002741.v7.p2")}


def test_header_offset_reader(spark, tmp_path):
    lines = ["# preamble %d" % i for i in range(3)]
    lines += ["gene_id\thuman_gene", "MGI:1\tABC", "MGI:2\tDEF"]
    path = tmp_path / "orth.tsv"
    path.write_text("\n".join(lines) + "\n")
    df = R.read_tsv_with_header_offset(spark, str(path), 3)
    assert df.columns == ["gene_id", "human_gene"]
    assert {r["gene_id"] for r in df.collect()} == {"MGI:1", "MGI:2"}


def test_bag_determinism(tmp_path):
    payload = tmp_path / "payload"
    payload.mkdir()
    (payload / "a.txt").write_text("hello")
    (payload / "b.txt").write_text("world")
    s1 = make_bag(str(payload), str(tmp_path / "bag1.tgz"))
    s2 = make_bag(str(payload), str(tmp_path / "bag2.tgz"))
    assert s1["bag_sha256"] == s2["bag_sha256"]  # byte-reproducible
    assert (tmp_path / "bag1.tgz").read_bytes() == (tmp_path / "bag2.tgz").read_bytes()
    assert verify_bag(str(tmp_path / "bag1.tgz"))


def test_bag_remote_file_manifest_roundtrip(tmp_path):
    """K4 remote-file manifest (make-crosscut-instance-bdbag.sh:139-148 +
    remote-files.json:1-9): remote entries land in fetch.txt as
    `url<TAB>length<TAB>data/path` lines, their checksums join the payload
    manifests, determinism holds, and verify_bag enforces fetch/manifest
    consistency. Fixture mirrors the reference's remote-files.json shape."""
    import tarfile

    payload = tmp_path / "payload"
    payload.mkdir()
    (payload / "local.txt").write_text("hello")
    remote = [
        {
            "url": "https://example.org/release/v0.7/AGR_dump.jsonld.gz",
            "length": 102550659,
            "filename": "datasets/AGR_dump.jsonld.gz",
            "md5": "a3b4abac87752573a96723a29aabe400",
            "sha256": "cda2a7388b5ef127743f35c1a86de128d"
                      "00ce83c7c759eacc7c25ba26e7f7503",
        }
    ]
    s1 = make_bag(str(payload), str(tmp_path / "b1.tgz"), remote_files=remote)
    s2 = make_bag(str(payload), str(tmp_path / "b2.tgz"), remote_files=remote)
    assert s1["bag_sha256"] == s2["bag_sha256"]
    assert verify_bag(str(tmp_path / "b1.tgz"))

    with tarfile.open(str(tmp_path / "b1.tgz"), "r:gz") as tar:
        fetch = tar.extractfile("bag/fetch.txt").read().decode()
        man = tar.extractfile("bag/manifest-sha256.txt").read().decode()
        assert fetch == (
            "https://example.org/release/v0.7/AGR_dump.jsonld.gz"
            "\t102550659\tdata/datasets/AGR_dump.jsonld.gz\n"
        )
        assert (
            remote[0]["sha256"] + "  data/datasets/AGR_dump.jsonld.gz" in man
        )
        # The remote payload is NOT in the archive (holey bag).
        assert "bag/data/datasets/AGR_dump.jsonld.gz" not in tar.getnames()

    # Corrupt a LOCAL file's bytes inside the archive and confirm verify
    # still catches it when remote entries are present (the checksum loop
    # must skip remote paths but never local ones).
    make_bag(str(payload), str(tmp_path / "b3.tgz"), remote_files=remote)
    import gzip as _gzip
    import hashlib as _hashlib
    import io as _io

    data = (tmp_path / "b3.tgz").read_bytes()
    raw = _gzip.decompress(data)
    h = _hashlib.sha256(b"hello").hexdigest().encode()
    assert h in raw
    raw_bad = raw.replace(b"hello", b"jello")
    buf = _io.BytesIO()
    with _gzip.GzipFile(filename="", fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(raw_bad)
    (tmp_path / "b3.tgz").write_bytes(buf.getvalue())
    assert not verify_bag(str(tmp_path / "b3.tgz"))


def test_multi_study_all_public(spark, multi_study_frames):
    # No restricted subjects at all: every study is public-only and must
    # still get a synthetic subject (picked_consent NULL — there is no
    # value distribution to pick from), not vanish from the summary.
    studies, subjects, samples, files = multi_study_frames
    empty_subjects = subjects.limit(0)
    res = pipelines.run_multi_study_etl(
        spark, studies, empty_subjects, samples.limit(0), files
    )
    rows = {r["study_id"]: r for r in res.summary.collect()}
    assert set(rows) == {r["study_id"] for r in studies.collect()}
    assert all(r["subject_source"] == "synthetic" for r in rows.values())
    assert all(r["picked_consent"] is None for r in rows.values())
    assert res.subjects.count() == studies.count()


def test_reconciliation_catches_unexpected_group(spark, fixture_files):
    # Expectations are exhaustive: a COMPUTED group absent from the
    # expectations (here consent "2") must fail, not pass silently.
    subjects, samples, restrictedf = fixture_files
    with pytest.raises(ValueError, match="reconciliation"):
        pipelines.run_gtex_like_etl(
            spark, subjects, samples, restrictedf, expected_group_sizes={"1": 2}
        )


def test_multi_study_reconciliation_catches_unexpected_group(
    spark, multi_study_frames
):
    # Same exhaustiveness contract on the multi-study path: listing only
    # (1, GRU) leaves the other computed groups unexpected -> fail.
    studies, subjects, samples, files = multi_study_frames
    expected = spark.createDataFrame(
        [(1, "GRU", 2)], "study_id long, consent string, expected long"
    )
    with pytest.raises(ValueError, match="reconciliation"):
        pipelines.run_multi_study_etl(
            spark, studies, subjects, samples, files, expected_group_sizes=expected
        )


def test_multi_study_reconciliation_catches_absent_group(spark, multi_study_frames):
    # An expected group with NO matching computed group (actual size 0)
    # must fail, not silently drop out of the inner join.
    studies, subjects, samples, files = multi_study_frames
    expected = spark.createDataFrame(
        [(1, "NO-SUCH-CONSENT", 5)], "study_id long, consent string, expected long"
    )
    with pytest.raises(ValueError, match="reconciliation"):
        pipelines.run_multi_study_etl(
            spark, studies, subjects, samples, files, expected_group_sizes=expected
        )


def test_connected_components_raises_when_unconverged(spark):
    from gtec_etl_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, chain, max_iter=1).collect()
