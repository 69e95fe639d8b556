"""Source-layer tests: S1 validated TSV, S7/S8 dbGaP XML, S10 GFF3,
S11 JSON documents, S15 catalog text. Fixtures are written to tmp_path.
"""

from __future__ import annotations

import textwrap

import pytest

from pyspark.sql import functions as F

from gtec_etl_spark.sources import catalog_text, dbgap_xml, gff3, json_docs, validated


# ---------------------------------------------------------------- S1 TSV

SPEC = validated.TableSpec(
    columns=[
        validated.ColumnSpec("SUBJID", regex=r"^GTEX-[A-Z0-9]+$", empty_ok=False),
        validated.ColumnSpec("SEX", integer_cv={1: "male", 2: "female"}),
        validated.ColumnSpec("AGE", cv=["20-29", "30-39", "40-49"]),
        validated.ColumnSpec("WEIGHT", dtype="double"),
    ],
    primary_key=["SUBJID"],
)


def _write(p, text):
    p.write_text(textwrap.dedent(text))
    return str(p)


def test_validated_tsv_happy_path(spark, tmp_path):
    path = _write(
        tmp_path / "subj.tsv",
        """\
        SUBJID\tSEX\tAGE\tWEIGHT
        GTEX-AB1\t1\t20-29\t70.5
        GTEX-CD2\t2\t30-39\t
        """,
    )
    df = validated.read_tsv(spark, path, SPEC)
    validated.assert_valid(df, SPEC)
    mapped = validated.apply_mappings(df, SPEC)
    rows = {r["SUBJID"]: r for r in mapped.collect()}
    assert rows["GTEX-AB1"]["SEX"] == "male" and rows["GTEX-AB1"]["SEX_raw"] == "1"
    assert rows["GTEX-CD2"]["WEIGHT"] is None  # empty -> null then cast


def test_validated_tsv_catches_all_violation_kinds(spark, tmp_path):
    path = _write(
        tmp_path / "bad.tsv",
        """\
        SUBJID\tSEX\tAGE\tWEIGHT
        GTEX-AB1\t1\t20-29\t70.5
        GTEX-AB1\t3\t99-100\t1.0
        badid\t2\t30-39\t2.0
        \t1\t20-29\t3.0
        GTEX-EF3\t1\t20-29\t4.0\textra
        GTEX-GH4\t1
        """,
    )
    df = validated.read_tsv(spark, path, SPEC)
    checks = {
        (r["column"], r["check"])
        for r in validated.validate(df, SPEC).collect()
    }
    assert ("SUBJID", "duplicate_pk") in checks
    assert ("SUBJID", "regex") in checks
    assert ("SUBJID", "not_null") in checks
    assert ("SEX", "integer_cv") in checks
    assert ("AGE", "cv") in checks
    # ragged rows (an extra field, missing fields) are row_shape violations
    assert (None, "row_shape") in checks
    shapes = validated.validate(df, SPEC).filter("check = 'row_shape'").collect()
    assert sorted(r["value"] for r in shapes) == [
        "GTEX-EF3\t1\t20-29\t4.0\textra",
        "GTEX-GH4\t1",
    ]
    assert all(r["row_key"].endswith("/bad.tsv") for r in shapes)
    with pytest.raises(validated.ValidationError):
        validated.assert_valid(df, SPEC)


def test_validated_tsv_header_mismatch_fails(spark, tmp_path):
    path = _write(tmp_path / "h.tsv", "WRONG\tSEX\tAGE\tWEIGHT\nx\t1\t20-29\t1\n")
    with pytest.raises(ValueError, match="header mismatch"):
        validated.read_tsv(spark, path, SPEC)


def test_validated_tsv_comment_lines_and_jobless_header(spark, tmp_path):
    """Comment lines before the header and between rows are skipped by the
    header check and by the read, and the header check runs no Spark job."""
    path = _write(
        tmp_path / "c.tsv",
        """\
        # exported 2017-01-01

        SUBJID\tSEX\tAGE\tWEIGHT
        GTEX-AB1\t1\t20-29\t70.5
        # a note
        GTEX-CD2\t2\t30-39\t
        """,
    )
    sc = spark.sparkContext
    sc.setJobGroup("read-tsv-header", "header check")
    try:
        df = validated.read_tsv(spark, path, SPEC, comment="#")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("read-tsv-header")) == 0
    validated.assert_valid(df, SPEC)
    assert sorted(r["SUBJID"] for r in df.collect()) == ["GTEX-AB1", "GTEX-CD2"]


def test_validated_tsv_utf8_bom_header(spark, tmp_path):
    """A leading UTF-8 BOM is not part of the first header name: the
    header check drops it as Spark's line reader does, so a BOM-prefixed
    file reads the same rows as the plain one."""
    from gtec_etl_spark.pipelines import SUBJECT_SPEC

    text = "SUBJID\tSEX\tAGE\nGTEX-AB1\t1\t20-29\nGTEX-CD2\t2\t30-39\n"
    plain = tmp_path / "plain.tsv"
    plain.write_text(text, encoding="utf-8")
    bom = tmp_path / "bom.tsv"
    bom.write_text(text, encoding="utf-8-sig")
    assert bom.read_bytes().startswith(b"\xef\xbb\xbf")

    def rows(path):
        df = validated.read_tsv(spark, str(path), SUBJECT_SPEC)
        validated.assert_valid(df, SUBJECT_SPEC)
        return df.columns, sorted(tuple(r) for r in df.collect())

    got = rows(bom)
    assert got == rows(plain) and len(got[1]) == 2


def test_composite_pk_duplicates_group_on_pk_values(spark):
    """Duplicate-PK detection groups on the PK values, not on the
    '|'-joined display key: ('x|y', 'z') and ('x', 'y|z') join to the same
    string, and concat_ws skips the NULL of ('p', NULL) and (NULL, 'p'),
    yet neither pair is a duplicate. A repeated PK still is."""
    spec = validated.TableSpec(
        columns=[validated.ColumnSpec("a"), validated.ColumnSpec("b")],
        primary_key=["a", "b"],
        name="t",
    )
    df = spark.createDataFrame(
        [("x|y", "z"), ("x", "y|z"), ("p", None), (None, "p"), ("q", "r"), ("q", "r")],
        "a string, b string",
    )
    got = [tuple(r) for r in validated.validate(df, spec).collect()]
    assert got == [("q|r", "a", "2", "duplicate_pk")]



def test_pk_less_row_keys_repeat_across_runs(spark):
    """A table without a PK keys its rows by their own values (tab-joined,
    nulls as empty), so two validations of the same rows name the same
    rows however they are split into partitions; identical rows share a
    key and each keeps its violations."""
    spec = validated.TableSpec(
        columns=[
            validated.ColumnSpec("a", regex=r"^[a-z]+$"),
            validated.ColumnSpec("b", cv=["x", "y"], empty_ok=False),
        ],
        name="t",
    )
    df = spark.createDataFrame(
        [("ok", "x"), ("B4D", "x"), ("c", None), ("B4D", "x"), ("d", "z")] * 3,
        "a string, b string",
    )
    runs = [
        sorted(tuple(r) for r in validated.validate(df.repartition(n), spec).collect())
        for n in (1, 3)
    ]
    assert runs[0] == runs[1]
    assert runs[0] == sorted(
        [("B4D\tx", "a", "B4D", "regex")] * 6
        + [("c\t", "b", None, "not_null")] * 3
        + [("d\tz", "b", "z", "cv")] * 3
    )

# ---------------------------------------------------------------- S10 GFF3

GFF = """\
##gff-version 3
##genome-build GRCm38.p6
chr1\tMGI\tgene\t1000\t5000\t.\t+\t.\tID=gene1;Name=Abc
chr1\tMGI\tmRNA\t1000\t5000\t.\t+\t.\tID=rna1;Parent=gene1
chr1\tMGI\texon\t1000\t2000\t.\t+\t.\tID=ex1;Parent=rna1
chr2\tMGI\texon\t100\t200\t.\t-\t.\tID=ex2;Parent=ghost
"""


def test_gff3_parse_and_joins(spark, tmp_path):
    path = _write(tmp_path / "genes.gff3", GFF)
    feats = gff3.read_gff3(spark, path)
    rows = {r["feature_id"]: r for r in feats.collect()}
    assert rows["gene1"]["start"] == 1000 and rows["gene1"]["type"] == "gene"
    assert rows["rna1"]["parent_id"] == "gene1"
    assert rows["gene1"]["attrs"]["Name"] == "Abc"

    edges = gff3.parent_child_edges(feats)
    got = {
        (r["parent_feature_id"], r["child_feature_id"]): r["parent_type"]
        for r in edges.collect()
    }
    assert got[("gene1", "rna1")] == "gene"
    assert got[("ghost", "ex2")] is None  # dangling parent -> left join null

    dangling = gff3.dangling_parents(feats).collect()
    assert [r["feature_id"] for r in dangling] == ["ex2"]

    meta = {r["pragma"]: r["value"] for r in gff3.read_gff3_metadata(spark, path).collect()}
    assert meta["genome-build"] == "GRCm38.p6"


# ---------------------------------------------------------------- S7/S8 XML

DATA_DICT = """\
<?xml version="1.0"?>
<data_table id="pht001" study_id="phs001">
 <variable id="v1"><name>AGE</name><type>integer</type><unit>years</unit></variable>
 <variable id="v2"><name>SEX</name><type>encoded value</type>
   <value code="1">male</value><value code="2">female</value>
 </variable>
</data_table>
"""

VAR_REPORT = """\
<?xml version="1.0"?>
<data_table id="pht001">
 <variable id="v1"><name>AGE</name>
   <total><stats><stat n="100" mean="42.5" median="41" min="20" max="70" sd="3.25"/></stats></total>
 </variable>
 <variable id="v2"><name>CONSENT</name>
   <total><stats><stat n="100"/>
     <enum><value count="60">GRU</value><value count="40">HMB</value></enum>
   </stats></total>
 </variable>
</data_table>
"""


def test_dbgap_data_dict(spark, tmp_path):
    path = _write(tmp_path / "phs001.v1.pht001.v1.Subject.data_dict.xml", DATA_DICT)
    df = dbgap_xml.read_data_dict(spark, path)
    rows = {r["var_id"]: r for r in df.collect()}
    assert rows["v1"]["var_name"] == "AGE" and rows["v1"]["var_type"] == "integer"
    enums = {e["code"]: e["label"] for e in rows["v2"]["enum_values"]}
    assert enums == {1: "male", 2: "female"}


def test_dbgap_var_report_stats(spark, tmp_path):
    path = _write(tmp_path / "phs001.v1.pht001.v1.Subject.var_report.xml", VAR_REPORT)
    df = dbgap_xml.read_var_report(spark, path)
    rows = {(r["var_id"], r["subsection"]): r for r in df.collect()}
    r = rows[("v1", "total")]
    assert (r["n"], r["mean"], r["median"], r["sd"]) == (100, 42.5, 41.0, 3.25)
    enums = {e["label"]: e["n"] for e in rows[("v2", "total")]["enum_counts"]}
    assert enums == {"GRU": 60, "HMB": 40}


def test_dbgap_var_report_without_enum_section(spark, tmp_path):
    no_enum = VAR_REPORT.replace(
        '<enum><value count="60">GRU</value><value count="40">HMB</value></enum>', ""
    )
    path = _write(tmp_path / "phs001.v1.pht001.v1.S.var_report.xml", no_enum)
    df = dbgap_xml.read_var_report(spark, path)
    rows = df.collect()
    assert all(r["enum_counts"] is None for r in rows)
    assert df.count() == 2


def test_dbgap_var_report_cases_controls_subsections(spark, tmp_path):
    """The reference parses per-variable stats for total AND cases AND
    controls (public_metadata.py:129-158); each subsection present in the
    document must yield its own stats row, and absent subsections must
    yield none."""
    cc = VAR_REPORT.replace(
        "</total>\n </variable>\n <variable id=\"v2\">",
        "</total>\n"
        '   <cases><stats><stat n="60" mean="45.5"/></stats></cases>\n'
        '   <controls><stats><stat n="40" mean="38.25"/></stats></controls>\n'
        " </variable>\n <variable id=\"v2\">",
    )
    assert "<cases>" in cc  # the replace actually landed
    path = _write(tmp_path / "phs001.v1.pht001.v1.Subject.var_report.xml", cc)
    df = dbgap_xml.read_var_report(spark, path)
    rows = {(r["var_id"], r["subsection"]): r for r in df.collect()}
    assert rows[("v1", "cases")]["n"] == 60
    assert rows[("v1", "cases")]["mean"] == 45.5
    assert rows[("v1", "controls")]["n"] == 40
    assert rows[("v1", "controls")]["mean"] == 38.25
    assert rows[("v1", "total")]["n"] == 100
    # v2 has only a <total> subsection -> exactly one row
    assert [s for v, s in rows if v == "v2"] == ["total"]


def test_dbgap_var_report_rejects_data_dict_with_clear_error(spark, tmp_path):
    """ADVICE r7: a document with NONE of the total/cases/controls
    subsections (e.g. a data_dict passed by mistake) must raise a
    descriptive ValueError naming the missing subsections, not an
    IndexError on parts[0]."""
    import pytest

    path = _write(tmp_path / "phs001.v1.pht001.v1.Subject.data_dict.xml", DATA_DICT)
    with pytest.raises(ValueError, match="total/cases/controls"):
        dbgap_xml.read_var_report(spark, path)


def test_study_directory_scan_and_substudies(spark, tmp_path):
    for name in [
        "phs001.v1.pht001.v1.Subject.data_dict.xml",
        "phs001.v1.pht001.v1.Subject.var_report.xml",
        "phs002.v2.pht009.v1.Sample.var_report.xml",  # no data_dict -> substudy
        "README.txt",
    ]:
        (tmp_path / name).write_text("<x/>")
    cat = dbgap_xml.scan_study_directory(spark, str(tmp_path))
    rows = {(r["study_id"], r["metadata_type"]) for r in cat.collect()}
    assert rows == {
        ("phs001", "data_dict"),
        ("phs001", "var_report"),
        ("phs002", "var_report"),
    }
    subs = [r["study_id"] for r in dbgap_xml.substudies(cat).collect()]
    assert subs == ["phs002"]


# ---------------------------------------------------------------- S11 JSON

BGI = """\
{"metaData": {"dataProvider": "MGI"},
 "data": [
   {"primaryId": "MGI:1", "symbol": "Abc", "soTermId": "SO:0001217",
    "taxonId": "NCBITaxon:10090",
    "genomeLocations": [{"assembly": "GRCm38", "chromosome": "1",
                         "startPosition": 1000, "endPosition": 5000, "strand": "+"}]},
   {"primaryId": "MGI:2", "symbol": "Def", "soTermId": "SO:0001217",
    "taxonId": "NCBITaxon:10090", "genomeLocations": []}
 ]}
"""


def test_bgi_genes_json(spark, tmp_path):
    path = _write(tmp_path / "bgi.json", BGI)
    df = json_docs.read_bgi_genes(spark, path)
    rows = {r["gene_id"]: r for r in df.collect()}
    assert rows["MGI:1"]["chromosome"] == "1" and rows["MGI:1"]["end"] == 5000
    assert rows["MGI:2"]["chromosome"] is None  # explode_outer keeps it


# ---------------------------------------------------------------- S15 text

CATALOG = """\
phs000951.v2.p2 TOPMed WGS Amish Study
    study type: Cohort
    participants: 1100
    platform: Illumina
phs000964.v3.p1 TOPMed WGS JHS Study
    study type: Longitudinal
    participants: 3406
    platform: HiSeq X
"""


def test_datacite_works_and_dup_titles(spark):
    from gtec_etl_spark.sources import datacite

    payload = """
    {"data": [
      {"attributes": {"doi": "10.1/a", "titles": [{"title": "Study A"}], "version": "1"}},
      {"attributes": {"doi": "10.1/b", "titles": [{"title": "Study B"}], "version": "1"}},
      {"attributes": {"doi": "10.1/c", "titles": [{"title": "Study A"}], "version": "2"}}
    ]}
    """
    works = datacite.parse_works(spark, payload)
    assert works.count() == 3
    dups = datacite.duplicate_titles(works).collect()
    assert len(dups) == 1 and dups[0]["title"] == "Study A"
    assert dups[0]["dois"] == ["10.1/a", "10.1/c"]


def _datacite_fixture_transport():
    import os

    from gtec_etl_spark.sources import datacite

    base = os.path.join(os.path.dirname(__file__), "..", "fixtures", "sources")

    def page(name):
        with open(os.path.join(base, name), encoding="utf-8") as fh:
            return fh.read()

    return datacite.recorded_transport(
        {
            "https://api.datacite.org/dois?query=test": page("datacite_works.json"),
            "https://api.datacite.org/dois?query=test&page=2": page(
                "datacite_works_page2.json"
            ),
        }
    )


def test_datacite_recorded_replay_full_pipeline(spark):
    """S14 fetch boundary exercised end-to-end: the recorded two-page works
    recording replays through the SAME fetch→paginate→parse path as a live
    fetch (transport injected, links.next followed from page 1 to page 2),
    then the duplicate-title check runs on top — including the dup whose
    two entries live on DIFFERENT pages."""
    from gtec_etl_spark.sources import datacite

    works = datacite.load_works(
        spark, "https://api.datacite.org/dois?query=test",
        _datacite_fixture_transport(),
    )
    rows = {r["doi"]: r for r in works.collect()}
    assert len(rows) == 7
    assert rows["10.1000/delta"]["title"] is None  # empty titles array
    dups = {d["title"]: d for d in datacite.duplicate_titles(works).collect()}
    assert set(dups) == {"Alpha RNA-Seq Expression", "Epsilon Methylation Panel"}
    assert dups["Alpha RNA-Seq Expression"]["dois"] == [
        "10.1000/alpha", "10.1000/gamma",
    ]
    # The cross-page duplicate: epsilon on page 1, zeta on page 2.
    assert dups["Epsilon Methylation Panel"]["dois"] == [
        "10.1000/epsilon", "10.1000/zeta",
    ]


def test_datacite_dead_link_raises(spark):
    """A links.next pointing nowhere surfaces as the transport's KeyError
    (the recorded analog of a dead URL) instead of silently truncating."""
    import pytest

    from gtec_etl_spark.sources import datacite

    p1 = ('{"data": [{"attributes": {"doi": "10.3/a", "titles": '
          '[{"title": "A"}], "version": "1"}}], '
          '"links": {"next": "https://api/GONE"}}')
    transport = datacite.recorded_transport({"https://api/p1": p1})
    with pytest.raises(KeyError):
        datacite.load_works(spark, "https://api/p1", transport)


def test_datacite_version_anomalies_and_missing_titles(spark):
    """The reference's two remaining fatal paths
    (rnaseq_datasets.py:177-199) as violations DataFrames: unexpected
    versions (with the documented exempt title prefixes) and wanted
    titles with no works entry."""
    from gtec_etl_spark.sources import datacite

    works = datacite.load_works(
        spark, "https://api.datacite.org/dois?query=test",
        _datacite_fixture_transport(),
    )
    bad = datacite.version_anomalies(
        works, "1", exempt_prefixes=("Beta ", "Eta ")
    ).collect()
    # delta is version 3 with a NULL title (no exemption can match).
    assert [r["doi"] for r in bad] == ["10.1000/delta"]
    # Without exemptions, beta (v2) and eta (v2) join the violations.
    bad_all = {
        r["doi"] for r in datacite.version_anomalies(works, "1").collect()
    }
    assert bad_all == {"10.1000/beta", "10.1000/delta", "10.1000/eta"}

    wanted = spark.createDataFrame(
        [("Alpha RNA-Seq Expression",), ("Nonexistent Atlas",)], "title string"
    )
    missing = datacite.missing_titles(works, wanted).collect()
    assert [r["title"] for r in missing] == ["Nonexistent Atlas"]


def test_datacite_paginated_replay(spark):
    """links.next pagination followed across a multi-page recording; the
    loop stops on the terminal page (no links) and on revisited urls."""
    from gtec_etl_spark.sources import datacite

    p1 = ('{"data": [{"attributes": {"doi": "10.2/x", "titles": '
          '[{"title": "X"}], "version": "1"}}], '
          '"links": {"next": "https://api/page2"}}')
    p2 = ('{"data": [{"attributes": {"doi": "10.2/y", "titles": '
          '[{"title": "Y"}], "version": "1"}}]}')
    transport = datacite.recorded_transport(
        {"https://api/page1": p1, "https://api/page2": p2}
    )
    works = datacite.load_works(spark, "https://api/page1", transport)
    assert sorted(r["doi"] for r in works.collect()) == ["10.2/x", "10.2/y"]


def test_study_catalog_text(spark, tmp_path):
    path = _write(tmp_path / "catalog.txt", CATALOG)
    df = catalog_text.parse_study_catalog(spark, path)
    rows = {r["study_id"]: r for r in df.collect()}
    assert len(rows) == 2
    a = rows["phs000951.v2.p2"]
    assert a["study_name"] == "TOPMed WGS Amish Study"
    assert a["n_participants"] == 1100
    assert a["study_type"] == "Cohort"
    assert rows["phs000964.v3.p1"]["platform"] == "HiSeq X"
