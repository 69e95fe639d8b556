"""Registered queries over the SOURCE layer (S1, S11–S13) — fixture-backed.

These queries put the S-layer readers under the oracle parity test.
Each query reads repo-local fixture files through the real source
readers (spark.read.json / csv / wholetext line model), and the DuckDB
oracle reads the SAME files via read_json_auto / read_csv — so the parse
itself, not just downstream relational logic, is cross-checked.

The fixtures are external inputs (like the reference's dbGaP/AGR drops),
so sf_dir is ignored; the queries are constant-size by design.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gtec_etl_spark.plans.registry import query
from gtec_etl_spark.sources import gff3, json_docs, restricted, validated

FIXTURES = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
)
BGI = os.path.join(FIXTURES, "agr", "bgi.json")
DISEASE = os.path.join(FIXTURES, "agr", "disease.json")
PHENOTYPE = os.path.join(FIXTURES, "agr", "phenotype.json")
ORTHOLOGY = os.path.join(FIXTURES, "agr", "orthology.tsv")
HOMOLOGS = os.path.join(FIXTURES, "agr", "homologs.tsv")
SUBJECTS_TSV = os.path.join(FIXTURES, "sources", "study_subjects.tsv")


@query(
    "agr_gene_annotations",
    oracle=f"""
    WITH genes AS (
      SELECT DISTINCT d.primaryId AS gene_id, d.symbol AS symbol
      FROM (SELECT unnest(data) AS d FROM read_json_auto('{BGI}'))
    ),
    dis AS (
      SELECT d.objectId AS gene_id, d.DOid AS do_id,
             d.evidence.evidenceCodes AS evidence_codes,
             d.evidence.publication.publicationId AS publication_id
      FROM (SELECT unnest(data) AS d FROM read_json_auto('{DISEASE}'))
    ),
    dis_agg AS (
      SELECT gene_id, count(DISTINCT do_id) AS n_diseases,
             array_to_string(list_sort(list(DISTINCT do_id)), ',') AS do_ids,
             count(DISTINCT publication_id) AS n_disease_pubs
      FROM dis GROUP BY gene_id
    ),
    evd AS (
      SELECT gene_id, count(DISTINCT ec) AS n_evidence_codes
      FROM (SELECT gene_id, unnest(evidence_codes) AS ec FROM dis)
      GROUP BY gene_id
    ),
    phe AS (
      SELECT d.objectId AS gene_id, d.phenotypeTermId AS phe_term_id,
             d.evidence.publicationId AS publication_id
      FROM (SELECT unnest(data) AS d FROM read_json_auto('{PHENOTYPE}'))
    ),
    phe_agg AS (
      SELECT gene_id, count(DISTINCT phe_term_id) AS n_phenotypes,
             array_to_string(list_sort(list(DISTINCT phe_term_id)), ',') AS phe_terms,
             count(DISTINCT CASE WHEN publication_id <> '' THEN publication_id END)
               AS n_phe_pubs
      FROM phe GROUP BY gene_id
    ),
    orth AS (
      SELECT mod_gene_id AS gene_id,
             array_to_string(list_sort(list(DISTINCT ortho_gene_id)), ',')
               AS human_orthologs
      FROM read_csv('{ORTHOLOGY}', delim='\t', header=true, skip=3, all_varchar=true)
      WHERE ortho_taxon LIKE '%9606%'
      GROUP BY mod_gene_id
    ),
    hom AS (
      SELECT DISTINCT "HomoloGene ID" AS homologene_id,
             replace("Common Organism Name", ', laboratory', '') AS organism,
             "Mouse MGI ID" AS mgi_id, "Symbol" AS symbol
      FROM read_csv('{HOMOLOGS}', delim='\t', header=true, all_varchar=true, nullstr='')
    ),
    mouse AS (SELECT mgi_id AS gene_id, homologene_id FROM hom WHERE organism = 'mouse'),
    human AS (
      SELECT homologene_id,
             array_to_string(list_sort(list(DISTINCT symbol)), ',')
               AS human_homolog_symbols
      FROM hom WHERE organism = 'human' GROUP BY homologene_id
    )
    SELECT g.gene_id, g.symbol,
           coalesce(da.n_diseases, 0) AS n_diseases,
           coalesce(da.do_ids, '') AS do_ids,
           coalesce(da.n_disease_pubs, 0) AS n_disease_pubs,
           coalesce(e.n_evidence_codes, 0) AS n_evidence_codes,
           coalesce(pa.n_phenotypes, 0) AS n_phenotypes,
           coalesce(pa.phe_terms, '') AS phe_terms,
           coalesce(pa.n_phe_pubs, 0) AS n_phe_pubs,
           coalesce(o.human_orthologs, '') AS human_orthologs,
           m.homologene_id AS homologene_id,
           coalesce(h.human_homolog_symbols, '') AS human_homolog_symbols
    FROM genes g
    LEFT JOIN dis_agg da ON da.gene_id = g.gene_id
    LEFT JOIN evd e ON e.gene_id = g.gene_id
    LEFT JOIN phe_agg pa ON pa.gene_id = g.gene_id
    LEFT JOIN orth o ON o.gene_id = g.gene_id
    LEFT JOIN mouse m ON m.gene_id = g.gene_id
    LEFT JOIN human h ON h.homologene_id = m.homologene_id
    ORDER BY g.gene_id
    """,
    tags=("sources", "agr"),
)
def agr_gene_annotations(spark, sf_dir):
    """AGR/MGD end-to-end composition (ccmm/agr/genes.py:265-404 +
    ccmm/mgd/human_homologs.py:60-88): BGI genes ⋈ disease annotations
    (grouped per DOid, J7) ⋈ phenotypes (empty-pub skip) ⋈ human orthologs
    (taxon 9606 filter) ⋈ MGD homolog report (S13 dup-drop, mouse→
    HomoloGene→human symbols). Exercises S11 (three JSON reads), S12
    (header-offset orthology TSV) and S13 (homolog report) through the
    real readers; every per-gene list is sorted for determinism. All five
    sources are gene-keyed aggregates joined to the gene dimension —
    at scale each agg is one shuffle and the joins co-partition on
    gene_id."""
    genes = (
        json_docs.read_bgi_genes(spark, BGI).select("gene_id", "symbol").distinct()
    )
    dis = json_docs.read_disease_annotations(spark, DISEASE)
    dis_agg = dis.groupBy("gene_id").agg(
        F.countDistinct("do_id").alias("n_diseases"),
        F.concat_ws(",", F.sort_array(F.collect_set("do_id"))).alias("do_ids"),
        F.countDistinct("publication_id").alias("n_disease_pubs"),
    )
    evd = (
        dis.select("gene_id", F.explode("evidence_codes").alias("ec"))
        .groupBy("gene_id")
        .agg(F.countDistinct("ec").alias("n_evidence_codes"))
    )
    phe = json_docs.read_phenotype_annotations(spark, PHENOTYPE)
    phe_agg = phe.groupBy("gene_id").agg(
        F.countDistinct("phe_term_id").alias("n_phenotypes"),
        F.concat_ws(",", F.sort_array(F.collect_set("phe_term_id"))).alias("phe_terms"),
        F.countDistinct(
            F.when(F.col("publication_id") != "", F.col("publication_id"))
        ).alias("n_phe_pubs"),
    )
    orth = (
        restricted.read_tsv_with_header_offset(spark, ORTHOLOGY, 3)
        .filter(F.col("ortho_taxon").contains("9606"))
        .groupBy(F.col("mod_gene_id").alias("gene_id"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("ortho_gene_id"))).alias(
                "human_orthologs"
            )
        )
    )
    hom = restricted.drop_consecutive_duplicates(
        restricted.read_tsv_with_header_offset(spark, HOMOLOGS, 0), None
    ).select(
        F.col("`HomoloGene ID`").alias("homologene_id"),
        F.regexp_replace(F.col("`Common Organism Name`"), ", laboratory", "").alias(
            "organism"
        ),
        F.col("`Mouse MGI ID`").alias("mgi_id"),
        F.col("Symbol").alias("symbol"),
    )
    mouse = hom.filter(F.col("organism") == "mouse").select(
        F.col("mgi_id").alias("gene_id"), "homologene_id"
    )
    human = (
        hom.filter(F.col("organism") == "human")
        .groupBy("homologene_id")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("symbol"))).alias(
                "human_homolog_symbols"
            )
        )
    )
    zero = F.lit(0).cast("long")
    return (
        genes.join(dis_agg, "gene_id", "left")
        .join(evd, "gene_id", "left")
        .join(phe_agg, "gene_id", "left")
        .join(orth, "gene_id", "left")
        .join(mouse, "gene_id", "left")
        .join(human, "homologene_id", "left")
        .select(
            "gene_id",
            "symbol",
            F.coalesce("n_diseases", zero).alias("n_diseases"),
            F.coalesce("do_ids", F.lit("")).alias("do_ids"),
            F.coalesce("n_disease_pubs", zero).alias("n_disease_pubs"),
            F.coalesce("n_evidence_codes", zero).alias("n_evidence_codes"),
            F.coalesce("n_phenotypes", zero).alias("n_phenotypes"),
            F.coalesce("phe_terms", F.lit("")).alias("phe_terms"),
            F.coalesce("n_phe_pubs", zero).alias("n_phe_pubs"),
            F.coalesce("human_orthologs", F.lit("")).alias("human_orthologs"),
            "homologene_id",
            F.coalesce("human_homolog_symbols", F.lit("")).alias(
                "human_homolog_symbols"
            ),
        )
        .orderBy("gene_id")
    )


GFF3 = os.path.join(FIXTURES, "agr", "features.gff3.gz")
CATALOG_TXT = os.path.join(FIXTURES, "sources", "study_catalog.txt")


def _catalog_oracle() -> str:
    """S15 oracle: the same line-oriented state machine as
    sources/catalog_text.py, in SQL — record id = running sum of
    record-start markers over line numbers, fields = max(regexp_extract)
    per record. Shares the exact regex literals with the Spark reader."""
    from gtec_etl_spark.sources.catalog_text import STUDY_FIELDS, STUDY_START

    field_exprs = ",\n             ".join(
        f"max(CASE WHEN regexp_matches(line, '{pat}')"
        f" THEN regexp_extract(line, '{pat}', 1) END) AS {name}"
        for name, pat in STUDY_FIELDS.items()
    )
    return f"""
    WITH whole AS (
      SELECT string_split(content, chr(10)) AS l FROM read_text('{CATALOG_TXT}')
    ),
    nums AS (
      SELECT unnest(generate_series(1, len(l))) - 1 AS line_no, l FROM whole
    ),
    lines AS (SELECT line_no, l[line_no + 1] AS line FROM nums),
    marks AS (
      SELECT line_no, line,
             CASE WHEN regexp_matches(line, '{STUDY_START}') THEN 1 ELSE 0 END AS s
      FROM lines
    ),
    rec AS (
      SELECT line_no, line,
             sum(s) OVER (ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS record_id
      FROM marks
    ),
    agg AS (
      SELECT {field_exprs}
      FROM rec WHERE record_id > 0 GROUP BY record_id
    )
    SELECT study_id, study_name, CAST(n_participants AS BIGINT) AS n_participants,
           study_type, platform
    FROM agg ORDER BY study_id
    """


@query(
    "src_catalog_state_machine",
    oracle=_catalog_oracle(),
    tags=("sources", "statemachine"),
)
def src_catalog_state_machine(spark, sf_dir):
    """S15 embedded study-catalog parser at the driver level
    (ccmm/gtex/wgs_datasets.py:65-119, topmed/wgs_datasets.py:188-248):
    the line-oriented regex state machine as wholetext → posexplode line
    numbers → running-sum record ids → per-record max(regexp_extract) —
    no driver loop, per-file sequential semantics, files parallel. The
    oracle replays the same machine with SQL window functions over
    file_row_number."""
    from gtec_etl_spark.sources.catalog_text import parse_study_catalog

    return parse_study_catalog(spark, CATALOG_TXT).orderBy("study_id")


@query(
    "gff_gene_transcript_exon_counts",
    oracle=f"""
    WITH raw AS (
      SELECT * FROM read_csv('{GFF3}', delim='\t', header=false,
        all_varchar=true, null_padding=true,
        names=['seqid','source','type','start','end','score','strand',
               'phase','attributes'])
      WHERE seqid NOT LIKE '#%'
    ),
    f AS (
      SELECT seqid, type, CAST(start AS BIGINT) AS start,
             CAST("end" AS BIGINT) AS "end",
             nullif(regexp_extract(attributes, '(?:^|;)ID=([^;]+)', 1), '')
               AS feature_id,
             nullif(regexp_extract(attributes, '(?:^|;)Parent=([^;]+)', 1), '')
               AS parent_id,
             nullif(regexp_extract(attributes, '(?:^|;)Name=([^;]+)', 1), '')
               AS symbol
      FROM raw
    ),
    genes AS (
      SELECT feature_id AS gene_id, symbol, seqid, start, "end"
      FROM f WHERE type = 'gene'
    ),
    tr AS (SELECT feature_id, parent_id FROM f WHERE type = 'mRNA'),
    ntr AS (
      SELECT parent_id AS gene_id, count(*) AS n_transcripts
      FROM tr GROUP BY parent_id
    ),
    nex AS (
      SELECT t.parent_id AS gene_id, count(*) AS n_exons
      FROM f e JOIN tr t ON e.parent_id = t.feature_id
      WHERE e.type = 'exon' GROUP BY t.parent_id
    ),
    dang AS (
      SELECT count(*) AS n FROM f
      WHERE parent_id IS NOT NULL
        AND parent_id NOT IN (SELECT feature_id FROM f WHERE feature_id IS NOT NULL)
    )
    SELECT g.gene_id, g.symbol, g.seqid, g.start, g."end",
           coalesce(ntr.n_transcripts, 0) AS n_transcripts,
           coalesce(nex.n_exons, 0) AS n_exons,
           (SELECT n FROM dang) AS n_dangling
    FROM genes g
    LEFT JOIN ntr ON ntr.gene_id = g.gene_id
    LEFT JOIN nex ON nex.gene_id = g.gene_id
    ORDER BY g.gene_id
    """,
    tags=("sources", "gff3"),
)
def gff_gene_transcript_exon_counts(spark, sf_dir):
    """S10 GFF3 source + J12 parent/child self-joins at the driver level
    (ccmm/mgd/ref_genome_dataset.py:90-199): gzip CSV scan with comment
    lines dropped, attributes → map (str_to_map), gene→mRNA→exon two-hop
    rollup, plus the dangling-Parent consistency count (the reference's
    fatal check) carried as a column. The oracle re-parses the same .gz
    with regex attribute extraction."""
    feats = gff3.read_gff3(spark, GFF3)
    genes = feats.filter(F.col("type") == "gene").select(
        F.col("feature_id").alias("gene_id"),
        F.col("attrs")["Name"].alias("symbol"),
        "seqid",
        "start",
        "end",
    )
    tr = feats.filter(F.col("type") == "mRNA").select("feature_id", "parent_id")
    ntr = tr.groupBy(F.col("parent_id").alias("gene_id")).agg(
        F.count(F.lit(1)).alias("n_transcripts")
    )
    nex = (
        feats.filter(F.col("type") == "exon")
        .join(
            tr.select(
                F.col("feature_id").alias("parent_id"),
                F.col("parent_id").alias("gene_id"),
            ),
            "parent_id",
        )
        .groupBy("gene_id")
        .agg(F.count(F.lit(1)).alias("n_exons"))
    )
    # Dangling-Parent count carried IN the plan (1-row aggregate broadcast
    # crossJoin, same pattern as frequency_cap_shingles_rel) — an eager
    # .count() here would run an extra job and a second gz scan every time
    # the query is merely constructed.
    n_dangling = gff3.dangling_parents(feats).agg(
        F.count(F.lit(1)).cast("long").alias("n_dangling")
    )
    zero = F.lit(0).cast("long")
    return (
        genes.join(ntr, "gene_id", "left")
        .join(nex, "gene_id", "left")
        .crossJoin(F.broadcast(n_dangling))
        .select(
            "gene_id",
            "symbol",
            "seqid",
            "start",
            "end",
            F.coalesce("n_transcripts", zero).alias("n_transcripts"),
            F.coalesce("n_exons", zero).alias("n_exons"),
            "n_dangling",
        )
        .orderBy("gene_id")
    )


DATA_DICT_XML = os.path.join(
    FIXTURES, "sources", "phs000001.v1.pht000001.v1.Example_Subject.data_dict.xml"
)


@query(
    "src_dbgap_data_dict",
    oracle=f"""
    WITH x AS (SELECT content FROM read_text('{DATA_DICT_XML}')),
    vars AS (
      SELECT unnest(regexp_extract_all(content,
        '(?s)<variable[^>]*>.*?</variable>')) AS block
      FROM x
    )
    SELECT regexp_extract(block, 'id="([^"]+)"', 1) AS var_id,
           regexp_extract(block, '<name>([^<]*)</name>', 1) AS var_name,
           regexp_extract(block, '<type>([^<]*)</type>', 1) AS var_type,
           nullif(regexp_extract(block, '<unit>([^<]*)</unit>', 1), '') AS unit,
           CAST(len(regexp_extract_all(block, '<value ')) AS BIGINT)
             AS n_enum_values
    FROM vars ORDER BY var_id
    """,
    tags=("sources", "dbgap"),
)
def src_dbgap_data_dict(spark, sf_dir):
    """S7 dbGaP data_dict XML at the driver level
    (ccmm/dbgap/public_metadata.py:94-231): Spark's native XML source
    scans <variable> row tags distributed (no driver-side ElementTree),
    yielding id/name/type/unit plus the enum value count. The oracle
    re-parses the same document with block-level regexes over read_text —
    an independent parse path."""
    from gtec_etl_spark.sources.dbgap_xml import read_data_dict

    df = read_data_dict(spark, DATA_DICT_XML)
    return df.select(
        "var_id",
        "var_name",
        "var_type",
        "unit",
        F.coalesce(F.size("enum_values"), F.lit(0)).cast("long").alias(
            "n_enum_values"
        ),
    ).orderBy("var_id")


VAR_REPORT_XML = os.path.join(
    FIXTURES, "sources", "phs000001.v1.pht000001.v1.Example_Subject.var_report.xml"
)


@query(
    "src_dbgap_var_report",
    oracle=f"""
    WITH doc AS (SELECT content FROM read_text('{VAR_REPORT_XML}')),
    vars AS (
      SELECT unnest(regexp_extract_all(content,
        '<variable id="[\\s\\S]*?</variable>')) AS block
      FROM doc
    ),
    subs AS (
      SELECT block, sub
      FROM vars, (VALUES ('total'), ('cases'), ('controls')) s(sub)
    ),
    x AS (
      SELECT regexp_extract(block, '<variable id="([^"]*)"', 1) AS var_id,
             regexp_extract(block, '<name>([^<]*)</name>', 1) AS var_name,
             sub AS subsection,
             regexp_extract(block,
               '<' || sub || '>[\\s\\S]*?</' || sub || '>') AS sblock
      FROM subs
    )
    SELECT var_id, var_name, subsection,
           CAST(nullif(regexp_extract(sblock, ' n="([^"]*)"', 1), '')
                AS BIGINT) AS n,
           CAST(nullif(regexp_extract(sblock, ' nulls="([^"]*)"', 1), '')
                AS BIGINT) AS nulls,
           CAST(nullif(regexp_extract(sblock, ' mean="([^"]*)"', 1), '')
                AS DOUBLE) AS mean,
           CAST(nullif(regexp_extract(sblock, ' median="([^"]*)"', 1), '')
                AS DOUBLE) AS median,
           CAST(nullif(regexp_extract(sblock, ' min="([^"]*)"', 1), '')
                AS DOUBLE) AS stat_min,
           CAST(nullif(regexp_extract(sblock, ' max="([^"]*)"', 1), '')
                AS DOUBLE) AS stat_max,
           CAST(nullif(regexp_extract(sblock, ' sd="([^"]*)"', 1), '')
                AS DOUBLE) AS sd,
           CAST(len(regexp_extract_all(sblock, '<value ')) AS BIGINT)
             AS n_enum_values
    FROM x WHERE sblock <> '' ORDER BY var_id, subsection
    """,
    tags=("sources", "dbgap"),
)
def src_dbgap_var_report(spark, sf_dir):
    """S7 dbGaP var_report XML with the CASES and CONTROLS subsections the
    reference's subsection loop parses alongside total
    (ccmm/dbgap/public_metadata.py:129-158 parse_var_report_subsection;
    :199-204 routes <total>/<cases>/<controls> per variable): one row per
    (variable, subsection) with the per-subsection n/nulls/mean/median/
    min/max/sd stats and enum value count — so case/control-stratified
    variable stats (the restricted-study synthesis input) are queryable
    rows, not a dropped branch. Spark's native XML source scans
    <variable> row tags distributed; the oracle re-parses the same
    document with block + subsection regexes over read_text — an
    independent parse path. (The reference leaves <subject_profile>
    as a TODO, public_metadata.py:148-151 — same scope here.)"""
    from gtec_etl_spark.sources.dbgap_xml import read_var_report

    return (
        read_var_report(spark, VAR_REPORT_XML)
        .select(
            "var_id", "var_name", "subsection", "n", "nulls", "mean",
            "median", "stat_min", "stat_max", "sd", "n_enum_values",
        )
        .orderBy("var_id", "subsection")
    )


SOURCES_DIR = os.path.join(FIXTURES, "sources")
RESTRICTED_TSV = os.path.join(FIXTURES, "sources", "restricted_subject.txt")


@query(
    "src_study_directory_scan",
    oracle=f"""
    SELECT regexp_extract(fname, '(phs\\d+)', 1) AS study_id,
           regexp_extract(fname, 'phs\\d+\\.(v\\d+)', 1) AS study_version,
           regexp_extract(fname, '(pht\\d+)', 1) AS phenotype_id,
           regexp_extract(fname, 'pht\\d+\\.(v\\d+)', 1) AS table_version,
           regexp_extract(fname,
             'pht\\d+\\.v\\d+\\.([A-Za-z0-9_]+?)\\.(?:data_dict|var_report)\\.xml$', 1)
             AS table_name,
           regexp_extract(fname, '(data_dict|var_report)\\.xml$', 1)
             AS metadata_type
    FROM (
      SELECT regexp_extract(file, '([^/]+)$', 1) AS fname
      FROM glob('{SOURCES_DIR}/*.xml')
    )
    WHERE regexp_matches(fname,
      '(phs\\d+)\\.(v\\d+)\\.(pht\\d+)\\.(v\\d+)\\.([A-Za-z0-9_]+?)\\.(data_dict|var_report)\\.xml$')
    ORDER BY fname
    """,
    tags=("sources", "dbgap"),
)
def src_study_directory_scan(spark, sf_dir):
    """S8 study-directory scanner (ccmm/dbgap/public_metadata.py:234-266):
    dbGaP metadata filenames regex-parsed into the (study, phenotype,
    table, metadata_type) catalog. The oracle lists the same directory
    with DuckDB's glob() and applies equivalent regexes."""
    from gtec_etl_spark.sources.dbgap_xml import scan_study_directory

    return scan_study_directory(spark, SOURCES_DIR).select(
        "study_id",
        "study_version",
        "phenotype_id",
        "table_version",
        "table_name",
        "metadata_type",
    ).orderBy("study_id", "phenotype_id", "metadata_type")


@query(
    "src_restricted_accessions",
    oracle=f"""
    WITH whole AS (
      SELECT string_split(content, chr(10)) AS l FROM read_text('{RESTRICTED_TSV}')
    ),
    nums AS (
      SELECT unnest(generate_series(1, len(l))) AS i, l FROM whole
    ),
    lines AS (SELECT l[i] AS line FROM nums)
    SELECT regexp_extract(line, '^#\\s*(Study|Table)\\s+accession:\\s*(\\S+)', 1)
             AS kind,
           regexp_extract(line, '^#\\s*(Study|Table)\\s+accession:\\s*(\\S+)', 2)
             AS accession
    FROM lines
    WHERE regexp_matches(line, '^#\\s*(Study|Table)\\s+accession:\\s*(\\S+)')
    ORDER BY kind, accession
    """,
    tags=("sources", "restricted"),
)
def src_restricted_accessions(spark, sf_dir):
    """S9 restricted-metadata reader (ccmm/dbgap/restricted_metadata.py:
    21-92): the `# Study/Table accession:` comment capture as a
    distributed line scan; the oracle replays the same regex over
    read_text lines."""
    _rows, acc = restricted.read_restricted_tsv(spark, RESTRICTED_TSV)
    return acc.orderBy("kind", "accession")


SUBJECT_SPEC = validated.TableSpec(
    columns=[
        validated.ColumnSpec("SUBJID", regex=r"^GTEX-[A-Z0-9]+$", empty_ok=False),
        validated.ColumnSpec("SEX", integer_cv={1: "male", 2: "female"}),
        validated.ColumnSpec(
            "AGE", cv=["20-29", "30-39", "40-49", "50-59", "60-69"]
        ),
        validated.ColumnSpec("BMI", regex=r"^[0-9]+(\.[0-9]+)?$", dtype="double"),
    ],
    primary_key=["SUBJID"],
)


@query(
    "src_validated_violations",
    oracle=f"""
    WITH t AS (
      SELECT * FROM read_csv('{SUBJECTS_TSV}', delim='\t', header=true,
                             all_varchar=true, nullstr='')
    ),
    cell AS (
      SELECT SUBJID AS row_key, 'SUBJID' AS "column", SUBJID AS "value",
             'regex' AS "check"
      FROM t WHERE SUBJID IS NOT NULL
        AND NOT regexp_matches(SUBJID, '^GTEX-[A-Z0-9]+$')
      UNION ALL
      SELECT SUBJID, 'SEX', SEX, 'integer_cv'
      FROM t WHERE SEX IS NOT NULL AND SEX NOT IN ('1', '2')
      UNION ALL
      SELECT SUBJID, 'AGE', AGE, 'cv'
      FROM t WHERE AGE IS NOT NULL
        AND AGE NOT IN ('20-29', '30-39', '40-49', '50-59', '60-69')
      UNION ALL
      SELECT SUBJID, 'BMI', BMI, 'regex'
      FROM t WHERE BMI IS NOT NULL
        AND NOT regexp_matches(BMI, '^[0-9]+(\\.[0-9]+)?$')
      UNION ALL
      SELECT SUBJID, 'SUBJID', CAST(count(*) AS VARCHAR), 'duplicate_pk'
      FROM t GROUP BY SUBJID HAVING count(*) > 1
    )
    SELECT row_key, "column", "value", "check"
    FROM cell ORDER BY row_key, "column", "check", "value"
    """,
    tags=("sources", "validation"),
)
def src_validated_violations(spark, sf_dir):
    """S1 validated-reader semantics at the driver level
    (ccmm/gtex/parsers/util.py:31-105): declared schema, regex / closed
    vocabulary / integer-code / nullability cell checks plus duplicate-PK
    detection, emitted as the violations DataFrame (the distributed form
    of the reference's fatal-with-line-number). One scan, all checks as
    native when() expressions — no Python per row."""
    df = validated.read_tsv(spark, SUBJECTS_TSV, SUBJECT_SPEC)
    return validated.validate(df, SUBJECT_SPEC).orderBy(
        "row_key", "column", "check", "value"
    )


DATACITE_GLOB = os.path.join(FIXTURES, "sources", "datacite_works*.json")


@query(
    "src_datacite_works",
    oracle=f"""
    SELECT rec.attributes.doi AS doi,
           rec.attributes.titles[1].title AS title,
           rec.attributes.version AS version,
           count(*) OVER (PARTITION BY rec.attributes.titles[1].title)
             AS n_title_dups
    FROM (SELECT unnest(data) AS rec
          FROM read_json('{DATACITE_GLOB}', union_by_name=true))
    ORDER BY doi
    """,
    tags=("sources", "datacite"),
)
def src_datacite_works(spark, sf_dir):
    """S14 DataCite works source at the driver level
    (ccmm/gtex/rnaseq_datasets.py:160-202): a TWO-page works-API recording
    (page 1 carries links.next to page 2) parsed DISTRIBUTED
    (spark.read.json over the page glob + explode — one page per file
    shards across executors) with the duplicate-title constraint surfaced
    as a per-title count (the reference fatals when any count > 1; the
    'Epsilon Methylation Panel' dup SPANS the two pages, so the counts
    are only right when both pages are read; empty titles arrays become
    NULL, try_element_at under ANSI). The HTTP fetch boundary is an
    injectable transport (sources/datacite.py: recorded_transport replays
    these same pages through the live fetch→paginate→parse path; only the
    socket itself needs network)."""
    raw = spark.read.option("multiLine", "true").json(DATACITE_GLOB)
    rec = raw.select(F.explode("data").alias("rec")).select(
        F.col("rec.attributes.doi").alias("doi"),
        F.try_element_at(F.col("rec.attributes.titles"), F.lit(1))["title"].alias(
            "title"
        ),
        F.col("rec.attributes.version").alias("version"),
    )
    from pyspark.sql import Window as W

    return rec.withColumn(
        "n_title_dups", F.count(F.lit(1)).over(W.partitionBy("title"))
    ).orderBy("doi")


@query(
    "src_csv_quoted",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN contains(c_comment, ',') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_delims,
           CAST(sum(CASE WHEN contains(c_comment, '"') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_quotes,
           CAST(sum(CASE WHEN contains(c_comment, chr(10)) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_multiline,
           CAST(sum(length(c_comment)) AS BIGINT) AS total_comment_chars
    FROM (
      SELECT c_custkey,
             CASE
               WHEN c_custkey % 5 = 0 THEN c_name || ', "' || c_mktsegment || '"'
               WHEN c_custkey % 5 = 1 THEN c_name || chr(10) || c_mktsegment
               ELSE c_name
             END AS c_comment
      FROM customer
    )
    """,
    tags=("sources",),
)
def src_csv_quoted(spark, sf_dir):
    """CSV with the HARD cases — embedded delimiters, escaped quotes, and
    embedded NEWLINES — written as a real RFC-4180 file by Spark's CSV
    writer and read back with multiLine=true, then audited (row count,
    how many values carried each hazard, total chars — any mis-split
    row breaks all five numbers). The scale caveat is the point of the
    docstring: multiLine=true makes a CSV file NON-SPLITTABLE (a record
    can straddle any byte offset, so one file = one task) — at 100 TB
    you shard the input into many files (as this write does naturally)
    or forbid embedded newlines at ingest and keep byte-range splits.
    Oracle recomputes the synthesized hazard column straight from
    customer."""
    import tempfile

    from gtec_etl_spark import catalog

    cust = catalog.table(spark, sf_dir, "customer")
    hazard = (
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.concat(F.col("c_name"), F.lit(', "'), F.col("c_mktsegment"), F.lit('"')),
        )
        .when(
            F.col("c_custkey") % 5 == 1,
            F.concat(F.col("c_name"), F.lit("\n"), F.col("c_mktsegment")),
        )
        .otherwise(F.col("c_name"))
    )
    df = cust.select("c_custkey", hazard.alias("c_comment"))
    with tempfile.TemporaryDirectory(prefix="csv_rt_") as tmp:
        df.write.mode("overwrite").option("header", "true").csv(tmp)
        back = spark.read.option("header", "true").option("multiLine", "true").csv(tmp)
        out = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("c_comment").contains(","), 1).otherwise(0))
            .cast("long")
            .alias("n_with_delims"),
            F.sum(F.when(F.col("c_comment").contains('"'), 1).otherwise(0))
            .cast("long")
            .alias("n_with_quotes"),
            F.sum(F.when(F.col("c_comment").contains("\n"), 1).otherwise(0))
            .cast("long")
            .alias("n_multiline"),
            F.sum(F.length("c_comment")).cast("long").alias("total_comment_chars"),
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "src_fixed_width",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_custkey,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_acctbal_cents,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           CAST(sum(length(c_name)) AS BIGINT) AS total_name_chars
    FROM customer
    """,
    tags=("sources",),
)
def src_fixed_width(spark, sf_dir):
    """FIXED-WIDTH text source — the mainframe/regulatory layout the S1
    family's delimited readers don't cover: customer rows are formatted
    into 60-byte records (custkey right-aligned 12, name left-padded 24,
    segment 12, integer acctbal cents right-aligned 12), written as a
    real text file by Spark's text sink, read back with spark.read.text,
    and parsed by substring offsets + trim + cast. The audit aggregates
    (row count, key checksum, cents checksum, segment cardinality, name
    chars) all break if any offset, pad, or sign is mis-handled; the
    oracle recomputes them from the base table, so the round-trip must
    be the identity. Scale note: fixed-width IS the friendliest format
    at 100 TB — fixed record length means byte-range splits never
    straddle a record, the opposite of src_csv_quoted's multiLine
    non-splittability caveat."""
    import tempfile

    from gtec_etl_spark import catalog

    cust = catalog.table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    line = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 12, " "),
        F.rpad(F.col("c_name"), 24, " "),
        F.rpad(F.col("c_mktsegment"), 12, " "),
        F.lpad(cents.cast("string"), 12, " "),
    )
    with tempfile.TemporaryDirectory(prefix="fw_rt_") as tmp:
        cust.select(line.alias("value")).write.mode("overwrite").text(tmp)
        back = spark.read.text(tmp).select(
            F.trim(F.substring("value", 1, 12)).cast("long").alias("c_custkey"),
            F.rtrim(F.substring("value", 13, 24)).alias("c_name"),
            F.rtrim(F.substring("value", 37, 12)).alias("c_mktsegment"),
            F.trim(F.substring("value", 49, 12)).cast("long").alias("cents"),
        )
        out = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("sum_custkey"),
            F.sum("cents").cast("long").alias("sum_acctbal_cents"),
            F.count_distinct("c_mktsegment").cast("long").alias("n_segments"),
            F.sum(F.length("c_name")).cast("long").alias("total_name_chars"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
