"""End-to-end ETL pipeline — the reference's bin/gtex_v7_to_dats.py
lifecycle (SURVEY.md §3.1) composed from the engine's building blocks:

  validated sources (S1/S2) → fail-fast constraint pass → derived-key
  sample→subject linkage (J1) with dangling-FK audit → restricted-merge
  with conflict check (J2) → consent StudyGroups (A1) with count
  reconciliation (A2) → JSON-LD document emission (K1) → TSV dump (K3)
  → checksummed bag (K4).

The "plan" the reference encodes as a Python call graph (SURVEY.md §3) is
DataFrame lineage here, cut at two points in run_gtex_like_etl: one eager
fail-fast validation pass over all sources, and a local checkpoint of the
per-group documents, which their first action materializes once so that
the reconciliation, release validation and document writer do not re-run
ingest. Linkage, the dangling and conflict audits and the TSV dump stay
lazy, one Catalyst plan per output.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtec_etl_spark.functions.sqltext import ident, lit
from gtec_etl_spark.operators import joins as J
from gtec_etl_spark.sinks import jsonld
from gtec_etl_spark.sinks.bdbag import make_bag
from gtec_etl_spark.sinks.tabular import write_tsv_dump
from gtec_etl_spark.sources import validated

SUBJECT_SPEC = validated.TableSpec(
    columns=[
        validated.ColumnSpec("SUBJID", regex=r"^GTEX-[A-Z0-9]+$", empty_ok=False),
        validated.ColumnSpec("SEX", integer_cv={1: "male", 2: "female"}),
        validated.ColumnSpec("AGE", cv=["20-29", "30-39", "40-49", "50-59", "60-69"]),
    ],
    primary_key=["SUBJID"],
    name="subjects",
)

SAMPLE_SPEC = validated.TableSpec(
    columns=[
        validated.ColumnSpec("SAMPID", regex=r"^GTEX-[A-Z0-9]+-\d+$", empty_ok=False),
        validated.ColumnSpec("SMTS", empty_ok=False),
        validated.ColumnSpec("SMRIN", dtype="double"),
    ],
    primary_key=["SAMPID"],
    name="samples",
)

RESTRICTED_SPEC = validated.TableSpec(
    columns=[
        validated.ColumnSpec("SUBJID", regex=r"^GTEX-[A-Z0-9]+$", empty_ok=False),
        validated.ColumnSpec("CONSENT", regex=r"^\d+$", empty_ok=False),
        validated.ColumnSpec("AGE", cv=["20-29", "30-39", "40-49", "50-59", "60-69"]),
    ],
    primary_key=["SUBJID"],
    name="restricted",
)


@dataclass
class EtlResult:
    subjects: DataFrame
    samples: DataFrame
    study_groups: DataFrame
    conflicts: DataFrame
    dangling_samples: DataFrame
    documents: DataFrame


def run_gtex_like_etl(
    spark: SparkSession,
    subjects_tsv: str,
    samples_tsv: str,
    restricted_tsv: str | None = None,
    expected_group_sizes: dict[str, int] | None = None,
) -> EtlResult:
    """Extract + transform. Raises ValidationError on any source-constraint
    violation (the reference's mid-parse fatal, SURVEY.md §7.4), checked
    over all sources in one pass."""
    sources = [
        (validated.read_tsv(spark, subjects_tsv, SUBJECT_SPEC), SUBJECT_SPEC),
        (validated.read_tsv(spark, samples_tsv, SAMPLE_SPEC), SAMPLE_SPEC),
    ]
    if restricted_tsv is not None:
        sources.append(
            (validated.read_tsv(spark, restricted_tsv, RESTRICTED_SPEC), RESTRICTED_SPEC)
        )
    validated.assert_valid(sources)
    subjects, samples, *restricted = [
        validated.apply_mappings(df, spec) for df, spec in sources
    ]

    # J1: derive the subject key from the sample id. One left join against
    # the PRE-merge subjects yields both the linked samples and the
    # dangling-FK audit, so the dump's SEX/AGE come from subjects.tsv.
    samples = samples.selectExpr(
        "*", f"regexp_extract(SAMPID, {lit(r'^(GTEX-[A-Z0-9]+)')}, 1) AS SUBJID"
    )
    found = subjects.selectExpr("*", "true AS __found").hint("broadcast")
    probe = samples.join(found, "SUBJID", "left")
    dangling = probe.filter("__found IS NULL").selectExpr(
        *[ident(c) for c in samples.columns]
    )
    linked = probe.filter("__found").drop("__found")

    if restricted:
        subjects, conflicts = J.conflict_checked_merge(subjects, restricted[0], "SUBJID")
    else:
        conflicts = spark.createDataFrame(
            [], "SUBJID string, column string, base_value string, extra_value string"
        )

    # A1 consent StudyGroups and K1 one JSON-LD document per group
    # (deterministic ids, members sorted by SUBJID as embedded Materials)
    # from one aggregate, checkpointed: the first action materializes it,
    # and the A2 reconciliation, release validation and the document
    # writer all read that one copy.
    group_key = "CONSENT" if restricted else "SEX"
    key = ident(group_key)
    member = (
        f"named_struct('@id', {jsonld.content_id_sql('Material', 'SUBJID')},"
        " '@type', 'Material', 'name', SUBJID)"
    )
    groups = (
        subjects.groupBy(group_key)
        .agg(
            jsonld.sorted_children("SUBJID", member).alias("members"),
            F.expr("count(1) AS size"),
        )
        .selectExpr(
            f"{key} AS `group`",
            "size",
            "concat_ws(',', members.name) AS member_ids",
            "to_json(named_struct("
            f"'@id', {jsonld.content_id_sql('StudyGroup', group_key)},"
            f" '@type', 'StudyGroup', 'name', {key}, 'size', size,"
            " 'members', members)) AS doc",
        )
        .localCheckpoint(eager=False)
    )
    if expected_group_sizes:
        # Expectations are EXHAUSTIVE (the reference's per-file count
        # check): a wrong size, an expected-but-absent group and a
        # computed-but-unexpected group all fail.
        sizes = {r["group"]: r["size"] for r in groups.select("group", "size").collect()}
        bad = {
            g: {"size": sizes.get(g), "expected": expected_group_sizes.get(g)}
            for g in sizes.keys() | expected_group_sizes.keys()
            if sizes.get(g) != expected_group_sizes.get(g)
        }
        if bad:
            raise ValueError(f"consent-group size reconciliation failed: {bad}")

    return EtlResult(
        subjects=subjects,
        samples=linked,
        study_groups=groups.selectExpr(
            f"`group` AS {key}", "size", "member_ids AS members"
        ),
        conflicts=conflicts,
        dangling_samples=dangling,
        documents=groups.selectExpr("`group`", "doc"),
    )


@dataclass
class MultiStudyResult:
    subjects: DataFrame
    samples: DataFrame
    study_groups: DataFrame
    summary: DataFrame


def run_multi_study_etl(
    spark: SparkSession,
    studies: DataFrame,
    subjects: DataFrame,
    samples: DataFrame,
    files: DataFrame,
    expected_group_sizes: DataFrame | None = None,
) -> MultiStudyResult:
    """TOPMed-style multi-study ETL (reference bin/topmed_to_dats.py:170-266,
    337-355) as ONE study_id-partitioned Spark job — no per-study driver
    loop; every per-study step is a groupBy/join keyed on study_id, so a
    1000-study run is the same plan as a 2-study run.

    Inputs (domain-neutral schemas):
      studies(study_id long, study_name)    — public study list
      subjects(study_id, subject_id, consent) — RESTRICTED metadata; a study
        absent here is public-only
      samples(subject_id, sample_id)        — restricted sample metadata
      files(sample_id, file_id)             — per-sample file manifest

    Semantics mirrored from the reference:
      - restricted studies: full subject list; consent StudyGroups (A1)
        with sorted members; optional size reconciliation (A2, fatal on
        mismatch like topmed_to_dats.py:155-158).
      - public-only studies: ONE synthetic subject 'SU%07d' + sample
        'SA%07d' (topmed_to_dats.py:186-189,229-233); its consent comes
        from the A4 mode picker (count desc, value asc —
        ccmm/gtex/dna_extracts.py:49-53) over the public value summary
        (stand-in: the pooled restricted subjects).
      - referenced-samples semi-join filter applied ONLY on the restricted
        path (topmed_to_dats.py:251-266).
    """
    restricted_ids = subjects.select("study_id").distinct()

    # A4 pick for the synthetic subject's consent value. A global (ungrouped)
    # mode is a top-1 over the value histogram: partial-aggregated counts +
    # TakeOrderedAndProject — not a single-partition window.
    picked_top1 = (
        subjects.groupBy("consent")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("consent").asc())
        .limit(1)
        .select(F.col("consent").alias("picked_consent"))
    )
    # Exactly ONE row even when subjects is empty (an all-public run):
    # left-joining a single anchor row against the ≤1-row pick yields
    # (picked_consent) or (NULL) — never zero rows, so the crossJoins
    # below can't silently drop every public study.
    picked = (
        spark.range(1)
        .join(F.broadcast(picked_top1), F.lit(True), "left")
        .select("picked_consent")
    )

    synth_subjects = (
        studies.join(restricted_ids, "study_id", "left_anti")
        .crossJoin(F.broadcast(picked))
        .select(
            "study_id",
            F.concat(F.lit("SU"), F.lpad(F.col("study_id").cast("string"), 7, "0")).alias(
                "subject_id"
            ),
            F.col("picked_consent").alias("consent"),
            F.lit("synthetic").alias("subject_source"),
        )
    )
    all_subjects = subjects.select(
        "study_id", "subject_id", "consent", F.lit("restricted").alias("subject_source")
    ).unionByName(synth_subjects)

    # Restricted samples linked to their study through the subject.
    linked_samples = samples.join(
        subjects.select("study_id", "subject_id"), "subject_id"
    ).select("study_id", "subject_id", "sample_id")
    synth_samples = synth_subjects.select(
        "study_id",
        "subject_id",
        F.concat(F.lit("SA"), F.lpad(F.col("study_id").cast("string"), 7, "0")).alias(
            "sample_id"
        ),
    )
    all_samples = linked_samples.unionByName(synth_samples)

    # Referenced-samples filter (restricted path only): keep samples with
    # at least one file Dataset. left_semi on the file manifest.
    referenced = linked_samples.join(
        files.select("sample_id").distinct(), "sample_id", "left_semi"
    )

    # A1: consent StudyGroups with deterministic sorted member lists.
    study_groups = all_subjects.groupBy("study_id", "consent").agg(
        F.count(F.lit(1)).alias("size"),
        F.concat_ws(",", F.sort_array(F.collect_list("subject_id"))).alias("members"),
    )
    if expected_group_sizes is not None:
        # Expectations are EXHAUSTIVE: full_outer so an expected-but-absent
        # group (size NULL), a computed-but-unexpected group (expected
        # NULL), and a wrong-sized group all fail — the reference fatals on
        # any count drift, extras included.
        bad = study_groups.join(
            expected_group_sizes, ["study_id", "consent"], "full_outer"
        ).filter(
            F.coalesce(F.col("size"), F.lit(-1))
            != F.coalesce(F.col("expected"), F.lit(-2))
        )
        if bad.take(1):
            raise ValueError(
                f"consent-group size reconciliation failed: {bad.collect()}"
            )

    subj_agg = subjects.groupBy("study_id").agg(
        F.count(F.lit(1)).alias("n_subjects"),
        F.countDistinct("consent").alias("n_groups"),
    )
    samp_agg = linked_samples.groupBy("study_id").agg(
        F.count(F.lit(1)).alias("n_samples")
    )
    ref_agg = referenced.groupBy("study_id").agg(
        F.count(F.lit(1)).alias("n_referenced")
    )

    is_synth = F.col("__restricted").isNull()
    summary = (
        studies
        .join(restricted_ids.withColumn("__restricted", F.lit(1)), "study_id", "left")
        .join(subj_agg, "study_id", "left")
        .join(samp_agg, "study_id", "left")
        .join(ref_agg, "study_id", "left")
        .crossJoin(F.broadcast(picked))
        .select(
            F.col("study_id").cast("long").alias("study_id"),
            "study_name",
            F.when(is_synth, "synthetic").otherwise("restricted").alias("subject_source"),
            F.when(is_synth, F.lit(1).cast("long"))
            .otherwise(F.col("n_subjects"))
            .alias("n_subjects"),
            F.when(is_synth, F.lit(1).cast("long"))
            .otherwise(F.col("n_groups"))
            .alias("n_groups"),
            F.when(is_synth, F.lit(1).cast("long"))
            .otherwise(F.coalesce(F.col("n_samples"), F.lit(0).cast("long")))
            .alias("n_samples"),
            F.when(is_synth, F.lit(None).cast("long"))
            .otherwise(F.coalesce(F.col("n_referenced"), F.lit(0).cast("long")))
            .alias("n_referenced"),
            F.when(is_synth, F.col("picked_consent"))
            .otherwise(F.lit(None).cast("string"))
            .alias("picked_consent"),
        )
    )
    return MultiStudyResult(
        subjects=all_subjects,
        samples=all_samples,
        study_groups=study_groups,
        summary=summary,
    )


def export_release(result: EtlResult, out_dir: str, bag_path: str) -> dict:
    """Load phase: TSV dump (K3) + JSON-LD documents (K1) + checksummed
    bag (K4). Returns the bag summary."""
    write_tsv_dump(
        result.samples.select("SUBJID", "SAMPID", "SMTS", "SMRIN", "SEX", "AGE"),
        f"{out_dir}/samples_dump",
        ["SUBJID", "SAMPID"],
        single_file=True,
    )
    jsonld.write_documents(result.documents, f"{out_dir}/documents", single_file=True)
    return make_bag(out_dir, bag_path, {"Source-Organization": "gtec_etl_spark"})
