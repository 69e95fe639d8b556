"""Assemble DATS-style JSON-LD documents from the normalized relational
model — the K1 single-document emitter exercised end-to-end.

Entity mapping (same as plans/etl_queries.py): program Dataset → region,
study Dataset → nation, StudyGroup → market segment, subject Material →
customer, file Dataset → lineitem, producer → supplier.

Demonstrates every hard emitter behavior on real data:
- deterministic content-hash @ids (jsonld.content_id),
- subject characteristics as nested (name, value) arrays,
- StudyGroup→member links emitted as @id refs (the reference's circular
  subject↔group link, bin/gtex_v7_to_dats.py:352-358 — cycles must be refs),
- shared producer objects embedded full on first occurrence in document
  order, @id refs after (DatsObjCache semantics),
- deterministically sorted child arrays at every level.

One document per program; the plan shuffles only on the parent keys of each
assembly level (subject→study→program), never collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.sinks import jsonld as J


def build_program_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return (program, doc) — one JSON-LD document string per program."""
    t = catalog.load_tables(spark, sf_dir)

    subjects = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            J.content_id("Material", "c_custkey").alias("subject_id"),
            "c_custkey", "c_name", "c_mktsegment", "c_acctbal",
            F.col("n_name").alias("study"),
            F.col("n_regionkey").alias("regionkey"),
        )
    )

    # Files with shared producers: first occurrence (document order: study,
    # subject, order, line) embeds the full supplier, later rows a ref.
    files = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(subjects.select("c_custkey", "subject_id", "study", "regionkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "regionkey", "study", "subject_id",
            F.col("l_orderkey").alias("sample_key"),
            F.col("l_linenumber").alias("line"),
            J.content_id("Dataset", "l_orderkey", "l_linenumber").alias("file_id"),
            "s_suppkey", "s_name",
        )
    )
    producer_schema = (
        "`@id` string, `@type` string, name string"
    )
    from pyspark.sql.types import _parse_datatype_string

    prod_struct = F.struct(
        J.content_id("Organization", "s_suppkey").alias("@id"),
        F.lit("Organization").alias("@type"),
        F.col("s_name").alias("name"),
    )
    doc_order = [F.col("study"), F.col("subject_id"), F.col("sample_key"), F.col("line")]
    # File datasets get the same per-document DatsObjCache treatment as
    # producers (round 12 — found by k8's release validator): the
    # synthetic lineitem's (orderkey, linenumber) is NOT unique, so
    # file_ids collide within a document; the reference embeds a shared
    # sub-object full exactly once and refs it after
    # (ccmm/dats/datsobj.py:156-172). First occurrence in document order
    # stays full, later ones become {"@id"} refs.
    from pyspark.sql import Window as W

    files = files.withColumn(
        "__file_keep",
        J.first_occurrence(files, ["regionkey", "file_id"], doc_order),
    )
    # Producers embed full on their earliest KEPT file row (a full embed
    # inside a later-duplicate file struct would be erased when that
    # struct collapses to a ref, leaving the producer's refs dangling).
    # Partition by (document, object): each program document must embed
    # every producer it references in full exactly once — a global
    # s_suppkey partition would leave cross-region producers as
    # unresolvable refs in all but one document.
    prod_first = (
        F.row_number().over(
            W.partitionBy("regionkey", "s_suppkey").orderBy(
                F.col("__file_keep").desc(), *doc_order
            )
        )
        == 1
    ) & F.col("__file_keep")
    files = files.withColumn(
        "producer",
        J.full_or_ref(
            prod_struct, prod_first, _parse_datatype_string(producer_schema)
        ),
    ).withColumn(
        "file_struct",
        F.struct(
            F.col("file_id").alias("@id"),
            F.lit("Dataset").alias("@type"),
            F.col("producer").alias("producedBy"),
        ),
    )
    file_schema = _parse_datatype_string(
        "`@id` string, `@type` string,"
        " producedBy struct<`@id`:string,`@type`:string,name:string>"
    )
    files = files.withColumn(
        "file_struct",
        J.full_or_ref(F.col("file_struct"), F.col("__file_keep"), file_schema),
    )

    files_per_subject = files.groupBy("subject_id").agg(
        J.sorted_children(
            "concat_ws('|', lpad(sample_key, 12, '0'), lpad(line, 4, '0'))", "file_struct"
        ).alias("files")
    )

    subj_full = subjects.join(files_per_subject, "subject_id", "left").withColumn(
        "subject_struct",
        F.struct(
            F.col("subject_id").alias("@id"),
            F.lit("Material").alias("@type"),
            F.col("c_name").alias("name"),
            F.array(
                F.struct(F.lit("mktsegment").alias("name"), F.col("c_mktsegment").alias("value")),
                F.struct(
                    F.lit("acctbal").alias("name"),
                    F.format_number(F.col("c_acctbal"), 2).alias("value"),
                ),
            ).alias("characteristics"),
            F.coalesce(F.col("files"), F.array().cast("array<struct<`@id`:string,`@type`:string,producedBy:struct<`@id`:string,`@type`:string,name:string>>>")).alias("hasPart"),
        ),
    )

    # StudyGroups: members are @id REFS (circular subject<->group links can
    # only serialize as references).
    groups = (
        subj_full.groupBy("regionkey", "study", "c_mktsegment")
        .agg(
            J.sorted_children("c_name", "named_struct('@id', subject_id)").alias("members"),
            F.count(F.lit(1)).alias("size"),
        )
        .withColumn(
            "group_struct",
            F.struct(
                J.content_id("StudyGroup", "study", "c_mktsegment").alias("@id"),
                F.lit("StudyGroup").alias("@type"),
                F.col("c_mktsegment").alias("name"),
                F.col("size"),
                F.col("members"),
            ),
        )
    )

    studies = (
        subj_full.groupBy("regionkey", "study")
        .agg(
            J.sorted_children("c_name", "subject_struct").alias("subjects")
        )
        .join(
            groups.groupBy("regionkey", "study").agg(
                J.sorted_children("c_mktsegment", "group_struct").alias("studyGroups")
            ),
            ["regionkey", "study"],
        )
        .withColumn(
            "study_struct",
            F.struct(
                J.content_id("Dataset", "study").alias("@id"),
                F.lit("Dataset").alias("@type"),
                F.col("study").alias("title"),
                F.col("studyGroups"),
                F.col("subjects").alias("isAbout"),
            ),
        )
    )

    programs = (
        studies.groupBy("regionkey")
        .agg(
            J.sorted_children("study", "study_struct").alias("hasPart")
        )
        .join(F.broadcast(t["region"]), F.col("regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("program"),
            J.to_document(
                F.struct(
                    J.content_id("Dataset", "r_name").alias("@id"),
                    F.lit("Dataset").alias("@type"),
                    F.col("r_name").alias("title"),
                    F.col("hasPart"),
                )
            ).alias("doc"),
        )
    )
    return programs
