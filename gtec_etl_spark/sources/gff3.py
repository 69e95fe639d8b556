"""GFF3 source — S10 (ccmm/mgd/ref_genome_dataset.py:90-199 in the
reference, re-expressed as a declarative scan).

The reference reads the 9-column tab file line-by-line, splits the
attributes column into dynamic key=value pairs, and builds id→feature /
parent→children dict indexes. Here: one CSV scan with comment='#', a
str_to_map for the attributes (MapType — the dynamic-keys model from
SURVEY.md §1.2), and the parent/child indexes become self-joins (J12).
gzip is handled transparently by the Hadoop input format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GFF3_SCHEMA = (
    "seqid string, source string, type string, start long, end long,"
    " score string, strand string, phase string, attributes string"
)


def read_gff3(spark: SparkSession, path: str) -> DataFrame:
    """Scan a GFF3 file into typed columns + an attribute map.

    The genomic interval lands as (seqid, start, end, strand) — the
    GenomeLocation struct enabling bucketized range joins
    (operators/joins.py:bucket_range_join)."""
    df = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .schema(GFF3_SCHEMA)
        .csv(path)
    )
    return df.withColumn(
        "attrs", F.expr("str_to_map(attributes, ';', '=')")
    ).withColumn("feature_id", F.col("attrs")["ID"]).withColumn(
        "parent_id", F.col("attrs")["Parent"]
    )


def read_gff3_metadata(spark: SparkSession, path: str) -> DataFrame:
    """The reference extracts genome-build/provider pragmas from the `#`
    comment lines; a separate line scan keeps the main CSV read columnar."""
    lines = spark.read.text(path)
    return (
        lines.filter(F.col("value").startswith("##"))
        .select(
            F.regexp_extract("value", r"^##([^ ]+) ?(.*)$", 1).alias("pragma"),
            F.regexp_extract("value", r"^##([^ ]+) ?(.*)$", 2).alias("value"),
        )
        .filter(F.col("pragma") != "")
    )


def parent_child_edges(features: DataFrame) -> DataFrame:
    """J12 parent/child self-join (consistency-checked in the reference):
    one row per (parent feature, child feature)."""
    parents = features.select(
        F.col("feature_id").alias("parent_feature_id"),
        F.col("type").alias("parent_type"),
    )
    children = features.filter(F.col("parent_id").isNotNull()).select(
        F.col("parent_id").alias("parent_feature_id"),
        F.col("feature_id").alias("child_feature_id"),
        F.col("type").alias("child_type"),
    )
    return children.join(parents, "parent_feature_id", "left")


def dangling_parents(features: DataFrame) -> DataFrame:
    """Features referencing a Parent id that doesn't exist — the
    reference's fatal consistency check as an anti-join."""
    ids = features.select(F.col("feature_id").alias("parent_id")).distinct()
    return features.filter(F.col("parent_id").isNotNull()).join(
        ids, "parent_id", "left_anti"
    )
