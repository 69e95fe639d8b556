"""JSON-LD document emitter — K1/K2 (SURVEY.md §2.2) and the M5 milestone.

The reference serializes its DATS entity graph as one giant JSON-LD document
(bin/gtex_v7_to_dats.py:404-406) with three tricky behaviors the engine must
reproduce deterministically (SURVEY.md §7.4):

1. **Stable ids.** The reference uses uuid4 per object
   (ccmm/dats/datsobj.py:109-116) — nondeterministic. We derive ids as
   content hashes (sha256 of type + natural key), so outputs are
   byte-reproducible and hashable across runs and engines.
2. **First-occurrence-full-then-ref dedup.** Shared sub-objects are embedded
   in full exactly once (the first occurrence in document order) and as
   {"@id": ...} references everywhere else (DatsObjCache,
   ccmm/dats/datsobj.py:156-172). Implemented with a row_number window over
   the deterministic document order — the "first writer" rule — and a
   same-schema struct whose non-@id fields are nulled for refs; to_json
   omits null fields, so refs serialize as {"@id": "..."} exactly.
3. **Cycles.** Circular links (subject↔StudyGroup) are representable only as
   @id references; the edge always serializes as a ref struct.

Scale: assembly is groupBy + sorted collect_list per level — shuffles on the
parent key only; no driver-side materialization. One document per top-level
entity lands as one row; df.write.text shards documents across files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


#: The closed DATS type vocabulary (ccmm/dats/datsobj.py:33-70): the
#: reference's DatsObj constructor fatals on any type outside this set
#: (datsobj.py:81-83), and the release pipeline re-validates emitted
#: JSON-LD against the datatagsuite schemas (README.md:150-163,
#: make-crosscut-instance-bdbag.sh:81-91). k8_release_validation applies
#: the same registry check to this engine's emitted documents.
DATS_TYPES = frozenset(
    {
        "Access", "Activity", "AlternateIdentifier", "AnatomicalPart",
        "Annotation", "BiologicalEntity", "CategoryValuesPair",
        "ConsentInfo", "DataAcquisition", "DataAnalysis", "DataRepository",
        "DataStandard", "DataType", "Dataset", "DatasetDistribution",
        "Date", "Dimension", "Disease", "GenomeLocation", "Grant",
        "Identifier", "Instrument", "License", "Material",
        "MolecularEntity", "Organization", "Person", "Place", "Provenance",
        "Publication", "RelatedIdentifier", "Software", "Study",
        "StudyGroup", "TaxonomicInformation", "Treatment",
    }
)


def content_id(entity_type: str, *natural_key: Column | str) -> Column:
    """Deterministic @id: sha256 over (type, natural key), truncated to 32
    hex chars. Replaces the reference's uuid4 (SURVEY.md §7.4).

    Null-propagating on purpose (concat, NOT concat_ws): a NULL key
    component yields a NULL id instead of silently vanishing from the
    hash input — concat_ws would give (NULL,'x') and ('x',NULL) the same
    id, merging distinct entities. Matches the SQL-oracle form
    type || chr(31) || key, where any NULL nulls the whole expression."""
    cols = [F.col(c) if isinstance(c, str) else c for c in natural_key]
    parts: list[Column] = [F.lit(entity_type)]
    for c in cols:
        parts.extend([F.lit("\x1f"), c.cast("string")])
    return F.concat(
        F.lit(f"dats:{entity_type}/"),
        F.substring(F.sha2(F.concat(*parts), 256), 1, 32),
    )


def as_ref(struct_col: Column, schema: StructType) -> Column:
    """Rebuild `struct_col` with every field nulled except `@id`. Because
    to_json drops null fields, the ref serializes as {"@id": "..."} while
    keeping the same Spark type as the full struct (so full-vs-ref can live
    in one column)."""
    fields = []
    for f in schema.fields:
        if f.name == "@id":
            fields.append(struct_col.getField("@id").alias("@id"))
        else:
            fields.append(F.lit(None).cast(f.dataType).alias(f.name))
    return F.struct(*fields)


def first_occurrence(
    df: DataFrame, object_id: str | list[str], order: list[Column | str]
) -> Column:
    """The deterministic "first writer" flag: true for the single row that
    embeds the full object, false for every later reference. `order` must be
    a total order (include a tie-breaking unique key).

    When output shards into multiple self-contained documents, object_id
    must INCLUDE the document key (e.g. [doc_key, object_key]) — a global
    partition would embed the full object in one document and leave every
    other document holding an unresolvable @id ref."""
    from pyspark.sql import Window as W

    parts = [object_id] if isinstance(object_id, str) else list(object_id)
    w = W.partitionBy(*parts).orderBy(*order)
    return F.row_number().over(w) == 1


def full_or_ref(struct_col: Column, is_first: Column, schema: StructType) -> Column:
    """Emit the full object on its first occurrence, an @id ref after."""
    return F.when(is_first, struct_col).otherwise(as_ref(struct_col, schema))


def sorted_children(sort_key: Column, child: Column) -> Column:
    """Deterministically ordered child array for collect_list aggregation:
    collect (key, child) pairs, sort by key, project the child — the
    emitter's answer to collect_list's nondeterministic order."""
    return F.struct(sort_key.alias("k"), child.alias("v"))


def children_array(collected: Column) -> Column:
    return F.transform(F.array_sort(collected), lambda x: x["v"])


def to_document(root_struct: Column) -> Column:
    """Serialize the assembled root struct to the final JSON document.
    Null fields are omitted (that is what makes refs minimal)."""
    return F.to_json(root_struct)


#: Superset read-back schema for release validation: every field any
#: emitted document may carry. from_json tolerates absent fields (null),
#: and FAILFAST turns malformed JSON into a hard error — the reference's
#: fatal-on-invalid release gate (make-crosscut-instance-bdbag.sh:81-91).
RELEASE_DOC_SCHEMA = (
    "struct<`@id`:string,`@type`:string,name:string,size:bigint,"
    "custkey:bigint,"
    "members:array<struct<`@id`:string,`@type`:string,name:string>>,"
    "hasPart:array<struct<`@id`:string>>>"
)

_ID_RE = "^dats:[A-Za-z]+/[0-9a-f]{32}$"


def _occurrence(kind: str, oid: Column, typ: Column) -> Column:
    return F.struct(
        F.lit(kind).alias("kind"),
        oid.cast("string").alias("id"),
        typ.cast("string").alias("typ"),
    )


_OCCURRENCES = "array<struct<kind:string,id:string,typ:string>>"


def validate_release(docs: DataFrame, doc_col: str = "doc") -> DataFrame:
    """K8 schema-contract validation — the reference validates every
    release against the datatagsuite DATS JSON schemas before bagging
    (README.md:150-163, make-crosscut-instance-bdbag.sh:81-91); this is
    the engine-side equivalent over its own emitted documents.

    Reads documents back through from_json(RELEASE_DOC_SCHEMA,
    mode=FAILFAST) — malformed JSON aborts the release, exactly like the
    reference's validator exit — then flattens every entity occurrence
    (document roots, embedded members, hasPart references) and reports
    one row of violation counters:

    - n_unknown_type: full embeds whose @type is outside the DATS_TYPES
      registry (the DatsObj constructor check, datsobj.py:81-83)
    - n_bad_id: any occurrence whose @id is null, malformed
      (not dats:<Type>/<32-hex>), or whose embedded type prefix
      contradicts its @type
    - n_dup_full: distinct @ids embedded in FULL more than once — a
      first-occurrence-full-then-ref contract breach (DatsObjCache,
      datsobj.py:156-172)
    - n_dangling: @id references that no full embed in the release
      resolves (the cycle-link representation depends on these resolving)

    Occurrence extraction is DEPTH-AGNOSTIC: it relies on the engine's
    canonical serialization (to_json over structs whose first two fields
    are @id then @type, null fields dropped), under which every FULL
    embed serializes as '{"@id":"...","@type":"...' at any nesting
    depth, every reference as exactly '{"@id":"..."}', and a full object
    whose @id was nulled starts '{"@type":"...'. Three regexp
    extractions therefore enumerate every entity occurrence without a
    recursive schema — from_json(FAILFAST) still gates structural
    well-formedness first. The duplicate-full check is scoped PER
    DOCUMENT, matching the reference's per-document DatsObjCache (the
    same entity embedded full in two different documents is correct —
    each document must be self-contained).

    Plan: each document is parsed once and all its entity occurrences
    (full, id-less, ref) are exploded from one concatenated array, plus
    one marker row per document. One shuffle by @id then serves both
    scopes: an aggregate per (@id, document) for the duplicate-full check,
    then one per @id on the same partitioning for dangling refs, before a
    one-row global sum. Every intermediate is release-sized (documents,
    not source data), so validation costs one scan of the release at any
    scale. Healthy releases report all-zero counters, and so does an
    empty one."""
    doc = F.col(doc_col)
    none = F.lit(None)
    full_re = F.lit(r'\{"@id":"([^"]+)","@type":"([^"]+)"')
    occurrences = F.concat(
        F.transform(
            F.arrays_zip(
                F.regexp_extract_all(doc, full_re, 1).alias("id"),
                F.regexp_extract_all(doc, full_re, 2).alias("typ"),
            ),
            lambda e: _occurrence("full", e["id"], e["typ"]),
        ),
        # full objects whose @id is missing (nulled ids are DROPPED by the
        # serializer, so the object starts with @type)
        F.transform(
            F.regexp_extract_all(doc, F.lit(r'\{"@type":"[^"]+"'), 0),
            lambda _: _occurrence("full", none, none),
        ),
        F.transform(
            F.regexp_extract_all(doc, F.lit(r'\{"@id":"([^"]+)"\}'), 1),
            lambda i: _occurrence("ref", i, none),
        ),
    )
    # The marker's typ is the FAILFAST parse's root @type. No counter reads
    # a marker's typ, but referencing the parse keeps it in the plan:
    # pruned, malformed JSON would pass instead of aborting the release.
    parsed = F.from_json(doc, RELEASE_DOC_SCHEMA, {"mode": "FAILFAST"})
    marker = F.array(_occurrence("doc", none, parsed["@type"]))
    # docno is numbered before the explode: in the same select, Spark
    # would number the exploded rows instead of the documents.
    occ = (
        docs.select(F.monotonically_increasing_id().alias("docno"), doc)
        .select(
            "docno",
            F.explode(
                F.concat(marker, F.coalesce(occurrences, F.array().cast(_OCCURRENCES)))
            ).alias("o"),
        )
        .select("docno", "o.*")
    )

    kind, oid, typ = F.col("kind"), F.col("id"), F.col("typ")
    is_full = kind == "full"
    bad_id = (kind != "doc") & (
        oid.isNull()
        | ~oid.rlike(_ID_RE)
        | (is_full & (F.regexp_extract(oid, "^dats:([A-Za-z]+)/", 1) != typ))
    )
    # Hash-partitioned by @id alone, so neither aggregate below (per
    # (@id, document), then per @id) needs a shuffle of its own.
    per_doc = (
        occ.repartition("id")
        .groupBy("id", "docno")
        .agg(
            F.count_if(kind == "doc").alias("docs"),
            F.count_if(is_full).alias("full"),
            F.count_if(kind == "ref").alias("refs"),
            F.count_if(
                is_full & typ.isNotNull() & ~typ.isin(sorted(DATS_TYPES))
            ).alias("unknown_type"),
            F.count_if(bad_id).alias("bad_id"),
        )
    )
    summed = ["docs", "full", "refs", "unknown_type", "bad_id"]
    per_id = per_doc.groupBy("id").agg(
        *[F.sum(c).alias(c) for c in summed],
        # per-document scope: the reference's DatsObjCache dedups within
        # one emitted document
        F.count_if(oid.isNotNull() & (F.col("full") > 1)).alias("dup_full"),
    )
    # global scope: a ref is dangling when no document embeds its @id full
    per_id = per_id.withColumn(
        "dangling",
        F.when(oid.isNotNull() & (F.col("full") == 0), F.col("refs")).otherwise(0),
    )
    return per_id.agg(
        *[
            F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(f"n_{c}")
            for c in summed + ["dup_full", "dangling"]
        ]
    )


def write_documents(
    docs: DataFrame, path: str, doc_col: str = "doc", single_file: bool = False
) -> None:
    """K1/K2 writer: one JSON-LD document per row, sharded across text
    files. The reference's single-file write is the 1-partition special
    case (single_file=True — use it for checksummed releases, where part
    boundaries must not depend on the session's partition count); at scale
    documents shard by top-level entity. Filenames are finalized to stable
    names (release artifacts are checksummed by directory content,
    sinks/bdbag.py)."""
    from gtec_etl_spark.sinks.tabular import finalize_deterministic_dir

    # Sorted on the document text: row order within and across part files
    # is then engine-deterministic, not shuffle-arrival order. One file
    # needs only a local sort; more need a global (range-partitioned) one.
    out = docs.select(doc_col)
    if single_file:
        out = out.coalesce(1).sortWithinPartitions(doc_col)
    else:
        out = out.orderBy(doc_col)
    out.write.mode("overwrite").text(path)
    finalize_deterministic_dir(docs.sparkSession, path, "txt")
