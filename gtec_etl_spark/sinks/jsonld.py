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

from gtec_etl_spark.functions.sqltext import ident, in_list, lit

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


def content_id_sql(entity_type: str, *natural_key: str) -> str:
    """SQL text of the deterministic @id over the named key columns:
    sha256 over (type, natural key), truncated to 32 hex chars. Replaces
    the reference's uuid4 (SURVEY.md §7.4).

    Null-propagating on purpose (concat, NOT concat_ws): a NULL key
    component yields a NULL id instead of silently vanishing from the
    hash input — concat_ws would give (NULL,'x') and ('x',NULL) the same
    id, merging distinct entities. Matches the SQL-oracle form
    type || chr(31) || key, where any NULL nulls the whole expression."""
    parts = [lit(entity_type)]
    for name in natural_key:
        parts += [lit("\x1f"), f"CAST({ident(name)} AS STRING)"]
    return (
        f"concat({lit(f'dats:{entity_type}/')},"
        f" substring(sha2(concat({', '.join(parts)}), 256), 1, 32))"
    )


def content_id(entity_type: str, *natural_key: str) -> Column:
    """content_id_sql as a Column, built in one call."""
    return F.expr(content_id_sql(entity_type, *natural_key))


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


def sorted_children(sort_key: str, child: str) -> Column:
    """Deterministically ordered child array, as an aggregate over SQL text
    (`sort_key` and `child` are expressions): collect (key, child) pairs,
    sort by key, project the child — the emitter's answer to
    collect_list's nondeterministic order."""
    return F.expr(
        f"transform(array_sort(collect_list(struct({sort_key} AS k, {child} AS v))),"
        " x -> x.v)"
    )


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
#: An entity occurrence in the canonical serialization (see
#: validate_release): a full embed (@id, @type), a full embed whose @id
#: was nulled (the serializer drops null fields, so it starts with @type),
#: and an @id-only reference.
_FULL_RE = r'\{"@id":"([^"]+)","@type":"([^"]+)"'
_IDLESS_RE = r'\{"@type":"[^"]+"'
_REF_RE = r'\{"@id":"([^"]+)"\}'


def _occurrence_sql(kind: str, oid: str, typ: str) -> str:
    """SQL text of one entity occurrence; `oid` and `typ` are SQL text."""
    return f"named_struct('kind', {lit(kind)}, 'id', {oid}, 'typ', {typ})"


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
    empty one.

    Every expression is compiled to SQL text, one string per DataFrame
    step (selectExpr, or F.expr in an aggregate): building the plan takes
    ~110 py4j round trips instead of ~1,600 for the same Column tree."""
    doc, none = ident(doc_col), lit(None)
    full, idless, ref = (lit(r) for r in (_FULL_RE, _IDLESS_RE, _REF_RE))
    occurrences = (
        f"concat(zip_with(regexp_extract_all({doc}, {full}, 1),"
        f" regexp_extract_all({doc}, {full}, 2),"
        f" (i, t) -> {_occurrence_sql('full', 'i', 't')}),"
        f" transform(regexp_extract_all({doc}, {idless}, 0),"
        f" x -> {_occurrence_sql('full', none, none)}),"
        f" transform(regexp_extract_all({doc}, {ref}, 1),"
        f" i -> {_occurrence_sql('ref', 'i', none)}))"
    )
    # The marker's typ is the FAILFAST parse's root @type. No counter reads
    # a marker's typ, but referencing the parse keeps it in the plan:
    # pruned, malformed JSON would pass instead of aborting the release.
    parsed = f"from_json({doc}, {lit(RELEASE_DOC_SCHEMA)}, map('mode', 'FAILFAST'))"
    marker = _occurrence_sql("doc", none, f"{parsed}.`@type`")
    # docno is numbered before the inline: in the same select, Spark would
    # number the generated rows instead of the documents.
    occ = docs.selectExpr("monotonically_increasing_id() AS docno", doc).selectExpr(
        "docno",
        f"inline(concat(array({marker}),"
        f" coalesce({occurrences}, CAST(array() AS {_OCCURRENCES}))))",
    )

    is_full = "kind = 'full'"
    bad_id = (
        f"kind != 'doc' AND (id IS NULL OR NOT (id RLIKE {lit(_ID_RE)})"
        f" OR ({is_full} AND regexp_extract(id, '^dats:([A-Za-z]+)/', 1) != typ))"
    )
    unknown_type = (
        f"{is_full} AND typ IS NOT NULL AND NOT {in_list('typ', sorted(DATS_TYPES))}"
    )
    # Hash-partitioned by @id alone, so neither aggregate below (per
    # (@id, document), then per @id) needs a shuffle of its own.
    counted = {
        "docs": "kind = 'doc'",
        "full": is_full,
        "refs": "kind = 'ref'",
        "unknown_type": unknown_type,
        "bad_id": bad_id,
    }
    per_doc = (
        occ.repartition("id")
        .groupBy("id", "docno")
        .agg(*[F.expr(f"count_if({c}) AS {ident(n)}") for n, c in counted.items()])
    )
    per_id = per_doc.groupBy("id").agg(
        *[F.expr(f"sum({ident(n)}) AS {ident(n)}") for n in counted],
        # per-document scope: the reference's DatsObjCache dedups within
        # one emitted document
        F.expr("count_if(id IS NOT NULL AND `full` > 1) AS dup_full"),
    )
    # global scope: a ref is dangling when no document embeds its @id full
    totals = {n: ident(n) for n in [*counted, "dup_full"]}
    totals["dangling"] = "CASE WHEN id IS NOT NULL AND `full` = 0 THEN refs ELSE 0 END"
    return per_id.selectExpr(
        *[f"CAST(coalesce(sum({e}), 0) AS BIGINT) AS n_{n}" for n, e in totals.items()]
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
