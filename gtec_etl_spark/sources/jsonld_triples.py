"""Foreign JSON-LD → (s, p, o) triples ingest — closes SURVEY.md §2.1 S16.

The reference parses a DATS JSON-LD document into an RDF graph and answers
queries by triple scans (sparql/v0.7/rdflib_util.py:54-63,
`rdflib.Graph().parse(data=..., format='json-ld')`). The engine's analog is
schema-driven: `spark.read.json` (or `from_json` with a pinned schema)
gives the document a concrete nested struct schema, and `jsonld_to_triples`
walks that schema once at PLAN BUILD TIME into ONE SQL expression of type
`array<struct<s, p, o>>` per document row, which `inline` turns into rows.
Every triple is produced by Catalyst higher-order functions (`transform`,
`flatten`) — no Python UDFs, no recursion at row scope.

Triple semantics (matching rdflib's JSON-LD parsing for the subset the
emitter produces):
- an object's `@id` is its subject; scalar fields become literal triples
  (s, field, value-as-string); `@type` stays a triple with predicate
  `@type`;
- a nested object yields an edge triple (parent, field, child-@id) and its
  own literal triples; `{"@id": ...}`-only references (the emitter's
  first-occurrence-full-then-ref dedup, sinks/jsonld.py) yield ONLY the
  edge — their other fields are null and null literals are dropped, so a
  full+ref pair round-trips to the same graph as two fulls;
- arrays fan out one triple per element; an element that is itself an
  array (JSON-LD @list nesting) flattens with list position encoded in an
  indexed predicate (`grid[0]`, `paths[1][2]`, any depth);
- an object with no `@id` field is a blank node: `_:` + sha256 of its JSON
  serialization — deterministic, unlike rdflib's per-parse bnode labels;
- the result is DISTINCT (s, p, o): an RDF graph is a set of triples.

Scale: one scan of the input and one projection; the flatten is
shuffle-free and row-local, and the final distinct is the one hash
shuffle, on the triple key. The plan is built from SQL text in a single
call, so its cost does not grow with py4j round trips per field.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

from gtec_etl_spark.catalog import read_inferred
from gtec_etl_spark.functions.sqltext import ident, lit

SKIP_FIELDS = ("@id", "@context")
NO_TRIPLES = "cast(array() as array<struct<s:string,p:string,o:string>>)"


def _triple(s: str, p: str, o: str) -> str:
    return f"named_struct('s', {s}, 'p', {p}, 'o', {o})"


def _bnode(node: str) -> str:
    # Blank node: deterministic content-hash label (rdflib invents
    # per-parse labels; a distributed engine needs reproducible ones).
    return f"concat('_:', substring(sha2(to_json({node}), 256), 1, 16))"


def _node(subject: str, node: str, schema: StructType, depth: int, edge: tuple | None) -> str:
    """Triples of the struct `node`: its subject is bound once (a
    one-element `transform`, SQL has no `let`), then the optional edge
    (parent, predicate, subject) and one part per field are concatenated.
    Lambda variables are numbered by depth so nested lambdas never shadow
    the ones their body still reads."""
    b = f"__b{depth}"
    parts = [f"array({_triple(*edge, f'{b}.s')})"] if edge else []
    parts += [
        _value(f"{b}.s", lit(f.name), f"{b}.n.{ident(f.name)}", f.dataType, depth + 1)
        for f in schema.fields
        if f.name not in SKIP_FIELDS
    ]
    bound = f"array(named_struct('s', {subject}, 'n', {node}))"
    return f"flatten(transform({bound}, {b} -> concat({', '.join(parts)})))"


def _value(s: str, p: str, v: str, dtype: DataType, depth: int) -> str:
    """Triples of one field value `v` of subject `s` under predicate `p`.
    Never null — a null array becomes no triples, so one missing field
    cannot null the row's whole `concat`; null scalars and null objects
    give null `o` and are filtered after the flatten."""
    if isinstance(dtype, StructType):
        if "@id" in dtype.fieldNames():
            # Coalesce with a bnode label: after spark.read.json schema merge
            # over a heterogeneous corpus, a document whose nested object omits
            # @id while SIBLINGS at the same path have it gets @id=NULL — rdflib
            # assigns that node a bnode, so the engine must too (a bare
            # field read would drop the parent edge and emit s=NULL literals).
            subject = f"coalesce({v}.`@id`, {_bnode(v)})"
        else:
            subject = _bnode(v)
        return _node(subject, v, dtype, depth, (s, p))
    if isinstance(dtype, ArrayType):
        e, i = f"__e{depth}", f"__i{depth}"
        args = e
        if isinstance(dtype.elementType, ArrayType):
            # @list nesting: position-as-predicate reification.
            args, p = f"({e}, {i})", f"concat({p}, '[', cast({i} as string), ']')"
        inner = _value(s, p, e, dtype.elementType, depth + 1)
        return f"coalesce(flatten(transform({v}, {args} -> {inner})), {NO_TRIPLES})"
    return f"array({_triple(s, p, f'cast({v} as string)')})"


def jsonld_to_triples(docs: DataFrame) -> DataFrame:
    """Flatten a DataFrame of parsed JSON-LD documents (one nested row per
    top-level entity, e.g. from spark.read.json) into a distinct (s, p, o)
    triples DataFrame."""
    schema = docs.schema
    if all(f.name in SKIP_FIELDS for f in schema.fields):
        raise ValueError("document schema has no flattenable fields")
    row = f"struct({', '.join(ident(c) for c in docs.columns)})"
    subject = "`@id`" if "@id" in schema.fieldNames() else _bnode(row)
    expr = _node(subject, row, schema, 0, None)
    return docs.selectExpr(f"inline({expr})").where("s IS NOT NULL AND o IS NOT NULL").distinct()


def triples_from_json_strings(
    docs: DataFrame, doc_col: str, schema: str | StructType
) -> DataFrame:
    """Parse a string column of JSON-LD documents with a pinned schema
    (from_json) and flatten to triples — the zero-I/O path used when the
    documents are already a DataFrame column (e.g. round-tripping the K1
    emitter's output)."""
    parsed = docs.select(F.from_json(F.col(doc_col), schema).alias("__doc")).select(
        "__doc.*"
    )
    return jsonld_to_triples(parsed)


def read_jsonld(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """Load foreign JSON-LD files into triples. spark.read.json merges the
    schema across heterogeneous documents (absent fields are null and drop
    out of the graph), which is what makes this work on documents the
    engine did NOT emit — the reference capability this module supplies.
    A malformed document raises ValueError naming `path` instead of
    becoming a row with a null @id whose triples vanish.

    The schema is inferred once per file version (`catalog.read_inferred`):
    the first read of the files scans every record, and FAILFAST trips in
    that scan, at no extra job. A repeat read of the same files, unchanged
    in length and mtime, reuses the schema and runs no inference job; a
    rewritten file is inferred, and so checked, again."""
    try:
        raw = read_inferred(spark, "json", path, multiLine=multiline, mode="FAILFAST")
    except Py4JJavaError as err:
        cause = str(err.java_exception)
        if "MALFORMED_RECORD_IN_PARSING" not in cause:
            raise
        raise ValueError(f"malformed JSON-LD in {path}: {cause}") from err
    return jsonld_to_triples(raw)
