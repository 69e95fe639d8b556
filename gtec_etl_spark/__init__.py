"""gtec_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the dcppc-phosphorous/GTEC-ETL reference.

Architecture (see SURVEY.md §7):
  - Normalized relational core: entities and edges as DataFrames; the
    reference's JSON-LD document / RDF triple views are serializations
    produced at the edges.
  - Everything expressible as native Spark SQL expressions stays JVM-side
    (whole-stage codegen); Arrow-batched pandas functions only for
    genuinely non-relational work (per-block vector scoring, custom
    streaming state).
  - Declared-schema sources with a constraint layer (regex / CV / decode /
    nullability / dup-PK / dangling-FK) returning violation DataFrames.
  - Query layer registered in `gtec_etl_spark.plans` — each query ships a
    DataFrame implementation and a DuckDB-runnable ANSI-SQL oracle.
"""

__version__ = "0.1.0"
