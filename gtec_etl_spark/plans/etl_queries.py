"""The reference's declared query set Q1–Q6 (SURVEY.md §2.12), re-expressed
over the normalized relational model.

Mapping of the DATS entity graph onto the test star schema:
  program Dataset → region, study Dataset → nation, StudyGroup → market
  segment, subject Material → customer, sample Material → order,
  extract Material / file Dataset → lineitem, characteristics → customer
  attributes (unpivoted), distributions → part/supplier attributes.

Each query keeps the reference's relational shape (join chain, DISTINCT,
multi-key ORDER BY, parameterization, left-join preservation) documented in
SURVEY.md §2.12; the hand-compiled rdflib join plans are replaced by
Catalyst (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.plans.registry import query


@query(
    "ref_q1_second_level_datasets",
    oracle="""
    SELECT n.n_nationkey AS dataset_id, n.n_name AS dataset_title, r.r_name AS program
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'AMERICA')
    ORDER BY program, dataset_title
    """,
    tags=("refquery",),
)
def ref_q1_second_level_datasets(spark, sf_dir):
    """Q1 list-2nd-level-datasets (sparql_list_2nd_level_datasets.py:34-47):
    filter top-level by title, traverse hasPart, project id+title."""
    t = catalog.load_tables(spark, sf_dir)
    return (
        t["region"]
        .filter(F.col("r_name").isin("ASIA", "AMERICA"))
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n_nationkey").alias("dataset_id"),
            F.col("n_name").alias("dataset_title"),
            F.col("r_name").alias("program"),
        )
        .orderBy("program", "dataset_title")
    )


@query(
    "ref_q2_dataset_variables",
    oracle="""
    SELECT DISTINCT p.p_name AS var_name, p.p_partkey AS var_id
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE n.n_name = 'NATION_3'
    ORDER BY var_name, var_id
    """,
    tags=("refquery",),
)
def ref_q2_dataset_variables(spark, sf_dir):
    """Q2 list-dataset-variables (sparql_list_dataset_variables.py:42-58):
    parameterized by study id (initBindings → a constant-folded filter),
    join chain to the variable dimension, DISTINCT + 2-key ORDER BY.

    Plan shape: fact-first with shuffle_hash hints on the FILTERED
    study chain. The static planner's size estimates had
    it backwards — orders/lineitem pruned to 2 columns land under the
    64 MB broadcast threshold, so it built driver-side hashed relations
    of the FACTS while streaming the ~1/25-selectivity study slice past
    them (fine at sf0.01, a 6M-row broadcast build at sf1, impossible at
    100 TB). The hint pins the build side to the filtered chain — the
    side that is smaller at EVERY scale — without promising it is
    bounded (a forced broadcast would; the study slice is still
    corpus-proportional, so shuffle-hash is the honest strategy).
    Measured sf1 8.95 s -> 3.78 s, sf0.1 1.10 s -> 0.73 s against the
    broadcast-the-facts plan."""
    t = catalog.load_tables(spark, sf_dir)
    study_cust = (
        t["nation"]
        .filter(F.col("n_name") == "NATION_3")
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
        .hint("shuffle_hash")
    )
    study_orders = t["orders"].join(
        study_cust, F.col("o_custkey") == F.col("c_custkey")
    ).hint("shuffle_hash")
    return (
        t["lineitem"]
        .join(study_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("p_name").alias("var_name"), F.col("p_partkey").alias("var_id"))
        .distinct()
        .orderBy("var_name", "var_id")
    )


@query(
    "ref_q3_study_group_members",
    oracle="""
    SELECT r.r_name AS program, n.n_name AS study, c.c_mktsegment AS study_group,
           c.c_custkey AS member_id, c.c_name AS member_name
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA' AND c.c_mktsegment = 'BUILDING'
    ORDER BY study, member_name, member_id
    """,
    tags=("refquery",),
)
def ref_q3_study_group_members(spark, sf_dir):
    """Q3 list-study-group-members (sparql_list_study_group_members.py:47-64):
    two parameters (study set + group name), dataset→group→member join
    chain, 3-key ORDER BY."""
    t = catalog.load_tables(spark, sf_dir)
    return (
        t["region"]
        .filter(F.col("r_name") == "ASIA")
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            F.col("r_name").alias("program"),
            F.col("n_name").alias("study"),
            F.col("c_mktsegment").alias("study_group"),
            F.col("c_custkey").alias("member_id"),
            F.col("c_name").alias("member_name"),
        )
        .orderBy("study", "member_name", "member_id")
    )


@query(
    "ref_q4_subject_characteristics",
    oracle="""
    SELECT DISTINCT c_custkey AS subject_id, char_name, char_value
    FROM (
      SELECT c_custkey, 'mktsegment' AS char_name, c_mktsegment AS char_value FROM customer
      UNION ALL
      SELECT c_custkey, 'acctbal', CAST(round(c_acctbal, 2) AS VARCHAR) FROM customer
      UNION ALL
      SELECT c.c_custkey, 'nation', n.n_name
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    WHERE c_custkey < 200
    ORDER BY subject_id, char_name
    """,
    tags=("refquery",),
)
def ref_q4_subject_characteristics(spark, sf_dir):
    """Q4 subject characteristics (sparql_list_subject_characteristics.py:
    40-57): the characteristics of a material as (name, value) rows —
    an unpivot (stack) + DISTINCT + expression ORDER BY."""
    t = catalog.load_tables(spark, sf_dir)
    cust = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    unpivoted = cust.select(
        "c_custkey",
        F.expr(
            "stack(3, 'mktsegment', c_mktsegment,"
            " 'acctbal', CAST(round(c_acctbal, 2) AS STRING),"
            " 'nation', n_name) AS (char_name, char_value)"
        ),
    )
    return (
        unpivoted.filter(F.col("c_custkey") < 200)
        .select(F.col("c_custkey").alias("subject_id"), "char_name", "char_value")
        .distinct()
        .orderBy("subject_id", "char_name")
    )


@query(
    "ref_q5_subject_sample_chain",
    oracle="""
    SELECT c.c_name AS subject, o.o_orderkey AS sample_id,
           l.l_linenumber AS extract_id, l.l_returnflag AS role
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag IN ('A', 'R') AND c.c_custkey < 100
    ORDER BY subject, sample_id, extract_id, role
    """,
    tags=("refquery",),
)
def ref_q5_subject_sample_chain(spark, sf_dir):
    """Q5 subject⋈sample⋈extract chain (sparql_list_subject_samples.py:
    41-60): the 2-hop derivesFrom traversal with a role-disjunction filter."""
    t = catalog.load_tables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_custkey") < 100)
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["lineitem"].filter(F.col("l_returnflag").isin("A", "R")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("c_name").alias("subject"),
            F.col("o_orderkey").alias("sample_id"),
            F.col("l_linenumber").alias("extract_id"),
            F.col("l_returnflag").alias("role"),
        )
        .orderBy("subject", "sample_id", "extract_id", "role")
    )


@query(
    "ref_q2_all_studies",
    oracle="""
    SELECT DISTINCT n.n_name AS study, p.p_name AS var_name, p.p_partkey AS var_id
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    ORDER BY study, var_name, var_id
    """,
    tags=("refquery",),
)
def ref_q2_all_studies(spark, sf_dir):
    """Q2 WITHOUT the study parameter (the reference times both variants —
    run-sparql-queries-faster.sh:39-44: ~5s unfiltered vs ~1.5s filtered):
    the full study×variable cross-listing.

    Scale shape: the distinct runs on NARROW int keys (nationkey,
    partkey) right after the fact-fact join — the partial (map-side)
    aggregate then dedups 2 ints per row instead of hauling the study and
    variable-name strings through the exchange; the name columns attach
    AFTER dedup via broadcast dimension joins, touching only the ~|nation
    × part| survivors. At 10× data this cut the sf1 ratio from 10.2× to
    ~linear-in-output."""
    t = catalog.load_tables(spark, sf_dir)
    keys = (
        t["customer"]
        .select("c_custkey", "c_nationkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            t["lineitem"].select("l_orderkey", "l_partkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("c_nationkey", "l_partkey")
        .distinct()
    )
    return (
        keys.join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            # part is sf-scaled: no hint — AQE broadcasts at test scale,
            # shuffles at 100 TB (the forced-broadcast audit's class).
            t["part"].select("p_partkey", "p_name"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("n_name").alias("study"),
            F.col("p_name").alias("var_name"),
            F.col("p_partkey").alias("var_id"),
        )
        .orderBy("study", "var_name", "var_id")
    )


TABULAR_DUMP_ORACLE = """
    SELECT r.r_name AS program, n.n_name AS study,
           c.c_custkey AS subject_id, c.c_name AS subject_name,
           c.c_mktsegment AS study_group,
           o.o_orderkey AS sample_id, o.o_orderdate AS sample_date,
           o.o_orderstatus AS sample_status,
           l.l_linenumber AS file_id, p.p_name AS file_type, s.s_name AS producer,
           round(l.l_quantity, 4) AS quantity,
           round(l.l_extendedprice, 4) AS file_size
    FROM customer c
    JOIN nation n      ON n.n_nationkey = c.c_nationkey
    JOIN region r      ON r.r_regionkey = n.n_regionkey
    LEFT JOIN orders o   ON o.o_custkey = c.c_custkey
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    LEFT JOIN part p     ON p.p_partkey = l.l_partkey
    LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ORDER BY program, study, subject_name, sample_id, file_id,
             file_type, producer, quantity, file_size
"""


FULL_DUMP_ORACLE = """
    WITH chars AS (
      PIVOT (
        SELECT c_custkey AS subject_id, char_name, char_value FROM (
          SELECT c_custkey, 'mktsegment' AS char_name, c_mktsegment AS char_value FROM customer
          UNION ALL
          SELECT c_custkey, 'balance_band',
                 CASE WHEN c_acctbal < 0 THEN 'neg'
                      WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END FROM customer
        )
      ) ON char_name USING min(char_value) GROUP BY subject_id
    )
    SELECT r.r_name AS program, n.n_name AS study,
           c.c_custkey AS subject_id, c.c_name AS subject_name,
           ch.mktsegment, ch.balance_band,
           o.o_orderkey AS sample_id, l.l_linenumber AS file_id,
           round(l.l_extendedprice, 4) AS file_size
    FROM customer c
    JOIN nation n  ON n.n_nationkey = c.c_nationkey
    JOIN region r  ON r.r_regionkey = n.n_regionkey
    JOIN chars ch  ON ch.subject_id = c.c_custkey
    LEFT JOIN orders o   ON o.o_custkey = c.c_custkey
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ORDER BY program, study, subject_name, sample_id, file_id, file_size
"""


@query("ref_q6_full_dump", oracle=FULL_DUMP_ORACLE, tags=("refquery", "dump", "dynamic"))
def ref_q6_full_dump(spark, sf_dir):
    """The COMPLETE Q6 shape (rdflib_tabular_dump.py:334-418): the
    denormalizing dump with subject characteristics pivoted into
    data-dependent wide columns (the dynamic pivot the reference builds by
    scanning characteristic names) AND file-less subjects preserved via
    left joins. Composes q32's dynamic pivot with ref_q6's join spine."""
    from gtec_etl_spark.operators.pivot import dynamic_pivot

    t = catalog.load_tables(spark, sf_dir)
    tall = t["customer"].select(
        F.col("c_custkey").alias("subject_id"),
        F.expr(
            "stack(2,"
            " 'mktsegment', c_mktsegment,"
            " 'balance_band', CASE WHEN c_acctbal < 0 THEN 'neg'"
            "   WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END"
            ") AS (char_name, char_value)"
        ),
    )
    chars = dynamic_pivot(tall, ["subject_id"], "char_name", F.min("char_value"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(chars, F.col("subject_id") == F.col("c_custkey"))
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .select(
            F.col("r_name").alias("program"),
            F.col("n_name").alias("study"),
            F.col("c_custkey").alias("subject_id"),
            F.col("c_name").alias("subject_name"),
            "mktsegment",
            "balance_band",
            F.col("o_orderkey").alias("sample_id"),
            F.col("l_linenumber").alias("file_id"),
            F.round("l_extendedprice", 4).alias("file_size"),
        )
        .orderBy(
            "program", "study", "subject_name", "sample_id", "file_id", "file_size"
        )
    )


@query("ref_q6_tabular_dump", oracle=TABULAR_DUMP_ORACLE, tags=("refquery", "dump"))
def ref_q6_tabular_dump(spark, sf_dir):
    """Q6 tabular dump (rdflib_tabular_dump.py:334-418): the full
    denormalization — subject→sample→file chain left-joined so subjects
    without samples/files are preserved, dimension lookups broadcast,
    deterministic multi-key ordering.

    This is the flagship query (entry()). At 100 TB the fact-fact joins
    (orders⋈lineitem) shuffle on the join key once; the fixed-size dims
    (nation/region) are broadcast by hint, while the sf-scaled part and
    supplier lookups carry NO hint — AQE broadcasts them at test scale and
    shuffles at 100 TB; no driver-side materialization happens here — the
    dump is a distributed DataFrame the caller writes out partitioned.
    """
    t = catalog.load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"), "left")
        # part/supplier are sf-scaled: no forced broadcast — AQE picks
        # broadcast at test scale, shuffle at 100 TB from measured size.
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"), "left")
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .select(
            F.col("r_name").alias("program"),
            F.col("n_name").alias("study"),
            F.col("c_custkey").alias("subject_id"),
            F.col("c_name").alias("subject_name"),
            F.col("c_mktsegment").alias("study_group"),
            F.col("o_orderkey").alias("sample_id"),
            F.col("o_orderdate").alias("sample_date"),
            F.col("o_orderstatus").alias("sample_status"),
            F.col("l_linenumber").alias("file_id"),
            F.col("p_name").alias("file_type"),
            F.col("s_name").alias("producer"),
            F.round("l_quantity", 4).alias("quantity"),
            F.round("l_extendedprice", 4).alias("file_size"),
        )
        .orderBy(
            "program", "study", "subject_name", "sample_id", "file_id",
            "file_type", "producer", "quantity", "file_size",
        )
    )


@query(
    "topmed_multi_study_summary",
    oracle="""
    WITH subj AS (
      SELECT c_nationkey AS study_id, CAST(c_custkey AS VARCHAR) AS subject_id,
             c_mktsegment AS consent
      FROM customer WHERE c_nationkey < 20
    ),
    restricted AS (SELECT DISTINCT study_id FROM subj),
    picked AS (
      SELECT consent AS picked_consent FROM subj
      GROUP BY consent ORDER BY count(*) DESC, consent ASC LIMIT 1
    ),
    samp AS (
      SELECT s.study_id, CAST(o.o_orderkey AS VARCHAR) AS sample_id
      FROM orders o JOIN subj s ON CAST(o.o_custkey AS VARCHAR) = s.subject_id
    ),
    ref AS (
      SELECT study_id, count(*) AS n_referenced FROM samp
      WHERE sample_id IN (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) FROM lineitem)
      GROUP BY study_id
    ),
    subj_agg AS (
      SELECT study_id, count(*) AS n_subjects, count(DISTINCT consent) AS n_groups
      FROM subj GROUP BY study_id
    ),
    samp_agg AS (SELECT study_id, count(*) AS n_samples FROM samp GROUP BY study_id)
    SELECT CAST(n.n_nationkey AS BIGINT) AS study_id, n.n_name AS study_name,
      CASE WHEN r.study_id IS NULL THEN 'synthetic' ELSE 'restricted' END AS subject_source,
      CASE WHEN r.study_id IS NULL THEN CAST(1 AS BIGINT) ELSE sa.n_subjects END AS n_subjects,
      CASE WHEN r.study_id IS NULL THEN CAST(1 AS BIGINT) ELSE sa.n_groups END AS n_groups,
      CASE WHEN r.study_id IS NULL THEN CAST(1 AS BIGINT)
           ELSE coalesce(sm.n_samples, 0) END AS n_samples,
      CASE WHEN r.study_id IS NULL THEN CAST(NULL AS BIGINT)
           ELSE coalesce(rf.n_referenced, 0) END AS n_referenced,
      CASE WHEN r.study_id IS NULL THEN (SELECT picked_consent FROM picked)
           ELSE CAST(NULL AS VARCHAR) END AS picked_consent
    FROM nation n
    LEFT JOIN restricted r ON r.study_id = n.n_nationkey
    LEFT JOIN subj_agg sa ON sa.study_id = n.n_nationkey
    LEFT JOIN samp_agg sm ON sm.study_id = n.n_nationkey
    LEFT JOIN ref rf ON rf.study_id = n.n_nationkey
    ORDER BY study_id
    """,
    tags=("refquery", "pipeline"),
)
def topmed_multi_study_summary(spark, sf_dir):
    """TOPMed-style multi-study ETL (bin/topmed_to_dats.py:170-266,337-355)
    run through pipelines.run_multi_study_etl as ONE study_id-partitioned
    job. Studies 20-24 are public-only: they get a synthetic 'SU%07d'
    subject whose consent is the A4 mode pick, and no referenced-samples
    filter; restricted studies get full subject lists, consent StudyGroups
    and the referenced-samples semi-join (file manifest = lineitem)."""
    from gtec_etl_spark import pipelines

    t = catalog.load_tables(spark, sf_dir)
    studies = t["nation"].select(
        F.col("n_nationkey").alias("study_id"), F.col("n_name").alias("study_name")
    )
    subjects = (
        t["customer"]
        .filter(F.col("c_nationkey") < 20)
        .select(
            F.col("c_nationkey").alias("study_id"),
            F.col("c_custkey").cast("string").alias("subject_id"),
            F.col("c_mktsegment").alias("consent"),
        )
    )
    samples = t["orders"].select(
        F.col("o_custkey").cast("string").alias("subject_id"),
        F.col("o_orderkey").cast("string").alias("sample_id"),
    )
    files = t["lineitem"].select(
        F.col("l_orderkey").cast("string").alias("sample_id"),
        F.col("l_linenumber").cast("string").alias("file_id"),
    )
    res = pipelines.run_multi_study_etl(spark, studies, subjects, samples, files)
    return res.summary.orderBy("study_id")
