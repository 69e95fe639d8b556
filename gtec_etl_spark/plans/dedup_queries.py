"""Deduplication query pack over the documents table (build charter M6).

Every operator is oracle-checked: the hashing is deterministic and
engine-portable (functions/hashing.py), so the DuckDB oracle reproduces the
exact MinHash permutations / SimHash bits / Jaccard arithmetic. Oracle SQL
for the hash-heavy queries is generated programmatically so both engines
share identical literals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.functions.hashing import (
    MINHASH_P,
    hash60,
    hash60_sql,
    minhash_params,
)
from gtec_etl_spark.operators import dedup as D
from gtec_etl_spark.plans.registry import query

# Shared oracle CTEs: distinct word 3-gram shingles per document.
SHINGLES_CTE = """
    words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM words),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx)
"""


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 100 = 7
    )
    SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
           count(*) AS n_docs, min(doc_id) AS canonical_id
    FROM corpus
    GROUP BY 1 HAVING count(*) > 1
    ORDER BY fingerprint
    """,
    tags=("dedup",),
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: groupBy on a 128-bit hash of normalized text. One
    shuffle on a uniform key; at 100 TB this is the cheapest dedup pass and
    runs first to shrink the corpus for the near-dup passes.

    The scanned corpus is the documents table plus a deterministic
    re-ingest of the doc_id % 100 == 7 slice under offset ids — the
    double-delivery every real crawl/ingest produces. Planted because the
    raw fixture has zero exact-duplicate texts below sf0.1, which left
    this gate checking an always-empty result (the vacuous-gate class,
    VERDICT r8 #3); with the replay the detector is exercised on 5/5/58
    real duplicate groups at sf0.001/0.01/0.1. The operator under test
    (D.exact_dup_groups) is unchanged."""
    docs = catalog.table(spark, sf_dir, "documents").select("doc_id", "text")
    replay = docs.filter(F.col("doc_id") % 100 == 7).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return D.exact_dup_groups(docs.unionByName(replay)).orderBy("fingerprint")


@query(
    "dedup_apply_keep_canonical",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint
      FROM documents
    ),
    canon AS (SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint)
    SELECT count(*) AS n_surviving,
           (SELECT count(*) FROM documents) - count(*) AS n_removed,
           min(f.doc_id) AS min_kept, max(f.doc_id) AS max_kept
    FROM fp f JOIN canon c ON c.fingerprint = f.fingerprint AND c.keep_id = f.doc_id
    """,
    tags=("dedup", "apply"),
)
def dedup_apply_keep_canonical(spark, sf_dir):
    """The dedup APPLICATION (not just detection): keep the canonical
    (min-id) document per exact-content group, drop the rest — the pass a
    training pipeline actually runs. One fingerprint groupBy picks
    canonicals; the corpus self-joins on (fingerprint, id) to filter. At
    100 TB this is two shuffles on the fingerprint hash, no driver state."""
    docs = catalog.table(spark, sf_dir, "documents")
    from gtec_etl_spark.operators.dedup import normalized_text

    fp = docs.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fingerprint"))
    canon = (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"))
        .withColumnRenamed("fingerprint", "canon_fp")
    )
    surviving = fp.join(
        canon,
        (fp["fingerprint"] == canon["canon_fp"]) & (fp["doc_id"] == canon["keep_id"]),
    ).select(fp["doc_id"])
    # Corpus total carried IN the plan (1-row aggregate broadcast
    # crossJoin) — an eager docs.count() here would run a full scan job
    # every time the query is merely constructed.
    total = docs.agg(F.count(F.lit(1)).alias("__total"))
    return (
        surviving.agg(
            F.count(F.lit(1)).alias("n_surviving"),
            F.min("doc_id").alias("min_kept"),
            F.max("doc_id").alias("max_kept"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "n_surviving",
            (F.col("__total") - F.col("n_surviving")).alias("n_removed"),
            "min_kept",
            "max_kept",
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup, EXACT variant: inverted shingle index →
    shared-shingle equi-join candidates → exact |∩|/|∪| ≥ 0.8. Never an
    all-pairs cross join, but the candidate join is uncapped — at 100 TB
    use dedup_ngram_jaccard_capped, which bounds per-shingle fan-out."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    return D.jaccard_pairs(sh, min_jaccard=0.8).orderBy("doc_a", "doc_b")


# Skew cap: drop shingles present in > max(20, 10% of corpus) documents
# before candidate generation. 10% is far above any shingle that carries
# similarity signal and far below the hot stopword-run shingles that drive
# O(df^2) pair blowup; the floor keeps tiny corpora uncapped.
CAP_FRAC, CAP_FLOOR = 0.10, 20


@query(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH {SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
    capped AS (
      SELECT sh.doc_id, sh.shingle FROM sh
      JOIN df USING (shingle) CROSS JOIN nd
      WHERE df.df <= greatest({CAP_FLOOR}, {CAP_FRAC} * nd.n_docs)
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "scale"),
)
def dedup_ngram_jaccard_capped(spark, sf_dir):
    """n-gram Jaccard near-dup, SCALE variant: identical to
    dedup_ngram_jaccard but ultra-frequent shingles (df > max(20, 10% of
    corpus), threshold computed inside the plan) are dropped before
    candidate generation, bounding per-key fan-out — the O(df^2) hot
    shingle is the one scale-killer of the exact variant at 100 TB.
    Candidates come from posting lists (one groupBy builds index + df,
    pairs stream from a two-level explode), not an inverted-index
    self-join: two fewer shuffles of the shingle table, so the scale
    variant is also the CHEAPER one (see jaccard_pairs_capped_posting).
    The reported jaccard is a lower bound (capped shingles leave the
    intersection but not the set sizes); pairs supported ONLY by
    stopword-like shingles are the ones dropped."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    return D.jaccard_pairs_capped_posting(
        sh, CAP_FRAC, CAP_FLOOR, min_jaccard=0.8
    ).orderBy("doc_a", "doc_b")


CONT_TAU = 0.9

_TRUNC_SQL = (
    "array_to_string(string_split(text, ' ')"
    "[1:greatest(3, len(string_split(text, ' '))//2)], ' ')"
)


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, {_TRUNC_SQL} AS text
      FROM documents WHERE doc_id % 50 = 3
    ),
    words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM corpus),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM words),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
    capped AS (
      SELECT sh.doc_id, sh.shingle FROM sh
      JOIN df USING (shingle) CROSS JOIN nd
      WHERE df.df <= greatest({CAP_FLOOR}, {CAP_FRAC} * nd.n_docs)
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT doc_a AS doc_sub, doc_b AS doc_sup, n_common,
             CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
      UNION ALL
      SELECT doc_b AS doc_sub, doc_a AS doc_sup, n_common,
             CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment
      FROM inter JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_sub, doc_sup, n_common, round(containment, 4) AS containment
    FROM directed WHERE containment >= {CONT_TAU}
    ORDER BY doc_sub, doc_sup
    """,
    tags=("dedup", "scale"),
)
def dedup_ngram_containment(spark, sf_dir):
    """DIRECTED n-gram containment near-dup: |A ∩ B| / |A| ≥ {CONT_TAU} —
    the asymmetric measure that catches a SHORT document embedded in a
    LONG one (quote extraction, truncated re-crawls, chunk-of-doc
    leakage), which Jaccard structurally misses because the union is
    dominated by the long side. Candidates come from the SAME df-capped
    posting-list generator as dedup_ngram_jaccard_capped (one
    intersection pass feeds both directions — n_common is symmetric),
    so the 100 TB posture is identical: no all-pairs join, hot-shingle
    fan-out bounded by the in-plan df cap.

    The scanned corpus plants the asymmetric case the raw fixture lacks
    (the vacuous-gate discipline, VERDICT r8 #3): a deterministic
    re-ingest of the doc_id % 50 == 3 slice TRUNCATED to its first
    max(3, n/2) words under offset ids — every truncated doc's shingle
    set is a strict prefix subset of its original's, so containment
    (truncated → original) is exactly 1.0 while the reverse direction
    and the Jaccard stay well below threshold.

    Parity: one double divide of two exact int64 casts, mirrored
    literally in the oracle; the truncation arithmetic is pure integer
    (len // 2) in both engines."""
    docs = catalog.table(spark, sf_dir, "documents").select("doc_id", "text")
    trunc = docs.filter(F.col("doc_id") % 50 == 3).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(
                F.split(F.col("text"), " "),
                1,
                F.greatest(
                    F.lit(3),
                    F.expr("size(split(text, ' ')) div 2").cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    sh = D.word_shingles(docs.unionAll(trunc), 3)
    return D.containment_pairs_capped_posting(
        sh, CAP_FRAC, CAP_FLOOR, min_containment=CONT_TAU
    ).orderBy("doc_sub", "doc_sup")


def _minhash_ctes(num_hashes: int, bands: int) -> str:
    """Shared CTE chain ending in a `pairs` CTE of LSH candidate pairs —
    used by both the pair-listing oracle and the recursive-CTE clustering
    oracle so the two stay literally identical upstream."""
    rows = num_hashes // bands
    params = minhash_params(num_hashes)
    hb = hash60_sql("shingle")
    mins = ",\n           ".join(
        f"min(({a} * (hb % {MINHASH_P}) + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_arms = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {k} AS band, concat({cols}) AS sig FROM sig".format(
            k=k,
            cols=", '-', ".join(f"mh{k * rows + r}" for r in range(rows)),
        )
        for k in range(bands)
    )
    return f"""{SHINGLES_CTE},
    h AS (SELECT doc_id, {hb} AS hb FROM sh),
    sig AS (SELECT doc_id,
           {mins}
      FROM h GROUP BY doc_id),
    banded AS (
{band_arms}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands_matched
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def _minhash_oracle(num_hashes: int, bands: int) -> str:
    return f"""
    WITH {_minhash_ctes(num_hashes, bands)}
    SELECT doc_a, doc_b, n_bands_matched FROM pairs
    ORDER BY doc_a, doc_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle(16, 4), tags=("dedup",))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding (16 permutations, 4 bands × 4 rows): the
    sub-quadratic near-dup path. Signature build is one groupBy with 16
    partial-agg min expressions; candidates come from a (band, signature)
    equi-join — at 100 TB this is a shuffle on a well-distributed 4-row
    signature, never a cross join. Deterministic universal hashing makes it
    oracle-checkable (functions/hashing.py)."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    return D.lsh_candidate_pairs(sigs, 16, 4).orderBy("doc_a", "doc_b")


def _cc_oracle(num_hashes: int, bands: int) -> str:
    return f"""
    WITH RECURSIVE {_minhash_ctes(num_hashes, bands)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_id FROM documents),
    reach AS (
      SELECT doc_id, doc_id AS rep FROM nodes
      UNION
      SELECT e.b AS doc_id, r.rep FROM reach r JOIN edges e ON e.a = r.doc_id
    )
    SELECT doc_id, min(rep) AS component FROM reach
    GROUP BY doc_id ORDER BY doc_id
    """


_INCREMENTAL_ORACLE = f"""
    WITH {_minhash_ctes(16, 4)},
    inc AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS index_doc,
             count(*) AS n_bands_matched
      FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
      GROUP BY 1, 2
    )
    SELECT new_doc, index_doc, n_bands_matched FROM inc
    ORDER BY new_doc, index_doc
    """


@query("dedup_incremental_batch", oracle=_INCREMENTAL_ORACLE, tags=("dedup", "scale"))
def dedup_incremental_batch(spark, sf_dir):
    """INCREMENTAL near-dedup — the production ingest mode: a new crawl
    batch (here docs with doc_id % 10 = 7) is checked against the
    already-indexed corpus (everything else), emitting (new_doc,
    index_doc) MinHash-LSH candidates. The corpus side's banded
    signatures are a build-once artifact (persist + bucket by (band,
    sig) at scale), so each ingest costs O(batch + matched buckets) —
    never re-shuffling the 100 TB index. Same 16-perm 4-band geometry and
    the same signature pipeline as dedup_minhash_lsh; batch-internal
    pairs are intentionally excluded (they're the batch's own
    lsh_candidate_pairs run)."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    batch = sigs.filter(F.col("doc_id") % 10 == 7)
    index = sigs.filter(F.col("doc_id") % 10 != 7)
    return D.lsh_pairs_against_index(batch, index, 16, 4).orderBy(
        "new_doc", "index_doc"
    )


_INCREMENTAL_APPLY_ORACLE = f"""
    WITH {_minhash_ctes(16, 4)},
    matched AS (
      SELECT DISTINCT a.doc_id AS new_doc
      FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
    ),
    batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7)
    SELECT count(*) AS n_batch,
           CAST(count(*) - (SELECT count(*) FROM matched) AS BIGINT)
             AS n_admitted,
           (SELECT count(*) FROM matched) AS n_rejected,
           (SELECT min(doc_id) FROM batch
            WHERE doc_id NOT IN (SELECT new_doc FROM matched))
             AS min_admitted_doc
    FROM batch
    """


@query(
    "dedup_incremental_apply",
    oracle=_INCREMENTAL_APPLY_ORACLE,
    tags=("dedup", "apply", "scale"),
)
def dedup_incremental_apply(spark, sf_dir):
    """The incremental-ingest APPLICATION: admit only the new-batch docs
    with no MinHash-LSH candidate in the indexed corpus (anti-join on
    dedup_incremental_batch's match set) — the admission filter a crawl
    pipeline runs before appending to the training corpus. Per-batch
    cost is the batch's signatures + one equi-join against the persisted
    index bands + one flagged join, summarized to admission counters (the
    reference's found/not-found counter idiom, A7) in a SINGLE
    aggregation: a separate count branch per counter would re-plan the
    whole LSH lineage once per branch (Catalyst does not reuse exchanges
    across the branches — the measured DSIR lesson, PERF.md round 6), so
    the batch left-joins the match set with a flag and every counter is a
    conditional aggregate of the one pass."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    batch_sigs = sigs.filter(F.col("doc_id") % 10 == 7)
    index_sigs = sigs.filter(F.col("doc_id") % 10 != 7)
    matched = (
        D.lsh_pairs_against_index(batch_sigs, index_sigs, 16, 4)
        .select("new_doc")
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 10 == 7).select("doc_id")
    # matched's new_doc values all come from the batch (they are batch-side
    # doc_ids of LSH pairs), so a flagged left join partitions the batch
    # exactly into admitted (flag null) and rejected (flag set).
    flagged = batch.join(
        matched.select(F.col("new_doc").alias("doc_id"), F.lit(1).alias("__m")),
        "doc_id",
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.when(F.col("__m").isNull(), 1).otherwise(0)).alias("n_admitted"),
        F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0)).alias(
            "n_rejected"
        ),
        F.min(F.when(F.col("__m").isNull(), F.col("doc_id"))).alias(
            "min_admitted_doc"
        ),
    ).select("n_batch", "n_admitted", "n_rejected", "min_admitted_doc")


@query("dedup_clusters_cc", oracle=_cc_oracle(16, 4), tags=("dedup", "scale"))
def dedup_clusters_cc(spark, sf_dir):
    """Dedup CLUSTERING: connected components over the MinHash-LSH pair
    graph, so transitive near-dups (A~B, B~C) collapse into one cluster
    with component = min doc_id — the step between pair detection and
    canonical-pick that production dedup pipelines run. Spark side is
    min-label propagation (join + groupBy-min per round, fixpoint when no
    label moves — near-dup clusters are near-cliques, so 2-3 rounds);
    oracle side is the equivalent recursive-CTE reachability fixpoint over
    the SAME pair CTEs as dedup_minhash_lsh."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    pairs = D.lsh_candidate_pairs(sigs, 16, 4)
    nodes = docs.select("doc_id")
    return D.connected_components(nodes, pairs).orderBy("doc_id")


def _simhash_oracle(bits: int, max_hamming: int, chunks: int, chunk_bits: int) -> str:
    hb = hash60_sql("token")
    sums = ",\n           ".join(
        f"sum(CASE WHEN (hb >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)" for j in range(bits)
    )
    mask = (1 << chunk_bits) - 1
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    h AS (SELECT doc_id, {hb} AS hb FROM tok),
    sums AS (SELECT doc_id,
           {sums}
      FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, {assemble} AS simhash FROM sums),
    chunked AS (
      SELECT doc_id, simhash, k AS chunk, (simhash >> ({chunk_bits} * k)) & {mask} AS ckey
      FROM sig CROSS JOIN (SELECT unnest([{",".join(str(k) for k in range(chunks))}]) AS k) ks
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunked a
    JOIN chunked b ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


@query("dedup_simhash", oracle=_simhash_oracle(60, 3, 4, 15), tags=("dedup",))
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 60-bit signature (±1 vote per token-hash bit),
    exact chunk-PAIR blocking (5×12-bit chunks: hamming ≤ 3 touches ≤ 3
    chunks ⇒ ≥ 2 chunks identical ⇒ ≥ 1 identical chunk pair —
    pigeonhole-exact, not heuristic), exact hamming verify via
    bit_count(xor). Blocking strategy is internal to the engine; the
    oracle blocks on single 15-bit chunks of the SAME signatures and the
    output pair set is identical by exactness of both blockings.

    Pair blocking (r14) replaced 4×15-bit single-chunk blocking after a
    measured superlinear second decade (sf1→sf10 ratio 18.3 — a single
    chunk's 2^15-key space is FIXED, so bucket occupancy grows linearly
    with unique signatures and candidate pairs quadratically); the
    chunk-pair key space is 2^24 per C(5,2)=10 families, cutting the
    quadratic coefficient ~200× for a 2.5× linear input. See
    operators/dedup.py:simhash_near_pairs."""
    from gtec_etl_spark.operators.scale import cpu_fanout_repartition

    docs = cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents"), "doc_id"
    )
    tokens = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("token")
    )
    sigs = D.simhash_signatures(tokens, 60)
    return D.simhash_near_pairs(sigs, 3, 5, 12).orderBy("doc_a", "doc_b")


def _qdot_sql(a: str, b: str) -> str:
    # Exact INTEGER dot over pre-quantized BIGINT micros lists: each
    # product <= (2.5e5)^2 ~ 6.25e10 and the 64-term sum <= ~4e12, both
    # inside BIGINT — no float order-dependence anywhere in the dot.
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


_QE_SQL = (
    "list_transform(embedding,"
    " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
)

# Denominator op order mirrors the Arrow kernel exactly:
# double(na2_a) * double(na2_b), THEN one sqrt — NOT sqrt(a)*sqrt(b),
# which differs in the last ulp. Numerator BIGINT dot casts to double
# exactly (< 2^53).
_QCOS_SQL = (
    f"({_qdot_sql('a.qe', 'b.qe')} /"
    f" sqrt(CAST(a.na2 AS DOUBLE) * CAST(b.na2 AS DOUBLE)))"
)

EMB_COSINE_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, {_QE_SQL} AS qe FROM embeddings
    ), n AS (
      SELECT vec_id, label, qe, {_qdot_sql('qe', 'qe')} AS na2 FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_QCOS_SQL}, 4) AS cosine
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_QCOS_SQL} >= 0.4
    ORDER BY vec_a, vec_b
"""


@query("dedup_embedding_cosine", oracle=EMB_COSINE_ORACLE, tags=("dedup", "similarity"))
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup with IVF-style blocking: candidate pairs
    share a cluster label, exact cosine ≥ 0.4 verifies.

    The quadratic within-block kernel runs as ONE Arrow-batched numpy pass
    per block (applyInPandas), not a self-join: a self-join materializes
    block² rows and re-evaluates a 64-term expression fold per pair, which
    measured 72x wall time for 10x data (BENCH_sf1) as blocks grew.

    Round 9: the kernel's gram slab is ONE BLAS matmul under the
    suite-wide quantization discipline (embeddings → integer micros in
    BOTH engines) instead of 64 sequential outer-product passes that
    mirrored a float fold's add order. Every dot product and partial sum
    is an integer < 2^53 (|micros| <= ~2.5e5, 64-term dot <= ~4e12), so
    float64 dgemm reproduces it bit-exactly in ANY summation order; the
    cosine tail (double multiply of the two exact norms², one sqrt, one
    divide) is the same IEEE op sequence the oracle spells out, so the
    >= 0.4 threshold and the 4-dp rounding compare identical doubles
    cross-engine. Measured: 64 slab passes → 1 dgemm ≈ the whole
    kernel's cost at sf1. At 100 TB the remaining requirement is
    bounded block size — labels must come from a clustering sized
    ~sqrt(n) (IVF), which keeps this kernel's block² term constant per
    block while block COUNT scales out."""
    import numpy as np
    import pandas as pd

    emb = catalog.table(spark, sf_dir, "embeddings").withColumn(
        "qe", D.quantize_micros(F.col("embedding"))
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["qe"].to_numpy()[order]).astype(np.float64)
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        na2 = np.einsum("ij,ij->i", M, M)  # exact: integer-valued < 2^53
        chunk = 1024  # bounds the gram slab to chunk*n float64s
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            G = M[lo:hi] @ M.T  # exact integer dots in float64
            cos = G / np.sqrt(np.outer(na2[lo:hi], na2))
            ai, bj = np.nonzero(cos >= 0.4)
            keep = ids[lo + ai] < ids[bj]  # upper triangle by vec_id
            out_a.append(ids[lo + ai[keep]])
            out_b.append(ids[bj[keep]])
            out_c.append(cos[ai[keep], bj[keep]])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype),
                "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype),
                "cosine_exact": np.concatenate(out_c) if out_c else np.array([]),
            }
        )

    pairs = emb.select("vec_id", "label", "qe").groupBy("label").applyInPandas(
        block_pairs, "vec_a long, vec_b long, cosine_exact double"
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine_exact", 4).alias("cosine")
    ).orderBy("vec_a", "vec_b")


# ---------------------------------------------------------------------------
# Exact substring-duplication spans (Lee et al. 2022 k-gram family)
# ---------------------------------------------------------------------------

SUBSTR_K = 8

# Shared oracle CTE chain ending in `spans` (doc_id, g, s, e): the
# positioned k-gram windows, cross-doc dup marking, and gaps-and-islands
# span merge — used by both the detection report and the apply pass.
_SUBSTR_SPAN_CTES = f"""
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    wins AS (
      SELECT doc_id, i - 1 AS p,
             {hash60_sql(f"array_to_string(list_slice(w, i, i + {SUBSTR_K - 1}), ' ')")} AS wh
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {SUBSTR_K - 1})) AS i
            FROM words WHERE len(w) >= {SUBSTR_K})
    ),
    dup AS (
      SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
    ),
    hit AS (SELECT doc_id, p FROM wins WHERE wh IN (SELECT wh FROM dup)),
    isl AS (
      SELECT doc_id, p,
             CASE WHEN max(p + {SUBSTR_K}) OVER (
                    PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR p > max(p + {SUBSTR_K}) OVER (
                    PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) THEN 1 ELSE 0 END AS new_span
      FROM hit
    ),
    grp AS (
      SELECT doc_id, p,
             sum(new_span) OVER (
               PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING
             ) AS g
      FROM isl
    ),
    spans AS (
      SELECT doc_id, g, min(p) AS s, max(p) + {SUBSTR_K} AS e
      FROM grp GROUP BY doc_id, g
    )
"""


@query(
    "dedup_substring_spans",
    oracle=_SUBSTR_SPAN_CTES
    + f"""
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_spans,
           CAST(sum(e - s) AS BIGINT) AS n_dup_tokens,
           CAST(len(any_value(w.w)) AS BIGINT) AS n_words,
           CAST(CAST(sum(e - s) AS BIGINT) * 10000
                // len(any_value(w.w)) AS BIGINT) AS dup_frac_bp
    FROM spans s JOIN words w ON w.doc_id = s.doc_id
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    tags=("dedup", "scale"),
)
def dedup_substring_spans(spark, sf_dir):
    """EXACT substring-duplication report — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better") k-gram
    family, the one dedup mode the approximate family (minhash/simhash/
    Jaccard) cannot express: for every document, the maximal token spans
    whose {SUBSTR_K}-token windows each occur verbatim in at least one
    other document, merged via gaps-and-islands and summarized as span
    count / duplicated-token count / duplicated fraction (exact integer
    basis points). Production runs use ~50-token windows; {SUBSTR_K}
    exercises the synthetic corpus.

    Scale design (operators/dedup.py:duplicated_spans): nothing pairwise —
    a phrase shared by a million docs costs one aggregate row plus marker
    rows, never O(n^2) pairs, so unlike the Jaccard family no df cap is
    needed; shuffles key on the uniform window hash and doc_id, and the
    island merge is one doc-keyed window pass. The whole report is a
    Catalyst plan: window explode -> hash -> dup-mark groupBy -> semi-join
    -> running-max island merge -> per-doc aggregate."""
    docs = catalog.table(spark, sf_dir, "documents")
    spans = D.duplicated_spans(docs, SUBSTR_K)
    n_words = docs.select(
        "doc_id", F.size(F.split(F.lower(F.col("text")), " ")).alias("n_words")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("n_dup_tokens"),
    )
    return (
        per_doc.join(n_words, "doc_id")
        .select(
            "doc_id",
            "n_dup_spans",
            "n_dup_tokens",
            F.col("n_words").cast("long").alias("n_words"),
            F.expr("CAST(n_dup_tokens * 10000 div n_words AS BIGINT)").alias(
                "dup_frac_bp"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_substring_apply",
    oracle=_SUBSTR_SPAN_CTES
    + """
    , toks AS (
      SELECT doc_id, i - 1 AS p, w[i] AS tok
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            FROM words)
    ),
    clean AS (
      SELECT t.doc_id, t.p, t.tok FROM toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND t.p >= s.s AND t.p < s.e
      )
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) - count(c.tok) AS BIGINT) AS n_removed,
           coalesce(
             array_to_string(list(c.tok ORDER BY t.p) FILTER (c.tok IS NOT NULL), ' '),
             ''
           ) AS clean_text
    FROM toks t
    LEFT JOIN clean c ON c.doc_id = t.doc_id AND c.p = t.p
    WHERE t.doc_id < 200
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("dedup", "apply", "scale"),
)
def dedup_substring_apply(spark, sf_dir):
    """The substring-dedup APPLICATION: strip every cross-doc duplicated
    span (dedup_substring_spans' merged maximal spans) from every document
    and rebuild the cleaned text — the remove-duplicated-text pass of the
    Lee-et-al pipeline (this is the remove-ALL-copies variant; picking one
    canonical surviving occurrence is a policy layered on the same spans).
    Spans are detected over the WHOLE corpus; the doc_id < 200 filter only
    bounds the output surface.

    Plan: positioned tokens LEFT ANTI JOIN the span table on doc equality
    plus position-in-range — spans per doc are few and disjoint (tested),
    so the join keys on the uniform doc_id with a residual range
    predicate — then one groupBy(doc) rebuilds text via sorted
    collect_list. Shuffles key on doc_id only; at 100 TB the rebuild is
    the same shape as the K1 document emitters (grouped sorted
    reassembly)."""
    docs = catalog.table(spark, sf_dir, "documents")
    spans = D.duplicated_spans(docs, SUBSTR_K)
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("p", "tok")
    )
    sp = spans.select(
        F.col("doc_id").alias("s_doc"), "span_start", "span_end"
    )
    clean = toks.join(
        sp,
        (F.col("doc_id") == F.col("s_doc"))
        & (F.col("p") >= F.col("span_start"))
        & (F.col("p") < F.col("span_end")),
        "left_anti",
    )
    totals = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    rebuilt = (
        clean.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_clean"),
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        totals.filter(F.col("doc_id") < 200)
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_clean"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


CHUNK_W = 8          # words per non-overlapping chunk ("paragraph")


@query(
    "dedup_paragraph_chunks",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, i - 1 AS ci,
             array_to_string(
               w[(i - 1) * {CHUNK_W} + 1 : i * {CHUNK_W}], ' '
             ) AS chunk
      FROM (
        SELECT doc_id, w,
               unnest(generate_series(
                 1, CAST(ceil(len(w) / {CHUNK_W}.0) AS INT))) AS i
        FROM w
      )
    ),
    firsts AS (
      SELECT chunk, min(ROW(doc_id, ci)) AS first_key
      FROM c GROUP BY chunk
    ),
    k AS (
      SELECT c.doc_id, c.ci, c.chunk,
             (ROW(c.doc_id, c.ci) = f.first_key) AS kept
      FROM c JOIN firsts f ON f.chunk = c.chunk
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(string_agg(chunk, ' ' ORDER BY ci) FILTER (kept)) AS new_fp,
           CAST(len(string_agg(chunk, ' ' ORDER BY ci) FILTER (kept))
                AS BIGINT) AS new_n_chars
    FROM k GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("dedup", "apply", "scale"),
)
def dedup_paragraph_chunks(spark, sf_dir):
    """Corpus-wide paragraph-level exact dedup with keep-first semantics
    (the CCNet / MassiveText paragraph pass, on {CHUNK_W}-word
    non-overlapping chunks since this corpus has no newlines): every
    chunk instance except the globally-first occurrence (lexicographic
    min over struct(doc_id, position) — NOT an integer packing, whose
    fixed multiplier silently collides keys across documents the day a
    document exceeds it) is dropped, and each
    document is rebuilt from its surviving chunks in order — emitting
    per-doc chunk counts plus the rebuilt text's fingerprint/length.
    Completes the dedup family's granularity ladder: document
    (dedup_exact), overlapping span (dedup_substring_*), and
    non-overlapping paragraph (this).

    Plan shape: chunking is SHUFFLE-FREE — transform over
    sequence(0, ceil(n/{CHUNK_W})-1) slices the word array map-side, no
    explode-then-groupBy reassembly. Then one groupBy(chunk) with
    map-side partial min (no sort, unlike a window over chunk — a
    boilerplate chunk shared by a million docs would put them all in one
    window partition), a join back on chunk (same key → exchange reuse;
    a hot chunk is AQE-skew-join territory), and one groupBy(doc_id)
    rebuild. Three shuffles total at any corpus size.

    No reference counterpart — LLM-pipeline extension per the brief
    (Rae et al. 2021 §A1.2; Wenzek et al. CCNet §3)."""
    docs = D.cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents")
    )
    words = F.split(F.col("text"), " ")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(words) / F.lit(CHUNK_W)).cast("int") - 1,
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i * CHUNK_W + 1, CHUNK_W)
                ),
            )
        ).alias("ci", "chunk"),
    )
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col("doc_id"), F.col("ci"))).alias("first_key")
    )
    k = chunks.join(firsts, "chunk").withColumn(
        "kept",
        F.struct(F.col("doc_id"), F.col("ci")) == F.col("first_key"),
    )
    kept_pairs = F.array_sort(
        F.collect_list(
            F.when(F.col("kept"), F.struct(F.col("ci"), F.col("chunk")))
        )
    )
    rebuilt = F.concat_ws(" ", F.transform(F.col("__kp"), lambda p: p["chunk"]))
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            kept_pairs.alias("__kp"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.md5(rebuilt)).alias("new_fp"),
            F.when(F.col("n_kept") > 0, F.length(rebuilt))
            .cast("long")
            .alias("new_n_chars"),
        )
        .orderBy("doc_id")
    )


#: Signature-agreement pre-gate for candidate verification: estimated
#: Jaccard = matching minhashes / 16; exact shingle verification runs only
#: on pairs with >= 10/16 matches (est. J >= 0.625 — a conservative margin
#: below the 0.8 output threshold: P[drop | true J = 0.8, one band already
#: matched] = P[Bin(12, 0.8) < 6] ~ 4e-3). Deterministic (same universal
#: hashes both engines), so the oracle applies the gate literally.
LSH_VERIFY_GATE = 10


def _sig_gate_sql(num_hashes: int) -> str:
    return " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )


@query(
    "dedup_lsh_verify",
    oracle=f"""
    WITH {_minhash_ctes(16, 4)},
    gated AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
      WHERE {_sig_gate_sql(16)} >= {LSH_VERIFY_GATE}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_common
      FROM gated p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(i.n_common * 10000
                // (sa.n + sb.n - i.n_common) AS BIGINT) AS jaccard_bp
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 10000 // (sa.n + sb.n - i.n_common) >= 8000
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "scale"),
)
def dedup_lsh_verify(spark, sf_dir):
    """The CANDIDATE-THEN-VERIFY near-dup pipeline production dedup
    actually ships (Lee et al. 2022 §4; every MinHash system since
    AltaVista): LSH banding proposes candidate pairs sub-quadratically,
    then an EXACT Jaccard pass over just those pairs kills the false
    positives banding admits — output is only pairs with true
    Jaccard >= 0.8 (integer basis points, engine-exact division).
    Completes the family: dedup_minhash_lsh emits raw candidates,
    dedup_ngram_jaccard verifies ALL shared-shingle pairs (uncapped),
    this verifies ONLY the banded candidates.

    Scale (reworked round 12 — sf10 profile showed the verify constant,
    not the candidate count, dominated):

    - **Signature-agreement pre-gate** (LSH_VERIFY_GATE): estimated
      Jaccard from the 16 already-computed minhashes; only pairs with
      >= 10/16 matches reach exact verification. On a corpus where
      banding floods false positives (boilerplate, adversarial shards)
      this bounds the exact pass to near-certain pairs; two tiny joins
      against the materialized signature table. dedup_lsh_eval's
      gate_recall_bp column is the no-loss guard.
    - **Verify only candidate docs' shingles**: the old plan shuffled the
      ENTIRE corpus shingle table (both sides) to verify a pair set
      covering <1% of docs. A semi-join restricts `sh` to gated-candidate
      docs first (runtime bloom/broadcast eligible — the gated-doc set is
      |near-dup docs|, never forced), and the bounded result is
      localCheckpoint()ed so sizes + both intersection sides read the
      materialized artifact instead of re-running the corpus explode.
    - **Checkpointed signatures**: `sigs` is referenced by banding AND
      both gate sides; without materialization the shingle explode +
      16-min groupBy (the pipeline's priciest subplan) would execute once
      per reference (no ReuseExchange across fresh expr ids).

    Net: two passes over the corpus shingle explode (signatures, semi-join
    scan) regardless of candidate volume; everything downstream touches
    only near-dup-doc-sized data. False negatives remain the LSH recall
    trade (tune bands/rows) plus the gate's ~4e-3 tail; false positives
    are zero — the asymmetric guarantee curation wants."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    # small: one row per doc; eager checkpoint so banding + both gate
    # sides share ONE execution of the explode + 16-min groupBy
    sigs = D.minhash_signatures(sh, 16).localCheckpoint()
    cand = D.lsh_candidate_pairs(sigs, 16, 4).select("doc_a", "doc_b")
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(16)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(16)],
    )
    n_match = None
    for i in range(16):
        term = F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    gated = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(n_match >= LSH_VERIFY_GATE)
        .select("doc_a", "doc_b")
        .localCheckpoint()  # |near-dup pairs|: reused by semi + fan joins
    )
    cand_docs = (
        gated.select(F.col("doc_a").alias("doc_id"))
        .unionByName(gated.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # all shingles of candidate docs ONLY — |near-dup docs| x shingles,
    # materialized once for sizes + both intersection sides
    shc = sh.join(cand_docs, "doc_id", "leftsemi").localCheckpoint()
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        gated.join(
            shc.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            shc.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr(
                "CAST(n_common * 10000 div (na + nb - n_common) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
        .filter(F.col("jaccard_bp") >= 8000)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_savings_report",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, n_chars, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, n_chars, text
      FROM documents WHERE doc_id % 100 = 7
    ),
    marked AS (
      SELECT source, n_chars,
             CASE WHEN doc_id <> min(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
             ) THEN 1 ELSE 0 END AS is_dup
      FROM corpus
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
           CAST(sum(CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_saved,
           (CAST(sum(is_dup) AS BIGINT) * 10000) // count(*) AS dup_bp
    FROM marked GROUP BY source ORDER BY source
    """,
    tags=("dedup",),
)
def dedup_savings_report(spark, sf_dir):
    """Dedup impact report — the per-SOURCE summary a pipeline owner reads
    after an exact-dedup pass: how many docs each feed loses, how many
    bytes that saves, and the duplication rate in basis points (the number
    that decides whether a feed gets demoted in the mixture). Same
    fingerprint normalization and synthetic duplicate injection as
    dedup_exact (the raw fixtures are dup-free), same keep-min-id
    canonical rule; non-canonical membership comes from a min window over
    the fingerprint hash partition (one shuffle), then a per-source
    rollup with map-side combine. At 100 TB both shuffles are on
    well-distributed keys (128-bit content hash; source enum rollup is
    the second, |sources|-row stage).
    """
    from pyspark.sql import Window

    from gtec_etl_spark.operators.dedup import normalized_text

    docs = catalog.table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "source", "n_chars", "text").unionByName(
        docs.filter(F.col("doc_id") % 100 == 7).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "source", "n_chars", "text"
        )
    )
    marked = corpus.select(
        "source",
        "n_chars",
        (
            F.col("doc_id")
            != F.min("doc_id").over(
                Window.partitionBy(F.md5(normalized_text(F.col("text"))))
            )
        )
        .cast("int")
        .alias("is_dup"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.sum(F.when(F.col("is_dup") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_saved"),
        )
        .withColumn("dup_bp", F.expr("n_dup_docs * 10000 div n_docs"))
        .orderBy("source")
    )


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes(16, 4)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_id FROM documents),
    reach AS (
      SELECT doc_id, doc_id AS rep FROM nodes
      UNION
      SELECT e.b AS doc_id, r.rep FROM reach r JOIN edges e ON e.a = r.doc_id
    ),
    comp AS (
      SELECT doc_id, min(rep) AS component FROM reach GROUP BY doc_id
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS sz
      FROM comp GROUP BY component
    )
    SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY 1 ORDER BY log2_bucket
    """,
    tags=("dedup", "scale"),
)
def dedup_cluster_sizes(spark, sf_dir):
    """DUP-CLUSTER SIZE DISTRIBUTION — the report that tells a curation
    team what kind of duplication they have before they act on it: many
    tiny clusters (boilerplate variants) call for keep-canonical; a few
    giant ones (mirrored dumps) call for source-level fixes. Composes
    the gated MinHash-LSH + connected-components pipeline
    (dedup_clusters_cc's exact plan), then buckets cluster sizes by
    exact bit-length log2 and reports clusters / docs / removable docs
    (size-1 per cluster — the savings headline dedup_savings_report
    prices) per bucket. The distribution is a fixed <= 30-row output at
    any corpus size."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    pairs = D.lsh_candidate_pairs(sigs, 16, 4)
    nodes = docs.select("doc_id")
    comp = D.connected_components(nodes, pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(
            (F.length(F.bin(F.col("sz"))) - 1).cast("long").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("long").alias("n_removable"),
        )
        .orderBy("log2_bucket")
    )


@query(
    "dedup_lsh_eval",
    oracle=f"""
    WITH {_minhash_ctes(16, 4)},
    sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
    allp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM h a JOIN h b ON a.hb = b.hb AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM allp
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 10000 // (sa.n + sb.n - n_common) >= 8000
    ),
    cand AS (SELECT doc_a, doc_b FROM pairs),
    gated AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
      WHERE {_sig_gate_sql(16)} >= {LSH_VERIFY_GATE}
    ),
    hits AS (SELECT doc_a, doc_b FROM cand JOIN truth USING (doc_a, doc_b)),
    ghits AS (SELECT doc_a, doc_b FROM gated JOIN truth USING (doc_a, doc_b)),
    cn AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
    hn AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM hits),
    gn AS (SELECT CAST(count(*) AS BIGINT) AS n_gated FROM gated),
    ghn AS (SELECT CAST(count(*) AS BIGINT) AS n_gated_hits FROM ghits)
    SELECT n_candidates, n_truth, n_hits, n_gated, n_gated_hits,
           CAST(CASE WHEN n_candidates = 0 THEN NULL
                ELSE n_hits * 10000 // n_candidates END AS BIGINT)
             AS precision_bp,
           CAST(CASE WHEN n_truth = 0 THEN NULL
                ELSE n_hits * 10000 // n_truth END AS BIGINT) AS recall_bp,
           CAST(CASE WHEN n_truth = 0 THEN NULL
                ELSE n_gated_hits * 10000 // n_truth END AS BIGINT)
             AS gate_recall_bp
    FROM cn, tn, hn, gn, ghn
    """,
    tags=("dedup", "quality", "spec-anchor"),
)
def dedup_lsh_eval(spark, sf_dir):
    """DEDUP-QUALITY evaluation — the report that answers "is the LSH
    configuration good enough to replace the exact pass?": candidate
    pairs from MinHash-LSH banding (16 hashes, 4 bands) scored against
    a full-corpus HASH-SPACE truth set (true Jaccard >= 0.8 in integer
    basis points, computed over shared 60-bit md5-prefix shingle hashes
    — NOT string shingles; a cross-doc hash collision is shared by both
    engines so parity stays exact, and the per-pair collision odds are
    bounded < 2^-40) as one precision/recall row. Production pipelines
    re-run it whenever bands/rows/shingle-width change, at a
    SAMPLED scale (the truth side is the uncapped exact join, priced
    accordingly; the LSH side is the 100 TB path being certified).
    Precision counts banding's false positives (verify-pass workload),
    recall its false negatives (missed near-dups). Round 12 adds the
    gate funnel: n_gated / n_gated_hits / gate_recall_bp score the
    signature-agreement pre-gate dedup_lsh_verify now applies
    (LSH_VERIFY_GATE) — gate_recall_bp == recall_bp certifies the gate
    dropped no true pair beyond banding's own misses. All-integer
    arithmetic, exact cross-engine. Round 13 moves the truth join to
    HASHED shingle space and checkpoints the hashed set once (the
    dedup_lsh_eval_scaled discipline, see its docstring for the
    exactness argument: both engines share the md5-derived hb, so
    parity is exact and any 60-bit collision is shared) — sf10
    81.7 s → measured re-time below; still the uncapped full-corpus
    anchor by construction."""
    docs = catalog.table(spark, sf_dir, "documents")
    # One materialization of (doc_id, hb): reused by signatures, the
    # truth join's two sides, and sizes (without it each consumer
    # re-runs scan + explode — the scan-amplification audit's finding).
    hsh = (
        D.word_shingles(docs, 3)
        .select("doc_id", hash60(F.col("shingle")).alias("hb"))
        .localCheckpoint()
    )
    hmod = F.col("hb") % F.lit(MINHASH_P)
    sigs = (
        hsh.groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * hmod + F.lit(b)) % F.lit(MINHASH_P)).alias(
                    f"mh{i}"
                )
                for i, (a, b) in enumerate(minhash_params(16))
            ]
        )
        .localCheckpoint()
    )
    cand = (
        D.lsh_candidate_pairs(sigs, 16, 4)
        .select("doc_a", "doc_b")
        .localCheckpoint()  # reused by the gate join + hits + count
    )
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(16)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(16)],
    )
    n_match = None
    for i in range(16):
        term = F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    gated = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(n_match >= LSH_VERIFY_GATE)
        .select("doc_a", "doc_b")
    )
    sizes = hsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = hsh.select(F.col("doc_id").alias("doc_a"), "hb")
    b = hsh.select(F.col("doc_id").alias("doc_b"), "hb")
    truth = (
        a.join(b, "hb")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .filter(F.expr("n_common * 10000 div (n_a + n_b - n_common) >= 8000"))
        .select("doc_a", "doc_b")
        .localCheckpoint()  # |true pairs|: reused by hits/ghits/count
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    ghits = gated.join(truth, ["doc_a", "doc_b"])
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    ng = gated.agg(F.count(F.lit(1)).cast("long").alias("n_gated"))
    ngh = ghits.agg(F.count(F.lit(1)).cast("long").alias("n_gated_hits"))
    return (
        nc.crossJoin(nt)  # 1-row x 1-row global aggregates
        .crossJoin(nh)
        .crossJoin(ng)
        .crossJoin(ngh)
        .select(
            "n_candidates",
            "n_truth",
            "n_hits",
            "n_gated",
            "n_gated_hits",
            # NULL (not engine-specific div-by-zero behavior) on empty
            # candidate/truth sets, matching the oracle's CASE guard
            F.expr(
                "CASE WHEN n_candidates = 0 THEN NULL"
                " ELSE n_hits * 10000 div n_candidates END"
            ).cast("long").alias("precision_bp"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN NULL"
                " ELSE n_hits * 10000 div n_truth END"
            ).cast("long").alias("recall_bp"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN NULL"
                " ELSE n_gated_hits * 10000 div n_truth END"
            ).cast("long").alias("gate_recall_bp"),
        )
    )


#: Stratum modulus for the SAMPLED LSH certification. Docs whose salted
#: 60-bit content hash ≡ 0 (mod this) form the stratum; pairs are scored
#: only when BOTH endpoints are in-stratum, so the exact truth join costs
#: (1/MOD)^2 of the full pass. 5 keeps the sf0.01 fixture stratum ~100
#: docs (enough in-stratum true pairs to certify against); a 100 TB
#: deployment raises it to 50-1000 — the estimator below is rate-free.
LSH_EVAL_STRATUM_MOD = 5


@query(
    "dedup_lsh_eval_scaled",
    oracle=f"""
    WITH {_minhash_ctes(16, 4)},
    strat AS (
      SELECT doc_id FROM documents
      WHERE {hash60_sql("concat('stratum4|', CAST(doc_id AS VARCHAR))")}
            % {LSH_EVAL_STRATUM_MOD} = 0
    ),
    hs AS (SELECT h.doc_id, h.hb FROM h JOIN strat USING (doc_id)),
    sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
    allp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM hs a JOIN hs b ON a.hb = b.hb AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM allp
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 10000 // (sa.n + sb.n - n_common) >= 8000
    ),
    cand AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN strat ka ON ka.doc_id = p.doc_a
      JOIN strat kb ON kb.doc_id = p.doc_b
    ),
    gated AS (
      SELECT p.doc_a, p.doc_b FROM cand p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
      WHERE {_sig_gate_sql(16)} >= {LSH_VERIFY_GATE}
    ),
    hits AS (SELECT doc_a, doc_b FROM cand JOIN truth USING (doc_a, doc_b)),
    ghits AS (SELECT doc_a, doc_b FROM gated JOIN truth USING (doc_a, doc_b)),
    dn AS (SELECT CAST(count(*) AS BIGINT) AS n_stratum_docs FROM strat),
    cn AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
    hn AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM hits),
    gn AS (SELECT CAST(count(*) AS BIGINT) AS n_gated FROM gated),
    ghn AS (SELECT CAST(count(*) AS BIGINT) AS n_gated_hits FROM ghits)
    SELECT n_stratum_docs, n_candidates, n_truth, n_hits, n_gated,
           n_gated_hits,
           CAST(CASE WHEN n_candidates = 0 THEN NULL
                ELSE n_hits * 10000 // n_candidates END AS BIGINT)
             AS precision_bp,
           CAST(CASE WHEN n_truth = 0 THEN NULL
                ELSE n_hits * 10000 // n_truth END AS BIGINT) AS recall_bp,
           CAST(CASE WHEN n_truth = 0 THEN NULL
                ELSE n_gated_hits * 10000 // n_truth END AS BIGINT)
             AS gate_recall_bp
    FROM dn, cn, tn, hn, gn, ghn
    """,
    tags=("dedup", "quality", "scale"),
)
def dedup_lsh_eval_scaled(spark, sf_dir):
    """SAMPLED LSH certification — dedup_lsh_eval's 100 TB twin (VERDICT
    r12 #1). The exact query's truth side is the deliberately UNCAPPED
    all-shared-shingle self-join LSH exists to avoid — the suite's most
    expensive sf10 entry and unrunnable at corpus scale, precisely when
    certification matters most. This twin scores the same
    precision/recall/gate-funnel row on a deterministic HASH STRATUM:
    docs with hash60('stratum4|' || doc_id) ≡ 0 (mod
    {LSH_EVAL_STRATUM_MOD}), pairs counted only when BOTH endpoints are
    in-stratum. Three properties make the stratum honest:

    - **Pairwise closure**: an LSH candidate pair, the signature
      pre-gate, and true Jaccard are all properties of the two docs
      alone, so computing the whole pipeline on the stratum subcorpus
      yields EXACTLY the full run's pairs restricted to the stratum —
      no edge effects. The plan therefore leftsemi-filters documents
      FIRST and everything downstream (shingles, signatures, banding,
      truth join) costs (1/{LSH_EVAL_STRATUM_MOD})² of the exact pass.
    - **Unbiased ratios**: stratum membership is a salted content hash,
      independent of near-dup structure, so in-stratum
      precision/recall are self-weighting estimates of the corpus
      ratios (pair-sampling at rate p², ratio-estimator variance
      ~ r(1-r)/n_truth_in_stratum — PERF.md round-13 entry).
    - **Determinism**: same stratum both engines, so the row is
      hash-checked exactly, not statistically.

    Keep dedup_lsh_eval as the fixture-scale exact anchor; run THIS one
    at production scale with MOD raised to taste (the estimator is
    rate-free; only the variance floor moves). n_stratum_docs is
    reported so the reader can judge the sample size behind the bp
    figures. The salt ('stratum4|') was picked by scanning 30 salts so
    the sf0.01 FIXTURE stratum contains >0 true pairs (4, vs 0-3 for
    most salts at 500 docs) — a degenerate all-NULL gate row certifies
    nothing; the choice is fixture ergonomics, not estimator tuning
    (any salt is unbiased)."""
    docs = catalog.table(spark, sf_dir, "documents")
    strat = docs.filter(
        hash60(F.concat(F.lit("stratum4|"), F.col("doc_id").cast("string")))
        % LSH_EVAL_STRATUM_MOD
        == 0
    ).select("doc_id", "text")
    # The shingle set is read FOUR times downstream (signatures, truth's
    # two join sides, sizes); without a checkpoint each consumer re-runs
    # the full-corpus scan + stratum hash filter + explode (sf10 stage
    # profile: truth alone cost 10 s of its 14 s total on
    # re-derivation). Materialize HASHED shingles (doc_id, hb) — 16
    # bytes/row vs ~30 with the string, and the truth self-join then
    # shuffles longs. Truth in hash space is EXACTLY cross-engine
    # (both engines derive hb from the same md5 prefix, so any
    # collision is shared); vs string-space Jaccard it can differ only
    # on a 60-bit collision inside one pair (< 2^-40 per pair) — the
    # same hash space the minhash signatures themselves certify.
    # No distinct() over hb: word_shingles is already DISTINCT on the
    # string shingle, and the oracle's hs CTE keeps the same multiset —
    # an intra-doc hash collision (duplicate hb) is counted identically
    # by both engines, so parity holds without paying a 5M-row shuffle.
    hsh = (
        D.word_shingles(strat, 3)
        .select("doc_id", hash60(F.col("shingle")).alias("hb"))
        .localCheckpoint()
    )
    # Signatures from hb — value-identical to minhash_signatures(sh)
    # (operators/dedup.py:396 computes the same hb internally); inlined
    # so the checkpointed relation feeds it without re-hashing.
    hmod = F.col("hb") % F.lit(MINHASH_P)
    sigs = (
        hsh.groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * hmod + F.lit(b)) % F.lit(MINHASH_P)).alias(
                    f"mh{i}"
                )
                for i, (a, b) in enumerate(minhash_params(16))
            ]
        )
        .localCheckpoint()
    )
    cand = (
        D.lsh_candidate_pairs(sigs, 16, 4)
        .select("doc_a", "doc_b")
        .localCheckpoint()  # reused by the gate join + hits + count
    )
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(16)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(16)],
    )
    n_match = None
    for i in range(16):
        term = F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    gated = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(n_match >= LSH_VERIFY_GATE)
        .select("doc_a", "doc_b")
    )
    sizes = hsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = hsh.select(F.col("doc_id").alias("doc_a"), "hb")
    b = hsh.select(F.col("doc_id").alias("doc_b"), "hb")
    truth = (
        a.join(b, "hb")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .filter(F.expr("n_common * 10000 div (n_a + n_b - n_common) >= 8000"))
        .select("doc_a", "doc_b")
        .localCheckpoint()  # in-stratum true pairs: reused 3x below
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    ghits = gated.join(truth, ["doc_a", "doc_b"])
    nd = strat.agg(F.count(F.lit(1)).cast("long").alias("n_stratum_docs"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    ng = gated.agg(F.count(F.lit(1)).cast("long").alias("n_gated"))
    ngh = ghits.agg(F.count(F.lit(1)).cast("long").alias("n_gated_hits"))
    return (
        nd.crossJoin(nc)  # 1-row x 1-row global aggregates
        .crossJoin(nt)
        .crossJoin(nh)
        .crossJoin(ng)
        .crossJoin(ngh)
        .select(
            "n_stratum_docs",
            "n_candidates",
            "n_truth",
            "n_hits",
            "n_gated",
            "n_gated_hits",
            F.expr(
                "CASE WHEN n_candidates = 0 THEN NULL"
                " ELSE n_hits * 10000 div n_candidates END"
            ).cast("long").alias("precision_bp"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN NULL"
                " ELSE n_hits * 10000 div n_truth END"
            ).cast("long").alias("recall_bp"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN NULL"
                " ELSE n_gated_hits * 10000 div n_truth END"
            ).cast("long").alias("gate_recall_bp"),
        )
    )


@query(
    "dedup_aware_split",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes(16, 4)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_id FROM documents),
    reach AS (
      SELECT doc_id, doc_id AS rep FROM nodes
      UNION
      SELECT e.b AS doc_id, r.rep FROM reach r JOIN edges e ON e.a = r.doc_id
    ),
    comp AS (SELECT doc_id, min(rep) AS component FROM reach GROUP BY doc_id),
    sp AS (
      SELECT doc_id, component,
             CASE WHEN CAST(('0x' || substr(md5('seed42|'
                    || CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 100 < 90
                  THEN 'train' ELSE 'eval' END AS split
      FROM comp
    ),
    cx AS (
      SELECT sa.split, CAST(count(*) AS BIGINT) AS n_cross
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.doc_a
      JOIN sp sb ON sb.doc_id = p.doc_b
      WHERE sa.split <> sb.split
      GROUP BY sa.split
    )
    SELECT s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.component) AS BIGINT) AS n_clusters,
           CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
           coalesce(max(c.n_cross), 0) AS n_cross_pairs
    FROM sp s
    JOIN documents d USING (doc_id)
    LEFT JOIN cx c ON c.split = s.split
    GROUP BY s.split ORDER BY s.split
    """,
    tags=("dedup", "sampling", "scale"),
)
def dedup_aware_split(spark, sf_dir):
    """NEAR-DUP-CLUSTER-AWARE train/eval split — the leakage guard every
    serious training pipeline needs and doc-level splits silently lack:
    hashing doc_id puts near-duplicate documents on OPPOSITE sides of
    the holdout ~2·p·(1-p) of the time, so the eval set contains
    paraphrases of training documents and the benchmark is contaminated
    by construction. This query splits by the near-dup
    CLUSTER instead: MinHash-LSH candidates (the gated 16-perm/4-band
    pipeline) → connected components → assignment =
    md5(seed || component) mod 100 (90/10), so an entire cluster lands
    on one side — per-split doc/cluster/char counts plus the audit
    column n_cross_pairs = LSH candidate pairs straddling the split,
    which this construction provably pins to ZERO (a doc-hash split
    leaves it at the ~2·p·(1-p) expectation; dedup_split_leakage_audit
    runs the same audit against both assignments).

    Plan shape: the banded-LSH + endpoint-restricted CC pipeline
    (dedup_clusters_cc's exact plan — per-round cost |near-dup docs|,
    not |corpus|), one broadcast-eligible join of the component map back
    to documents, one keyed join pair for the audit, and a 2-row
    aggregate. The split hash is engine-exact (md5 prefix → integer
    mod, identical in Spark and DuckDB) and cluster-stable: re-running
    on a grown corpus moves a cluster only if its min-id member
    changed."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    pairs = (
        D.lsh_candidate_pairs(sigs, 16, 4)
        .select("doc_a", "doc_b")
        .localCheckpoint()  # reused: CC edges + the cross-split audit
    )
    nodes = docs.select("doc_id")
    comp = D.connected_components(nodes, pairs)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("seed42|"), F.col("component").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    sp = comp.select(
        "doc_id",
        "component",
        F.when(bucket < 90, "train").otherwise("eval").alias("split"),
    ).localCheckpoint()  # corpus-sized but reused by 3 consumers
    cx = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .groupBy(F.col("sa").alias("split"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_cross"))
    )
    return (
        sp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .join(cx, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_chars",
            F.coalesce(F.col("n_cross"), F.lit(0)).cast("long").alias(
                "n_cross_pairs"
            ),
        )
        .orderBy("split")
    )


@query(
    "dedup_split_leakage_audit",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes(16, 4)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_id FROM documents),
    reach AS (
      SELECT doc_id, doc_id AS rep FROM nodes
      UNION
      SELECT e.b AS doc_id, r.rep FROM reach r JOIN edges e ON e.a = r.doc_id
    ),
    comp AS (SELECT doc_id, min(rep) AS component FROM reach GROUP BY doc_id),
    assign AS (
      SELECT c.doc_id,
             CASE WHEN CAST(('0x' || substr(md5('seed42|'
                    || CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 100 < 90 THEN 'train' ELSE 'eval' END AS doc_split,
             CASE WHEN CAST(('0x' || substr(md5('seed42|'
                    || CAST(c.component AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 100 < 90 THEN 'train' ELSE 'eval' END AS cluster_split
      FROM comp c
    ),
    audit AS (
      SELECT 'doc_hash' AS scheme,
             CAST(sum(CASE WHEN a.doc_split <> b.doc_split
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_pairs
      FROM pairs p
      JOIN assign a ON a.doc_id = p.doc_a
      JOIN assign b ON b.doc_id = p.doc_b
      UNION ALL
      SELECT 'cluster_hash',
             CAST(sum(CASE WHEN a.cluster_split <> b.cluster_split
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM pairs p
      JOIN assign a ON a.doc_id = p.doc_a
      JOIN assign b ON b.doc_id = p.doc_b
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
    SELECT scheme, n_pairs, n_cross_pairs,
           CAST(CASE WHEN n_pairs = 0 THEN NULL
                ELSE n_cross_pairs * 10000 // n_pairs END AS BIGINT)
             AS leak_bp
    FROM audit CROSS JOIN tot
    ORDER BY scheme
    """,
    tags=("dedup", "sampling", "quality"),
)
def dedup_split_leakage_audit(spark, sf_dir):
    """The MEASURED case for cluster-aware holdouts: the same
    cross-split audit run against BOTH assignment schemes — the naive
    doc-hash split (md5('seed42|' || doc_id) mod 100 < 90) and
    dedup_aware_split's cluster-hash rule — over the same MinHash-LSH
    candidate pairs. A near-dup pair straddling the split means an eval
    document has a paraphrase in training: the doc_hash row quantifies
    that contamination (expected ~2·0.9·0.1 = 18% of dup pairs, in
    basis points), the cluster_hash row is provably 0. This is the
    report a curation team attaches to a data card to justify the
    cluster-aware split's extra CC pass.

    One CC + one pair-side assignment join serves both schemes (the
    audit join runs once with both split columns); costs are the
    dedup_clusters_cc pipeline plus two near-dup-pair-sized joins."""
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3)
    sigs = D.minhash_signatures(sh, 16)
    pairs = (
        D.lsh_candidate_pairs(sigs, 16, 4)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    comp = D.connected_components(docs.select("doc_id"), pairs)

    def split_of(col):
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("seed42|"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 100
        )
        return F.when(bucket < 90, "train").otherwise("eval")

    assign = comp.select(
        "doc_id",
        split_of(F.col("doc_id")).alias("doc_split"),
        split_of(F.col("component")).alias("cluster_split"),
    ).localCheckpoint()  # corpus-sized, reused by both audit sides

    joined = pairs.join(
        assign.select(
            F.col("doc_id").alias("doc_a"),
            F.col("doc_split").alias("da"),
            F.col("cluster_split").alias("ca"),
        ),
        "doc_a",
    ).join(
        assign.select(
            F.col("doc_id").alias("doc_b"),
            F.col("doc_split").alias("db"),
            F.col("cluster_split").alias("cb"),
        ),
        "doc_b",
    )
    audit = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("da") != F.col("db")).cast("long"))
        .cast("long")
        .alias("doc_cross"),
        F.sum((F.col("ca") != F.col("cb")).cast("long"))
        .cast("long")
        .alias("cluster_cross"),
    )
    rows = audit.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("cluster_hash").alias("scheme"),
                    F.col("n_pairs"),
                    F.col("cluster_cross").alias("n_cross_pairs"),
                ),
                F.struct(
                    F.lit("doc_hash").alias("scheme"),
                    F.col("n_pairs"),
                    F.col("doc_cross").alias("n_cross_pairs"),
                ),
            )
        ).alias("r")
    ).select("r.scheme", "r.n_pairs", "r.n_cross_pairs")
    return rows.select(
        "scheme",
        "n_pairs",
        "n_cross_pairs",
        F.expr(
            "CASE WHEN n_pairs = 0 THEN NULL"
            " ELSE n_cross_pairs * 10000 div n_pairs END"
        ).cast("long").alias("leak_bp"),
    ).orderBy("scheme")


WINNOW_K, WINNOW_W = 8, 4  # char k-gram size, winnowing window (hashes)
WINNOW_MIN_SHARED = 3
WINNOW_DF_CAP = 20  # drop fingerprints present in more docs (boilerplate)


@query(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(text) - {WINNOW_K - 1}, 1)),
               i -> {hash60_sql(f"substring(text, i, {WINNOW_K})")}
             ) AS h
      FROM documents
    ),
    sel AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(h) - {WINNOW_W - 1}, 1)),
               j -> list_min(list_slice(h, j, j + {WINNOW_W - 1}))
             )) AS fps
      FROM hs
    ),
    fp AS (SELECT doc_id, unnest(fps) AS f FROM sel),
    df AS (
      SELECT f, CAST(count(*) AS BIGINT) AS d FROM fp GROUP BY f
    ),
    capped AS (
      SELECT fp.doc_id, fp.f FROM fp JOIN df USING (f)
      WHERE df.d <= {WINNOW_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM capped a JOIN capped b
        ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= {WINNOW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "scale"),
)
def dedup_winnowing_pairs(spark, sf_dir):
    """WINNOWING fingerprint near-dup (the MOSS algorithm): hash every
    char {WINNOW_K}-gram, slide a {WINNOW_W}-hash window and keep each
    window's MINIMUM — the classic guarantee that any shared substring
    of length >= k + w - 1 contributes at least one shared fingerprint,
    while the selected set is ~2/(w+1) of all grams (position-robust,
    unlike a single global min-hash per document; locality-guaranteed,
    unlike MinHash's per-document sampling). Pairs sharing >=
    {WINNOW_MIN_SHARED} fingerprints are plagiarism/near-dup candidates.

    Scale shape: the gram hashing and window minima are JVM-side array
    transforms per row (no row explosion until the bounded fingerprint
    set); the candidate join is an inverted-index equi-join with the
    same df-cap discipline as dedup_ngram_jaccard_capped (fingerprints
    in > {WINNOW_DF_CAP} docs are boilerplate and carry no pair signal
    — dropping them bounds per-key fan-out, so no O(df^2) blowup).
    Exactness: hash60 is the engine-portable deterministic hash and the
    window min is over exact BIGINTs, so fingerprint sets — and
    therefore candidate pairs — match the oracle bit-for-bit."""
    from pyspark.sql import Window

    from gtec_etl_spark.functions.hashing import hash60
    from gtec_etl_spark.operators.scale import cpu_fanout_repartition

    # Relational form, not nested arrays: hashing inside a transform()
    # lambda runs the md5/conv chain on the INTERPRETED higher-order
    # path (measured 90s for 150k grams at sf0.001); exploding integer
    # positions first keeps hash60 a whole-stage-codegen column (the
    # word_shingles discipline), and the window minima ride one per-doc
    # frame window over the gram stream.
    # min_bytes=0: char-gram md5 fan-out — the guard pays at any size
    # (see duplicated_spans; sf0.1 A/B 1.29 s guarded vs 2.39 s skipped).
    docs = cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents"), "doc_id", min_bytes=0
    )
    pos = docs.select(
        "doc_id",
        "text",
        F.greatest(F.length("text") - (WINNOW_K - 1), F.lit(1)).alias("ng"),
        F.explode(
            F.expr(
                f"sequence(1, greatest(length(text) - {WINNOW_K - 1}, 1))"
            )
        ).alias("i"),
    )
    h = pos.select(
        "doc_id",
        "ng",
        "i",
        hash60(F.expr(f"substring(text, i, {WINNOW_K})")).alias("hv"),
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(0, WINNOW_W - 1)
    )
    win = h.withColumn("m", F.min("hv").over(frame)).filter(
        F.col("i") <= F.greatest(F.col("ng") - (WINNOW_W - 1), F.lit(1))
    )
    # r15 (guide §2.4): the old post-window chain paid window-stream-sized
    # shuffles three ways — .distinct() on (doc_id, f) re-shuffled every
    # SELECTED WINDOW row (~one per gram, pre-dedup), the df groupBy
    # shuffled the fingerprint stream, and the capped a⋈b self-join
    # re-shuffled it twice more. The window's output is clustered by
    # doc_id (its own partitioning), so per-doc fingerprint dedup is an
    # EXCHANGE-FREE groupBy(doc_id).collect_set — equivalent to
    # .distinct() because hv is never NULL (hash60 of a non-null
    # substring; NULL-text docs explode to zero gram rows), so there is
    # no NULL row for distinct to keep that collect_set would drop.
    # Candidate pairs then stream from the same df-capped POSTING-LIST
    # explode as the capped Jaccard family (sorted ids + upper-triangle
    # explode == equi-join with doc_a < doc_b — bit-identical pair
    # counts; d >= 2 drops only fingerprints that contribute no pairs).
    # Hash exchanges after the gram stream: 2 (postings on f, pair
    # aggregate) instead of 4.
    fps = win.groupBy("doc_id").agg(F.collect_set("m").alias("fs"))
    fp = fps.select("doc_id", F.explode("fs").alias("f"))
    postings = fp.groupBy("f").agg(
        F.sort_array(F.collect_list("doc_id")).alias("__ids"),
        F.count(F.lit(1)).cast("long").alias("d"),
    )
    kept = postings.filter((F.col("d") >= 2) & (F.col("d") <= WINNOW_DF_CAP))
    pairs = D.upper_triangle_pair_counts(kept, "n_shared")
    return pairs.filter(F.col("n_shared") >= WINNOW_MIN_SHARED).orderBy(
        "doc_a", "doc_b"
    )
