"""Deduplication operators for large-scale training-data pipelines.

All hashing is deterministic and engine-portable (functions/hashing.py), so
every operator here is oracle-checkable in SQL. Scale design:

  - exact:        one groupBy on a 128-bit content hash — single shuffle.
  - ngram-jaccard: candidate generation via shared-shingle equi-join
                   (inverted index), never an all-pairs cross join.
  - minhash-LSH:  k=16 permutations, 4 bands × 4 rows; candidates join on
                  (band, signature) — the standard sub-quadratic path.
  - simhash:      60-bit signature, 4×15-bit chunk blocking, hamming ≤ r.
  - embedding:    exact cosine on candidate pairs blocked by cluster label
                  (IVF-style); brute-force only within blocks.

At 100 TB, each stage is a shuffle on a well-distributed hash key; skew
from hot shingles is bounded by dropping ultra-frequent shingles
(document-frequency cap), mirroring what production LSH pipelines do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gtec_etl_spark.operators.scale import cpu_fanout_repartition
from gtec_etl_spark.functions.hashing import (
    MINHASH_P,
    hash60,
    minhash_params,
)


def normalized_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), " +", " "))


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: returns one row per duplicate
    group (fingerprint, n_docs, canonical = min id)."""
    h = F.md5(normalized_text(F.col(text_col))).alias("fingerprint")
    return (
        docs.select(h, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def word_shingles(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Guarded against short docs — Spark's sequence(1, 0) yields a
    *descending* [1, 0], not an empty array, so docs with < n words get an
    explicit empty shingle set (explode then drops them).

    Parallelism guard (same as substring_dedup_spans, where it was
    measured 15.9s -> 2.4s at 10x data): the shingle explode fans out
    ~|doc| rows per document BEFORE any shuffle, so its CPU cost is
    pinned to the SCAN's partition count — a compact corpus parquet
    that fits a couple of maxPartitionBytes partitions runs the whole
    map side on a couple of cores. Repartition the raw docs up to
    default parallelism when the scan is narrower; a real 100 TB scan
    already exceeds core count, making this a no-op.

    min_bytes=0 (r15): the shingle explode computes an md5 per n-gram,
    so even a sub-megabyte corpus carries a second-plus of single-core
    map work — the guard pays for itself at ANY size here (interleaved
    sf0.1 A/B: minhash-LSH 1.57 s guarded vs 1.76 s floor-skipped);
    the 2 MB floor is for aggregation-reduced token fan-outs only.
    """
    docs = cpu_fanout_repartition(docs, id_col, min_bytes=0)

    words = F.split(F.lower(F.col(text_col)), " ")
    with_words = docs.select(F.col(id_col), words.alias("w"))
    shingle_arr = F.when(F.size("w") < n, F.array().cast("array<string>")).otherwise(
        F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> array_join(slice(w, i, {n}), ' '))"
        )
    )
    return with_words.select(
        F.col(id_col), F.explode(F.array_distinct(shingle_arr)).alias("shingle")
    )


def frequency_cap_shingles(
    shingles: DataFrame, max_doc_freq: int, id_col: str = "doc_id"
) -> DataFrame:
    """Skew guard for candidate generation at scale: drop shingles that
    appear in more than `max_doc_freq` documents BEFORE the inverted-index
    self-join. An ultra-frequent shingle contributes O(df^2) candidate
    pairs while carrying almost no similarity signal (stopword-like); the
    cap bounds the join's per-key fan-out. NOTE: changes recall slightly —
    pairs supported ONLY by ultra-common shingles are missed, which is the
    standard production trade (the capped shingles are exactly the ones
    that would also dominate false positives)."""
    df_counts = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    keep = df_counts.filter(F.col("__df") <= max_doc_freq).select("shingle")
    return shingles.join(keep, "shingle", "left_semi")


def frequency_cap_shingles_rel(
    shingles: DataFrame, max_frac: float, floor: int, id_col: str = "doc_id"
) -> DataFrame:
    """Relative-df skew guard: drop shingles whose document frequency
    exceeds max(floor, max_frac * n_docs). The threshold is computed
    INSIDE the plan (1-row aggregate broadcast-joined into the filter), so
    no driver-side count and the cap tracks corpus size across scales —
    the property that makes it safe at 100 TB where any absolute number
    is wrong at one end or the other."""
    df_counts = shingles.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    ndocs = shingles.agg(F.countDistinct(id_col).alias("__n_docs"))
    keep = (
        df_counts.crossJoin(F.broadcast(ndocs))
        .filter(
            F.col("__df")
            <= F.greatest(F.lit(floor), F.lit(max_frac) * F.col("__n_docs"))
        )
        .select("shingle")
    )
    return shingles.join(keep, "shingle", "left_semi")


def jaccard_pairs_capped_posting(
    shingles: DataFrame,
    max_frac: float,
    floor: int,
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Capped Jaccard via POSTING LISTS — the scale formulation.

    One groupBy(shingle) builds the inverted index (sorted id array) and
    its document frequency in the same shuffle; the relative-df cap
    (df <= max(floor, max_frac * n_docs), threshold in-plan) and the
    df >= 2 pair-feasibility filter apply right on the aggregate, and
    candidate pairs stream out of a two-level explode of each postings
    array — no semi-join back to the shingle table and no a x b
    self-join. Versus the equi-join formulation this removes two full
    shuffles of the shingle table (measured 22.7 s -> ~6 s at 10x sf0.1,
    BENCH_sf1), while producing the identical pair set: sorted ids +
    upper-triangle explode == (a.shingle = b.shingle AND a.id < b.id).

    Skew note: a shingle at the cap emits df^2/2 pairs from one task —
    the same worst case as the equi-join plan, whose df^2 rows for a hot
    key also land in one task; the cap itself is what bounds it. The
    two-level explode (posexplode then slice-explode) streams pairs
    without materializing the full pair array per shingle, so per-row
    memory stays O(cap), not O(cap^2). Reported jaccard is a lower bound
    of the true value: capped shingles leave the intersection count but
    set sizes stay uncapped (same contract as frequency_cap_shingles)."""
    both = _capped_pair_intersections(shingles, max_frac, floor, id_col)
    return (
        both.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_common", F.round("jaccard", 4).alias("jaccard"))
    )


def upper_triangle_pair_counts(
    kept: DataFrame, count_name: str = "n_common"
) -> DataFrame:
    """Stream i<j pairs out of each posting array and count per pair:
    (doc_a, doc_b, <count_name>) from a relation with a SORTED id-array
    column `__ids`. Sorted ids + upper-triangle explode emit exactly the
    equi-join's (a.key = b.key AND a.id < b.id) pair multiset, and the
    two-level explode (posexplode then slice-explode) keeps per-row
    memory O(df), never materializing the df^2 pair array per key."""
    lefts = kept.select("__ids", F.posexplode("__ids").alias("__i", "doc_a"))
    return (
        lefts.select(
            "doc_a",
            F.explode(
                F.slice(
                    F.col("__ids"),
                    F.col("__i") + F.lit(2),
                    F.size("__ids") - F.col("__i") - F.lit(1),
                )
            ).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias(count_name))
    )


def _capped_pair_intersections(
    shingles: DataFrame, max_frac: float, floor: int, id_col: str = "doc_id"
) -> DataFrame:
    """Shared candidate machinery of the capped posting-list family:
    (doc_a < doc_b, n_common, n_a, n_b) — the df-capped inverted index,
    the two-level posting explode, the intersection count, and both set
    sizes. jaccard_pairs_capped_posting and
    containment_pairs_capped_posting put different measures on top."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    # countDistinct(id) == row count of the per-doc aggregate; deriving it
    # from `sizes` (whose doc_id exchange the denominator joins reuse)
    # instead of a fresh shingles.agg() branch spares one full pass over
    # the shingle explode — the most expensive subplan here.
    ndocs = sizes.agg(F.count(F.lit(1)).alias("__n_docs"))
    postings = shingles.groupBy("shingle").agg(
        F.sort_array(F.collect_list(id_col)).alias("__ids"),
        F.count(F.lit(1)).alias("__df"),
    )
    kept = postings.crossJoin(F.broadcast(ndocs)).filter(
        (F.col("__df") >= 2)
        & (
            F.col("__df")
            <= F.greatest(F.lit(floor), F.lit(max_frac) * F.col("__n_docs"))
        )
    )
    inter = upper_triangle_pair_counts(kept)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def containment_pairs_capped_posting(
    shingles: DataFrame,
    max_frac: float,
    floor: int,
    id_col: str = "doc_id",
    min_containment: float = 0.0,
) -> DataFrame:
    """DIRECTED shingle containment |A ∩ B| / |A| over the capped
    posting-list candidates — the asymmetric near-dup measure (quote
    detection, truncated re-crawls, doc-inside-doc): Jaccard misses a
    short document embedded in a long one because the union is large,
    while containment of the short side is ~1. Emits
    (doc_sub, doc_sup, n_common, containment) for EACH direction that
    clears the threshold — n_common is symmetric, so one intersection
    pass feeds both. Cross-engine parity: one double divide of two
    exact int64 casts, mirrored literally in the oracle. Same cap
    contract as the Jaccard variant: capped shingles leave the
    intersection but not |A|, so the reported containment is a lower
    bound."""
    both = _capped_pair_intersections(shingles, max_frac, floor, id_col)
    a_in_b = both.select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_sup"),
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
            "containment"
        ),
    )
    b_in_a = both.select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_sup"),
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_b").cast("double")).alias(
            "containment"
        ),
    )
    return (
        a_in_b.unionAll(b_in_a)
        .filter(F.col("containment") >= min_containment)
        .select(
            "doc_sub",
            "doc_sup",
            "n_common",
            F.round("containment", 4).alias("containment"),
        )
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
    candidate_shingles: DataFrame | None = None,
) -> DataFrame:
    """Pairwise Jaccard over an inverted shingle index, then
    |∩| / (|A|+|B|−|∩|). With max_doc_freq (or an explicitly pre-capped
    candidate_shingles) set, capped shingles are excluded from the
    intersection count, so the reported jaccard is a LOWER BOUND of the
    true value (set sizes stay uncapped); with no cap the value is exact.

    Candidate generation (r15): the exact uncapped path builds POSTING
    LISTS — one groupBy(shingle) collects each shingle's sorted id array,
    and pairs stream out of the upper-triangle explode — instead of the
    a⋈b equi-join, which shuffled the full shingle table twice more
    (the same restructure that took the capped twin 22.7 s -> ~6 s at
    10x, r13). Pair multiset identical: sorted ids + i<j explode ==
    (a.shingle = b.shingle AND a.doc_id < b.doc_id), and df = 1 shingles
    contribute no pairs in either form. Worst-case skew is unchanged —
    a hot shingle's df^2 pairs come out of one task in both shapes,
    which is why the capped twin is the 100 TB path. The pre-capped /
    max_doc_freq forms keep the equi-join (their cap tables are built
    relationally; the absolute-cap semantics are pinned by tests)."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    if candidate_shingles is None and max_doc_freq is None:
        postings = shingles.groupBy("shingle").agg(
            F.sort_array(F.collect_list(id_col)).alias("__ids"),
            F.count(F.lit(1)).alias("__df"),
        )
        inter = upper_triangle_pair_counts(postings.filter(F.col("__df") >= 2))
    else:
        if candidate_shingles is not None:
            candidates = candidate_shingles
        else:
            candidates = frequency_cap_shingles(shingles, max_doc_freq, id_col)
        a = candidates.select(F.col(id_col).alias("doc_a"), "shingle")
        b = candidates.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_common", F.round("jaccard", 4).alias("jaccard"))
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components by min-label propagation: the step
    a dedup pipeline runs between pair detection and canonical-pick, so
    transitive near-dups (A~B, B~C) collapse into ONE cluster instead of
    overlapping pairs.

    Each iteration propagates the current minimum label across edges (one
    join + one groupBy-min, both shuffles on the node id) and stops when no
    label changed — the same fixpoint GraphX/GraphFrames use. Iterations
    needed = graph diameter; near-dup clusters are near-cliques, so 2-3
    rounds in practice, log(n) worst case. localCheckpoint() truncates the
    growing lineage each round (iterative plans otherwise re-execute from
    the source). Returns (id_col, component) with component = min node id
    of the cluster; isolated nodes are their own component.

    The fixpoint state is restricted to EDGE ENDPOINTS (r11, verdict r10
    #2): an isolated node can never change its label, yet the r10 shape
    carried every node through every round's join + groupBy-min +
    checkpoint. In a dedup graph endpoints are the docs with at least one
    near-dup candidate — a tiny fraction of the corpus (sf1 profile:
    4,766 of 50,000 nodes; the fixpoint fell from ~10 s to ~1 s) — so
    per-round state is |near-dup docs|, not |corpus|. Isolated nodes
    rejoin once at the end via a left join + coalesce (broadcast when the
    endpoint set is small — the dedup case; at worst one keyed join,
    which the r10 shape paid EVERY round). For graphs where every node
    has an edge (the purchase graph) this is a wash: same round cost,
    plus one final join.

    Precondition: edge endpoints must be a SUBSET of `nodes`. Since r11
    labels are seeded from the endpoints themselves, an endpoint absent
    from `nodes` still participates in propagation and can become a
    cluster's min-id component label (the r10 shape implicitly confined
    labels to `nodes`). Every registry caller passes the table the edges
    were mined from, so the subset holds; callers with foreign endpoints
    must semi-join `edges` against `nodes` first.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    # sym is symmetric, so column `a` alone enumerates every endpoint
    labels = (
        sym.select(F.col("a").alias(id_col))
        .distinct()
        .select(F.col(id_col), F.col(id_col).alias("component"))
        # checkpointed so the seed distinct runs once, not once for the
        # initial sum probe and again inside round 1's join
        .localCheckpoint()
    )
    # Convergence check exploits monotonicity (r14): each round's new label
    # is min(own, neighbors') — per-node labels NEVER increase — so the
    # label-sum is strictly decreasing until the fixpoint, and "sum
    # unchanged" ⟺ "no label changed". One 1-row aggregate over the
    # just-checkpointed labels replaces the old per-round shuffle join
    # (new ⋈ old + filter + take(1)) — the check's cost drops from a
    # node-sized join to a cache scan. DECIMAL(38,0) keeps the sum exact
    # at any node count × id magnitude (int64 would overflow at
    # ~10^12 nodes × 10^12 ids).
    prev_sum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).first()["s"]
    for _ in range(max_iter):
        prop = sym.join(
            labels.withColumnRenamed(id_col, "a"), "a"
        ).select(F.col("b").alias(id_col), "component")
        new_labels = (
            labels.unionByName(prop)
            .groupBy(id_col)
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        new_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # Exhausting max_iter without the fixpoint means labels are still
        # moving (a chain longer than max_iter hops): returning them would
        # silently split one cluster into several "canonical" pieces.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations;"
            " raise max_iter (needed rounds ~ graph diameter)"
        )
    # isolated nodes (no edges) are their own component; rejoin them once
    return nodes.select(F.col(id_col)).join(labels, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int, id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc minhash signature: min over shingles of each universal-hash
    permutation of the 60-bit shingle hash. One groupBy; the k mins are k
    partial-aggregating expressions in a single shuffle."""
    h = hash60(F.col("shingle")) % F.lit(MINHASH_P)
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_banded(
    signatures: DataFrame, num_hashes: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, band, sig) rows: each band's minhash rows concatenated into
    one signature string — the join key of every LSH candidate strategy.

    One posexplode pass (r11): the previous union-of-B-selects referenced
    the signature AGGREGATION B times, so unless exchange reuse happened
    to fire, the shingle explode + 16-min groupBy — the pipeline's most
    expensive subplan — executed once per band. Exploding an array of the
    B band strings keeps a single reference (and a single execution) no
    matter how many bands."""
    rows = num_hashes // bands
    band_arr = F.array(
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{b * rows + r}").cast("string")
                    for r in range(rows)
                ],
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """LSH banding: concat each band's rows into a signature string, union
    the per-band self-joins, dedupe pairs. Returns (doc_a, doc_b,
    n_bands_matched)."""
    banded = lsh_banded(signatures, num_hashes, bands, id_col)
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b2 = banded.select(F.col(id_col).alias("doc_b"), "band", "sig")
    return (
        a.join(b2, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def lsh_pairs_against_index(
    batch_sigs: DataFrame,
    index_sigs: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup: candidate pairs between a NEW batch and an
    already-indexed corpus — the production ingest mode. The index side's
    banded signatures are a persisted artifact built once (and at 100 TB
    bucketed/partitioned by (band, sig)); each incoming batch computes
    only its own signatures and equi-joins the index buckets, so per-batch
    cost is O(batch + matching buckets), never O(corpus). Batch-internal
    pairs are NOT emitted (run lsh_candidate_pairs on the batch for
    those). Returns (new_doc, index_doc, n_bands_matched)."""
    nb = lsh_banded(batch_sigs, num_hashes, bands, id_col).select(
        F.col(id_col).alias("new_doc"), "band", "sig"
    )
    ib = lsh_banded(index_sigs, num_hashes, bands, id_col).select(
        F.col(id_col).alias("index_doc"), "band", "sig"
    )
    return (
        nb.join(ib, ["band", "sig"])
        .groupBy("new_doc", "index_doc")
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def simhash_signatures(
    tokens: DataFrame, bits: int = 60, id_col: str = "doc_id", token_col: str = "token"
) -> DataFrame:
    """Per-doc simhash: for each bit j, sum ±1 over token hashes' bit j;
    signature bit j set iff the sum is positive. One groupBy with `bits`
    conditional-sum expressions, then JVM-side bit assembly."""
    h = hash60(F.col(token_col))
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = tokens.groupBy(id_col).agg(*sums)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return per_doc.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int, chunks: int = 4, chunk_bits: int = 15, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash blocking: near pairs (hamming ≤ r) must agree on ≥1 of the
    `chunks` bit-chunks when r < chunks; per-chunk equi-joins + exact
    bit_count(xor) re-check.

    Joins on DISTINCT signatures, not documents: vocab-correlated corpora
    collapse many documents onto one signature, so the candidate join runs
    on the (much smaller) unique-signature set, signature pairs are
    deduplicated BEFORE expanding to document pairs, and hamming-0 pairs
    come straight from each signature's member list — the join cost tracks
    unique signatures, not corpus size.

    Blocking key WIDTH is the scale knob (r14): a single chunk's key
    space is fixed at 2^chunk_bits, so bucket occupancy grows linearly
    with unique signatures and candidate pairs grow QUADRATICALLY —
    measured as a superlinear second decade (sf1→sf10 ratio 18.3,
    exponent 1.26, BENCH_sf10). When `chunks >= max_hamming + 2`, the
    pigeonhole gives ≥ 2 identical chunks per near pair, so blocking on
    every identical chunk PAIR is still exact while the key space
    squares to 2^(2*chunk_bits): C(chunks, 2) key families instead of
    `chunks` (linear input ×~2.5 for 5 chunks) but a quadratic-term
    coefficient families/2^keybits that drops ~200× (5×12-bit pairs vs
    4×15-bit singles). Falls back to single-chunk blocking when
    chunks == max_hamming + 1 (the minimum exact configuration)."""
    groups = sigs.groupBy("simhash").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("members")
    )

    # Hamming 0: all intra-group document pairs (i < j within members).
    within = groups.filter(F.size("members") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(members, (x, i) ->"
                " transform(slice(members, i + 2, size(members)),"
                " y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", F.lit(0).alias("hamming"))

    # Hamming 1..r: chunk-blocked join over unique signatures, sig pairs
    # deduplicated before member expansion. ONE explode over the key
    # entries (not a per-family union — a union re-plans the groupBy
    # subtree once per branch).
    mask = (1 << chunk_bits) - 1

    def _ck(k: int):
        return F.shiftright(F.col("simhash"), k * chunk_bits).bitwiseAND(F.lit(mask))

    if chunks >= max_hamming + 2:
        # ≥ 2 identical chunks per near pair → exact chunk-PAIR blocking
        entries = [
            F.struct(
                F.lit(i * chunks + j).alias("chunk"),
                (F.shiftleft(_ck(i), chunk_bits).bitwiseOR(_ck(j))).alias("ckey"),
            )
            for i in range(chunks)
            for j in range(i + 1, chunks)
        ]
    else:
        entries = [
            F.struct(F.lit(k).alias("chunk"), _ck(k).alias("ckey"))
            for k in range(chunks)
        ]
    parts = groups.select(
        "simhash", F.explode(F.array(*entries)).alias("e")
    ).select("simhash", "e.chunk", "e.ckey")
    a = parts.select(F.col("simhash").alias("sim_a"), "chunk", "ckey")
    b = parts.select(F.col("simhash").alias("sim_b"), "chunk", "ckey")
    sig_pairs = (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("sim_a") < F.col("sim_b"))
        .select(
            "sim_a", "sim_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming))
        .distinct()
    )
    ga = groups.select(F.col("simhash").alias("sim_a"), F.col("members").alias("ma"))
    gb = groups.select(F.col("simhash").alias("sim_b"), F.col("members").alias("mb"))
    cross = (
        sig_pairs.join(ga, "sim_a")
        .join(gb, "sim_b")
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ma, x -> transform(mb, y ->"
                    " struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))"
                )
            ).alias("p"),
            "hamming",
        )
        .select("p.doc_a", "p.doc_b", "hamming")
    )
    return within.unionByName(cross)


def duplicated_spans(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-duplication detection (the Lee et al. 2022
    "Deduplicating Training Data" k-gram family): find every maximal token
    span of a document whose k-token windows ALL occur verbatim in at
    least one OTHER document. Returns (id, span_start, span_end) in token
    positions, half-open, spans merged (overlapping/adjacent windows
    coalesce into one maximal span).

    Plan: positioned k-token windows (posexplode, one map-side pass) →
    hash → the window-hash groupBy marks hashes seen in >= 2 distinct
    docs → semi-join marks each doc's duplicated windows → gaps-and-
    islands merge per doc (running max of span end over a doc-keyed
    window). Scale properties: nothing is pairwise — a phrase shared by a
    million documents costs one aggregate row and a million marker rows,
    never O(n^2) pairs, so no df cap is needed (the property the
    pair-emitting Jaccard family lacks); every shuffle keys on the
    uniform window hash or doc id. k is the only knob: production text
    dedup uses ~50-token windows; tests use small k to exercise the
    corpus.

    Parallelism guard: the k-gram explode fans out ~|doc| windows per
    row BEFORE any shuffle, so its cost is set by the SCAN's partition
    count — a compact corpus file that fits a couple of
    maxPartitionBytes partitions pins the whole CPU-heavy map side to a
    couple of cores (measured at 10x data: 15.9s -> 2.4s from this one
    change, the suite's worst scale curve). When the scan has fewer
    partitions than cores, repartition the RAW docs (cheap relative to
    the 100x+ explode fan-out) up to default parallelism; a real
    100 TB scan already exceeds core count, making this a no-op.
    min_bytes=0: the k-gram window explode is ~|text| md5 rows per doc —
    the heaviest per-byte fan-out in the suite; at sf0.1 the guarded
    form ran 1.29 s vs 2.39 s floor-skipped (interleaved min-of-5), so
    the guard stays on at any input size."""
    from pyspark.sql import Window as W

    docs = cpu_fanout_repartition(docs, id_col, min_bytes=0)

    words = F.split(F.lower(F.col(text_col)), " ")
    win_arr = F.when(
        F.size("w") < k, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            f"transform(sequence(1, size(w) - {k - 1}),"
            f" i -> array_join(slice(w, i, {k}), ' '))"
        )
    )
    wins = (
        docs.select(F.col(id_col), words.alias("w"))
        .select(F.col(id_col), F.posexplode(win_arr).alias("p", "win"))
        .select(F.col(id_col), "p", hash60(F.col("win")).alias("wh"))
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    hit = wins.join(dup, "wh", "left_semi")
    w_doc = W.partitionBy(id_col).orderBy("p")
    prev_end = F.max(F.col("p") + k).over(
        w_doc.rowsBetween(W.unboundedPreceding, -1)
    )
    grouped = hit.withColumn(
        "g",
        F.sum(
            F.when(prev_end.isNull() | (F.col("p") > prev_end), 1).otherwise(0)
        ).over(w_doc),
    )
    return grouped.groupBy(id_col, "g").agg(
        F.min("p").alias("span_start"),
        (F.max("p") + k).alias("span_end"),
    ).drop("g")


def minhash_bands_rowwise(
    docs: DataFrame,
    n_shingle: int,
    num_hashes: int,
    bands: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, sig) LSH bands computed entirely PER ROW — no groupBy.

    Identical output to word_shingles → minhash_signatures → lsh_banded
    (same distinct-shingle set, same hash60 % p permutations, same
    concat_ws band signature), but the min-over-shingles runs as
    array_min over an in-row array instead of a shuffle aggregation.
    That makes it legal and cheap inside Structured Streaming (a
    streaming groupBy is stateful and append-mode-hostile; a per-row map
    is free) and, in batch, removes the signature shuffle entirely.
    Docs with fewer than n_shingle words have no shingles and are
    dropped, matching the explode-based path.

    Each projection materializes before the next lambda uses it (shingle
    array, then the base-hash array, then the permutation mins) —
    Catalyst re-evaluates expressions referenced inside transform()
    lambdas per element (PERF.md round 6), so the md5 pass must not be
    inlined into the 16 permutation transforms."""
    words = F.split(F.lower(F.col(text_col)), " ")
    shingle_arr = F.when(
        F.size("w") < n_shingle, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            f"transform(sequence(1, size(w) - {n_shingle - 1}),"
            f" i -> array_join(slice(w, i, {n_shingle}), ' '))"
        )
    )
    base = (
        docs.select(F.col(id_col), words.alias("w"))
        .select(F.col(id_col), F.array_distinct(shingle_arr).alias("sh"))
        .filter(F.size("sh") > 0)
        .select(
            F.col(id_col),
            F.transform(
                F.col("sh"), lambda s: hash60(s) % F.lit(MINHASH_P)
            ).alias("ha"),
        )
    )
    def perm_min(a: int, b: int):
        # Closure factory, not default-arg capture: PySpark infers the
        # higher-order function's arity from the Python lambda's parameter
        # count, so `lambda x, a=a, b=b` would request a 3-arg lambda.
        return F.array_min(
            F.transform(
                F.col("ha"),
                lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P),
            )
        )

    sigs = base.select(
        F.col(id_col),
        *[
            perm_min(a, b).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ],
    )
    rows = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{b * rows + r}").cast("string")
                    for r in range(rows)
                ],
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(F.col(id_col), F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
