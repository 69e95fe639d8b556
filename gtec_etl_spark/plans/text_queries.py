"""Tokenizer query pack over the documents table: BPE training and
encoding, a unigram-LM (Viterbi hard-EM) tokenizer, and a fertility
comparison of the two (pieces per 100 words).

Both tokenizers train over the DISTINCT-word vocabulary, so each
iteration is O(|vocab|), not O(corpus). Each query ships a DuckDB oracle
that unrolls the constant iteration count as CTE stages, with the same
deterministic tie-breaks as the engine (`operators/bpe.py`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.plans.registry import query

BPE_K = 6


def _bpe_ctes(k: int) -> str:
    """WITH-chain through tok{k}: BPE training unrolled as K CTE stages
    (the sim_pq_trained_codebook precedent — iteration count is a
    constant, so no recursion is needed). Stage i: weighted adjacent-pair
    counts over tok{i-1}, 1-row argmax m{i} (c DESC, then lexicographic),
    then the greedy left-to-right merge via window functions: mark merge
    START positions, split consecutive-start runs (the a,a overlap case)
    and keep odd ranks — provably the same selection as the engine's
    carry fold — then drop each start's right neighbour and rebuild the
    token list."""
    parts = [
        """
    WITH tok0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             list_transform(generate_series(1, len(word)), i -> word[i]) AS toks
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      WHERE len(word) > 0
      GROUP BY word
    )"""
    ]
    for i in range(1, k + 1):
        prev = f"tok{i - 1}"
        parts.append(
            f""",
    p{i} AS (
      SELECT toks[j] AS l, toks[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT freq, toks, unnest(generate_series(1, len(toks) - 1)) AS j
        FROM {prev}
      )
      GROUP BY 1, 2
    ),
    m{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
    x{i} AS (
      SELECT t.word, t.freq, t.j, t.tk, m.l AS ml, m.r AS mr,
             coalesce(
               t.tk = m.l
               AND lead(t.tk) OVER (PARTITION BY t.word ORDER BY t.j) = m.r,
               FALSE
             ) AS is_start
      FROM (
        SELECT word, freq, toks, j, toks[j] AS tk
        FROM (
          SELECT word, freq, toks,
                 unnest(generate_series(1, len(toks))) AS j
          FROM {prev}
        )
      ) t CROSS JOIN m{i} m
    ),
    y{i} AS (
      SELECT word, freq, j, tk, ml, mr, is_start,
             CASE WHEN is_start THEN
               row_number() OVER (PARTITION BY word, grp ORDER BY j)
             END AS rn
      FROM (
        SELECT word, freq, j, tk, ml, mr, is_start,
               CASE WHEN is_start THEN
                 j - row_number() OVER (PARTITION BY word, is_start ORDER BY j)
               END AS grp
        FROM x{i}
      )
    ),
    z{i} AS (
      SELECT word, freq, j,
             CASE
               WHEN sel THEN ml || mr
               WHEN coalesce(
                 lag(sel) OVER (PARTITION BY word ORDER BY j), FALSE
               ) THEN NULL
               ELSE tk
             END AS newtok,
             coalesce(
               lag(sel) OVER (PARTITION BY word ORDER BY j), FALSE
             ) AS dropped
      FROM (
        SELECT word, freq, j, tk, ml, mr,
               (is_start AND rn % 2 = 1) AS sel
        FROM y{i}
      )
    ),
    tok{i} AS (
      SELECT word, freq,
             list(newtok ORDER BY j) FILTER (newtok IS NOT NULL) AS toks
      FROM z{i} GROUP BY word, freq
    )"""
        )
    return "".join(parts)


def _bpe_train_oracle(k: int) -> str:
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS iter, l AS lhs, r AS rhs, c AS pair_count FROM m{i}"
        for i in range(1, k + 1)
    )
    return _bpe_ctes(k) + f"\n    SELECT * FROM ({rows}) ORDER BY iter"


@query(
    "text_bpe_train",
    oracle=_bpe_train_oracle(BPE_K),
    tags=("text", "tokenizer", "scale"),
)
def text_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — learn
    the {BPE_K} most frequent adjacent-symbol merges over the corpus,
    emitting (iter, lhs, rhs, pair_count) merge rules. Counts are
    frequency-weighted over the DISTINCT-word vocabulary, so every
    iteration costs O(|vocab|), independent of corpus size — the property
    that makes tokenizer training feasible at 100 TB (the only
    corpus-sized pass is the initial word count). Ties break to the
    lexicographically smallest pair on binary collation, so training is
    bit-deterministic; the oracle replays all {BPE_K} iterations as
    unrolled CTE stages with the window-function formulation of the
    greedy merge, which tests prove equivalent to the engine's map-side
    carry fold (operators/bpe.py:apply_merge).

    Plan: per iteration one bounded pair-count shuffle + a 1-row argmax
    collect + a shuffle-free fold; the vocab is persisted per round and
    the previous round released, keeping plan depth O(1).

    No reference counterpart — LLM-pipeline extension per the brief."""
    from gtec_etl_spark.operators import bpe as B

    docs = catalog.table(spark, sf_dir, "documents")
    merges, vocab = B.bpe_train(docs, BPE_K)
    vocab.unpersist()
    return spark.createDataFrame(
        [(int(i), l, r, int(c)) for (i, l, r, c) in merges],
        "iter long, lhs string, rhs string, pair_count long",
    ).orderBy("iter")


@query(
    "text_bpe_apply",
    oracle=_bpe_ctes(BPE_K) + f""",
    d AS (
      SELECT doc_id, j AS p, w[j] AS word
      FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS w,
               unnest(generate_series(1, len(w))) AS j
        FROM documents
      )
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(t.toks)) AS BIGINT) AS n_bpe_tokens,
           md5(string_agg(array_to_string(t.toks, ' '), ' ' ORDER BY p))
             AS tok_fp
    FROM d JOIN tok{BPE_K} t USING (word)
    WHERE doc_id < 200
    GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("text", "tokenizer", "scale"),
)
def text_bpe_apply(spark, sf_dir):
    """Tokenize the corpus with the trained BPE vocabulary: per document,
    the BPE token count and a fingerprint of the full token stream. The
    encode path never re-runs the merge loop over documents — each
    DISTINCT word was fully merged during training, so encoding is one
    equi-join of the corpus word stream against the (word -> tokens)
    table, broadcastable whenever the vocab fits, and the token stream
    is reassembled
    map-side from the per-word pieces in word order. This is exactly how
    production tokenizers amortize BPE at scale (encode = vocab lookup,
    not merge replay).

    Restricted to doc_id < 200 to bound the fingerprint row count."""
    from gtec_etl_spark.operators import bpe as B

    docs = catalog.table(spark, sf_dir, "documents")
    _, vocab = B.bpe_train(docs, BPE_K)
    try:
        w = docs.select(
            "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
        ).select(
            "doc_id", F.posexplode("w").alias("p0", "word")
        ).withColumn("p", F.col("p0") + 1)
        joined = w.join(F.broadcast(vocab.select("word", "toks")), "word")
        per_doc = (
            joined.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum(F.size("toks")).alias("n_bpe_tokens"),
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("p"), F.concat_ws(" ", "toks").alias("s")
                        )
                    )
                ).alias("__ts"),
            )
            .filter(F.col("doc_id") < 200)
            .select(
                "doc_id",
                "n_words",
                "n_bpe_tokens",
                F.md5(
                    F.concat_ws(
                        " ", F.transform(F.col("__ts"), lambda t: t["s"])
                    )
                ).alias("tok_fp"),
            )
            .orderBy("doc_id")
        )
        # Materialize on the EXECUTORS before releasing the trained-vocab
        # cache the plan references (same eager-localCheckpoint discipline
        # as the iterative graph operators): the per-document token table
        # is corpus-proportional, so it must never transit the driver.
        return per_doc.localCheckpoint(eager=True)
    finally:
        vocab.unpersist()


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer: one hard-EM (Viterbi) iteration over a pinned seed
# vocabulary — the OTHER tokenizer family large pipelines train (Kudo 2018 /
# SentencePiece), next to BPE. Constant-iteration + integer-quantized, so the
# oracle unrolls the per-word DP as CTE stages (the text_bpe_train /
# graph_pagerank discipline).

UNI_MAXW = 12  # words longer than this are excluded from the training set
UNI_V = 24  # multi-char seed pieces kept (all single chars always kept)
UNI_MAXP = 3  # max piece length


def _uni_qln(e: str) -> str:
    return f"CAST(floor(ln({e}) * 1000000 + 0.5) AS BIGINT)"


def _unigram_ctes() -> str:
    """WITH-chain: seed vocabulary (all chars + top-{UNI_V} substrings by
    weighted count), quantized log-probs, forward Viterbi DP unrolled as
    b1..b{UNI_MAXW} stages, and the backward path reconstruction unrolled
    as r1..r{UNI_MAXW} stages (smallest-piece tie-break)."""
    parts = [
        f"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE len(word) BETWEEN 1 AND {UNI_MAXW}
      GROUP BY word
    ),
    sub AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq, substr(word, i, m) AS piece
        FROM w,
             (SELECT unnest(generate_series(1, {UNI_MAXW})) AS i),
             (SELECT unnest(generate_series(1, {UNI_MAXP})) AS m)
        WHERE i + m - 1 <= len(word)
      ) GROUP BY piece
    ),
    vocab AS MATERIALIZED (
      SELECT piece, cnt FROM sub WHERE len(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM sub WHERE len(piece) > 1
        ORDER BY cnt DESC, piece LIMIT {UNI_V}
      )
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
    lp AS MATERIALIZED (
      SELECT piece, cnt,
             {_uni_qln("cnt")} - (SELECT {_uni_qln("t")} FROM tot) AS lp
      FROM vocab
    ),
    b0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS score FROM w)"""
    ]
    for i in range(1, UNI_MAXW + 1):
        branches = []
        for m in range(1, UNI_MAXP + 1):
            if i - m < 0:
                break
            branches.append(
                f"""
        SELECT b.word, b.freq, b.score + l.lp AS s
        FROM b{i - m} b JOIN lp l ON l.piece = substr(b.word, {i - m + 1}, {m})
        WHERE len(b.word) >= {i}"""
            )
        parts.append(
            f""",
    b{i} AS MATERIALIZED (
      SELECT word, freq, max(s) AS score
      FROM ({" UNION ALL ".join(branches)})
      GROUP BY word, freq
    )"""
        )
    best_rows = " UNION ALL ".join(
        f"SELECT word, freq, {i} AS pos, score FROM b{i}"
        for i in range(0, UNI_MAXW + 1)
    )
    parts.append(
        f""",
    best AS MATERIALIZED ({best_rows}),
    r0 AS MATERIALIZED (SELECT word, freq, len(word) AS pos, CAST(NULL AS VARCHAR) AS piece
           FROM w)"""
    )
    for j in range(1, UNI_MAXW + 1):
        parts.append(
            f""",
    r{j} AS MATERIALIZED (
      SELECT word, freq, pos - m AS pos, piece FROM (
        SELECT r.word, r.freq, r.pos, m.m,
               substr(r.word, r.pos - m.m + 1, m.m) AS piece,
               row_number() OVER (PARTITION BY r.word ORDER BY m.m) AS rn
        FROM r{j - 1} r
        JOIN (SELECT unnest(generate_series(1, {UNI_MAXP})) AS m) m
          ON m.m <= r.pos
        JOIN lp l ON l.piece = substr(r.word, r.pos - m.m + 1, m.m)
        JOIN best bp ON bp.word = r.word AND bp.pos = r.pos
        JOIN best bm ON bm.word = r.word AND bm.pos = r.pos - m.m
        WHERE r.pos > 0 AND bm.score + l.lp = bp.score
      ) WHERE rn = 1
    )"""
        )
    path_rows = " UNION ALL ".join(
        f"SELECT word, freq, piece FROM r{j}" for j in range(1, UNI_MAXW + 1)
    )
    parts.append(f""",
    path AS MATERIALIZED ({path_rows})""")
    return "".join(parts)


def _unigram_spark_path(spark, sf_dir):
    """Shared Spark pipeline: (lp DataFrame, path DataFrame, words
    DataFrame). lp carries (piece, cnt, lp); path carries one row per
    Viterbi piece occurrence weighted by word freq."""
    from gtec_etl_spark.operators.bpe import unigram_viterbi_segments

    docs = catalog.table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= UNI_MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    subs = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(word)), i ->"
                    f" filter(transform(sequence(1, {UNI_MAXP}), m ->"
                    f" CASE WHEN i + m - 1 <= length(word)"
                    f" THEN substring(word, i, m) END), p -> p IS NOT NULL)))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(UNI_V)
    )
    vocab = chars.unionByName(multi)
    tot = vocab.agg(F.sum("cnt").cast("long").alias("t"))

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast(
            "long"
        )

    lp = (
        vocab.crossJoin(F.broadcast(tot))  # 1-row global aggregate
        .select("piece", "cnt", (qln(F.col("cnt")) - qln(F.col("t"))).alias("lp"))
    )
    # the vocabulary is bounded (alphabet + UNI_V rows) — safe to collect
    lp_map = {r["piece"]: int(r["lp"]) for r in lp.collect()}
    path = unigram_viterbi_segments(words, lp_map, UNI_MAXP)
    return lp, path, words


@query(
    "text_unigram_em",
    oracle=_unigram_ctes()
    + f""",
    emc AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS em_count
            FROM path GROUP BY piece),
    emt AS (SELECT CAST(sum(em_count) AS BIGINT) AS t FROM emc)
    SELECT l.piece,
           l.cnt AS seed_count,
           l.lp AS seed_lp_micro_nats,
           CAST(coalesce(e.em_count, 0) AS BIGINT) AS em_count,
           CASE WHEN e.em_count > 0
                THEN {_uni_qln("e.em_count")} - (SELECT {_uni_qln("t")} FROM emt)
           END AS em_lp_micro_nats
    FROM lp l LEFT JOIN emc e USING (piece)
    ORDER BY piece
    """,
    tags=("text", "tokenizer", "scale"),
)
def text_unigram_em(spark, sf_dir):
    """UNIGRAM-LM tokenizer, one hard-EM iteration (Kudo 2018 — the other
    tokenizer family production pipelines train, next to BPE): seed
    vocabulary = every character plus the top-{UNI_V} multi-char
    substrings (length <= {UNI_MAXP}) by corpus-weighted count; seed
    probabilities = quantized log cnt/total (micro-nats, the qln
    discipline — ln only ever sees integer counts); E-step = Viterbi
    segmentation of every distinct word under those log-probs (one Arrow
    mapInPandas pass, O(|vocab|) not O(corpus) — text_bpe_train's scale
    argument); M-step = re-estimated piece counts and log-probs from the
    path. Emits the full before/after probability table. The oracle
    unrolls forward DP and backward path reconstruction as
    2x{UNI_MAXW} CTE stages with the identical smallest-piece tie-break —
    all integer arithmetic, so exact cross-engine."""
    lp, path, _ = _unigram_spark_path(spark, sf_dir)

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast(
            "long"
        )

    emc = path.groupBy("piece").agg(F.sum("freq").cast("long").alias("em_count"))
    emt = emc.agg(F.sum("em_count").cast("long").alias("t"))
    return (
        lp.join(emc, "piece", "left")
        .crossJoin(F.broadcast(emt))  # 1-row global aggregate
        .select(
            "piece",
            F.col("cnt").alias("seed_count"),
            F.col("lp").alias("seed_lp_micro_nats"),
            F.coalesce(F.col("em_count"), F.lit(0)).cast("long").alias("em_count"),
            F.when(
                F.col("em_count") > 0, qln(F.col("em_count")) - qln(F.col("t"))
            ).alias("em_lp_micro_nats"),
        )
        .orderBy("piece")
    )


@query(
    "text_tokenizer_fertility",
    oracle=_unigram_ctes()
    + _bpe_ctes(BPE_K).replace("\n    WITH tok0", ",\n    tok0", 1)
    + f"""
    SELECT * FROM (
      SELECT 'bpe' AS tokenizer,
             CAST(sum(freq) AS BIGINT) AS total_words_w,
             CAST(sum(freq * len(toks)) AS BIGINT) AS total_pieces_w,
             CAST(sum(freq * len(toks)) * 100 // sum(freq) AS BIGINT)
               AS pieces_per_100_words
      FROM tok{BPE_K} WHERE len(word) <= {UNI_MAXW}
      UNION ALL
      SELECT 'unigram',
             (SELECT CAST(sum(freq) AS BIGINT) FROM w),
             (SELECT CAST(sum(freq) AS BIGINT) FROM path),
             (SELECT CAST(sum(freq) AS BIGINT) FROM path) * 100
               // (SELECT CAST(sum(freq) AS BIGINT) FROM w)
    ) ORDER BY tokenizer
    """,
    tags=("text", "tokenizer"),
)
def text_tokenizer_fertility(spark, sf_dir):
    """FERTILITY comparison of the two trained tokenizers — the data-card
    statistic that picks between them (pieces per 100 words, weighted by
    word frequency over the same length-filtered vocabulary): BPE after
    {BPE_K} merges vs unigram-LM after one hard-EM step. Both training
    loops are O(|distinct words|); the comparison is two 1-row
    aggregates. Exact integers end to end (piece counts and truncating
    BIGINT division)."""
    from gtec_etl_spark.operators import bpe as B

    docs = catalog.table(spark, sf_dir, "documents")
    _, bvocab = B.bpe_train(docs, BPE_K)
    try:
        bpe_row = (
            bvocab.filter(F.length("word") <= UNI_MAXW)
            .agg(
                F.sum("freq").cast("long").alias("total_words_w"),
                F.sum(F.col("freq") * F.size("toks")).cast("long").alias(
                    "total_pieces_w"
                ),
            )
            .select(
                F.lit("bpe").alias("tokenizer"),
                "total_words_w",
                "total_pieces_w",
                F.expr("total_pieces_w * 100 div total_words_w")
                .cast("long")
                .alias("pieces_per_100_words"),
            )
        )
        _, path, words = _unigram_spark_path(spark, sf_dir)
        uni_row = (
            words.agg(F.sum("freq").cast("long").alias("total_words_w"))
            .crossJoin(  # 1-row x 1-row global aggregates
                path.agg(F.sum("freq").cast("long").alias("total_pieces_w"))
            )
            .select(
                F.lit("unigram").alias("tokenizer"),
                "total_words_w",
                "total_pieces_w",
                F.expr("total_pieces_w * 100 div total_words_w")
                .cast("long")
                .alias("pieces_per_100_words"),
            )
        )
        out = bpe_row.unionByName(uni_row).orderBy("tokenizer")
        return out.localCheckpoint(eager=True)  # materialize before unpersist
    finally:
        bvocab.unpersist()
