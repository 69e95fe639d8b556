"""Property-based tests (hypothesis) — beyond the reference's test strategy
(SURVEY.md §5: it had no unit tests at all): operator semantics hold for
arbitrary inputs, not just fixtures. Spark jobs are slow, so examples are
few but adversarially shrunk.
"""

from __future__ import annotations

import os
import tempfile
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from gtec_etl_spark.operators.aggregates import mode_pick
from gtec_etl_spark.operators.scale import salted_join
from gtec_etl_spark.sources import validated

SLOW = settings(max_examples=8, deadline=None)

values = st.sampled_from(["a", "b", "c", "dd", "EE"])
groups = st.integers(min_value=0, max_value=3)


@SLOW
@given(st.lists(st.tuples(groups, values), min_size=1, max_size=40))
def test_mode_pick_matches_reference_tiebreak(spark, data):
    """Mode with the reference's tie-break (count desc, then value asc —
    dna_extracts.py:49-53) equals a direct Python computation."""
    df = spark.createDataFrame(data, "g int, v string")
    got = {
        r["g"]: (r["mode_value"], r["mode_count"])
        for r in mode_pick(df, "g", "v").collect()
    }
    want = {}
    for g in {g for g, _ in data}:
        counts = Counter(v for gg, v in data if gg == g)
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[g] = best
    assert got == want


@SLOW
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=0, max_size=30),
    st.lists(st.integers(0, 5), min_size=0, max_size=6),
)
def test_salted_join_equals_plain_join(spark, fact_rows, dim_keys):
    """Salting never changes join semantics, for arbitrary key overlap
    (including empty sides and dangling keys)."""
    fact = spark.createDataFrame(fact_rows, "k int, payload int") if fact_rows else (
        spark.createDataFrame([], "k int, payload int")
    )
    dim_rows = [(k, f"d{k}") for k in sorted(set(dim_keys))]
    dim = spark.createDataFrame(dim_rows, "k int, label string") if dim_rows else (
        spark.createDataFrame([], "k int, label string")
    )
    plain = sorted(tuple(r) for r in fact.join(dim, "k").collect())
    salted = sorted(tuple(r) for r in salted_join(fact, dim, "k", n_salts=3).collect())
    assert salted == plain


@SLOW
@given(st.lists(st.text(alphabet="abcdef ", min_size=0, max_size=30), min_size=1, max_size=10))
def test_exact_dedup_fingerprint_whitespace_invariant(spark, texts):
    """The exact-dedup fingerprint is invariant under leading/trailing and
    repeated internal whitespace (the normalization contract)."""
    from gtec_etl_spark.operators.dedup import normalized_text

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fp")).collect()}
    messy = [(i, "  " + t.replace(" ", "   ") + " ") for i, t in rows]
    df2 = spark.createDataFrame(messy, "doc_id long, text string")
    fp2 = {r["doc_id"]: r["fp"] for r in df2.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fp")).collect()}
    assert fp == fp2


@SLOW
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 9)), min_size=0, max_size=40),
    st.integers(1, 4),
    st.integers(1, 5),
)
def test_topn_per_key_salted_equals_single_window(spark, rows, n, n_salts):
    """The two-level salted top-n (local per (key, salt) then global per
    key) returns EXACTLY the single-window top-n for any data, any n, any
    salt count — including heavy ties broken by the unique id column."""
    from gtec_etl_spark.operators.aggregates import top_k_per_group, topn_per_key_salted

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k long, v long"
    )
    order = [F.col("v"), F.col("id")]
    want = sorted(
        (r["k"], r["id"], r["v"], r["rn"])
        for r in top_k_per_group(df, "k", order, n).collect()
    )
    got = sorted(
        (r["k"], r["id"], r["v"], r["rn"])
        for r in topn_per_key_salted(df, "k", order, n, "id", n_salts).collect()
    )
    assert got == want


_iv = st.tuples(st.integers(-20, 20), st.integers(-20, 20)).map(
    lambda t: (min(t), max(t))
)


@SLOW
@given(
    st.lists(_iv, min_size=0, max_size=12),
    st.lists(_iv, min_size=0, max_size=12),
    st.integers(1, 9),
)
def test_interval_overlap_join_equals_bruteforce(spark, a_ivs, b_ivs, width):
    """The bucketized interval join equals the naive O(n*m) theta join for
    arbitrary half-open intervals — negative coordinates, empty intervals
    ([x,x) matches nothing), and any bucket width. Each overlapping pair
    must appear EXACTLY once (the first-shared-bucket dedup rule)."""
    from gtec_etl_spark.operators.joins import interval_overlap_join

    a = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(a_ivs)], "a_id long, a_lo long, a_hi long"
    )
    b = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(b_ivs)], "b_id long, b_lo long, b_hi long"
    )
    got = Counter(
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi", width).collect()
    )
    want = Counter(
        (i, j)
        for i, (alo, ahi) in enumerate(a_ivs)
        for j, (blo, bhi) in enumerate(b_ivs)
        # half-open overlap; an EMPTY interval ([x,x)) covers nothing and
        # matches nothing (the operator's documented contract — the raw
        # overlap predicate alone would wrongly treat it as a point).
        if alo < ahi and blo < bhi and alo < bhi and blo < ahi
    )
    assert got == want


@SLOW
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15),
)
def test_asof_join_equals_bruteforce(spark, fact_rows, event_rows):
    """asof_join equals the per-row Python reference (latest event
    at-or-before, ties by (event time, payload) max) for arbitrary data —
    duplicate fact rows and tied event timestamps included. Facts carry a
    synthetic unique pk used only as the stable row tag."""
    from gtec_etl_spark.operators.joins import asof_join

    facts = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(fact_rows)], "pk long, k long, t long"
    )
    events = spark.createDataFrame(
        [(k, t, f"p{k}_{t}_{i % 2}") for i, (k, t) in enumerate(event_rows)],
        "k long, et long, payload string",
    )
    got = {
        r["pk"]: (r["payload"], r["asof_time"])
        for r in asof_join(
            facts, events, "k", "k", "t", "et", ["payload"], row_tag="pk"
        ).collect()
    }
    ev_rows = [(k, t, f"p{k}_{t}_{i % 2}") for i, (k, t) in enumerate(event_rows)]
    want = {}
    for pk, (k, t) in enumerate(fact_rows):
        cands = [(et, p) for (ek, et, p) in ev_rows if ek == k and et <= t]
        want[pk] = max(cands)[::-1] if cands else (None, None)
    assert got == want


@SLOW
@given(
    st.lists(
        st.floats(
            min_value=-100.0,
            max_value=100.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=1,
        max_size=16,
    )
)
def test_quantize_micros_matches_python_ieee(spark, xs):
    """quantize_micros (floor(x*1e6 + 0.5) elementwise) is IEEE-exact: the
    JVM expression must produce the int64s Python's float arithmetic
    produces for any float32 input — the property the PQ oracle parity
    stands on."""
    import math

    from gtec_etl_spark.operators.similarity import quantize_micros

    df = spark.createDataFrame([(xs,)], "v array<float>")
    got = df.select(quantize_micros(F.col("v")).alias("q")).first()["q"]
    want = [math.floor(float(x) * 1000000.0 + 0.5) for x in xs]
    assert got == want


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=8).map("".join),
        min_size=1,
        max_size=6,
    ),
    st.sampled_from(["aa", "ab", "ba", "bb"]),
)
def test_bpe_apply_merge_equals_python_greedy(spark, toks, pair):
    """operators.bpe.apply_merge (the map-side carry fold) implements
    greedy left-to-right non-overlapping pair merging — checked against a
    direct Python scan for adversarial inputs ('aaa' overlap runs etc.)."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.operators import bpe as B

    left, right = pair[0], pair[1]

    def py_merge(ts):
        out, i = [], 0
        while i < len(ts):
            if i + 1 < len(ts) and ts[i] == left and ts[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(ts[i])
                i += 1
        return out

    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(
        B.apply_merge(F.col("toks"), left, right).alias("m")
    ).collect()[0]["m"]
    assert got == py_merge(toks)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),              # key
            st.sampled_from(["I", "U", "D"]),                   # op
            st.text(alphabet="xyz", min_size=1, max_size=3),    # value
        ),
        min_size=1,
        max_size=12,
    )
)
def test_cdc_collapse_apply_equals_sequential_replay(spark, ops):
    """operators.cdc: collapsing a changelog to max-seq-per-key and
    merging once must equal replaying the ops one at a time in seq order
    — the compacted-topic equivalence CDC consumers rely on."""
    from gtec_etl_spark.operators import cdc

    base_rows = [(1, "a"), (2, "b")]
    log_rows = [
        (k, op, i + 1, v if op != "D" else None)
        for i, (k, op, v) in enumerate(ops)
    ]

    state = dict(base_rows)
    for k, op, _seq, v in log_rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    base = spark.createDataFrame(base_rows, "k long, v string")
    log = spark.createDataFrame(log_rows, "k long, op string, seq long, v string")
    latest = cdc.collapse_changelog(log, "k", ["v"])
    got = {
        r["k"]: r["v"]
        for r in cdc.apply_changes(base, latest, "k", ["v"]).collect()
    }
    assert got == state


@SLOW
@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=255),
)
def test_z_value_prefix_bounds_both_coordinates(spark, x, y):
    """Morton-code property: the top 2k bits of z determine x's and y's
    top k bits — i.e. a z-prefix range is a 2-D tile, the invariant the
    Z-order layout's pruning claims rest on. Also: interleave is
    invertible (even/odd bit split returns (x, y))."""
    from pyspark.sql import functions as F

    from gtec_etl_spark.sinks.tabular import z_value

    df = spark.createDataFrame([(x, y)], "x long, y long")
    z = df.select(z_value(F.col("x"), F.col("y"), 8).alias("z")).collect()[0]["z"]
    xr = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    yr = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    assert (xr, yr) == (x, y)
    # Tile identity: the 4-bit bucket prefix is exactly (x_hi2, y_hi2)
    # interleaved, so one bucket spans one quarter of EACH axis.
    bucket = z >> 12
    assert bucket == (
        ((x >> 7) & 1) << 3 | ((y >> 7) & 1) << 2
        | ((x >> 6) & 1) << 1 | ((y >> 6) & 1)
    )


@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=50)
)
@settings(max_examples=60, deadline=None)
def test_cusum_prefix_identity_equals_recursion(counts):
    """ev_cusum_alerts computes the reset CUSUM
    S_i = max(0, S_(i-1) + d_i) via the window identity
    S_i = P_i - min(0, min_(j<=i) P_j) (P = inclusive prefix sum of d) —
    the identity is what makes the operator expressible without
    recursion in BOTH engines, so pin it against the textbook recursion
    for arbitrary deviation sequences (derived here exactly as the
    query derives them: d_i = 2*n_i - med2 - 1 over integer counts)."""
    med2 = int(2 * (sorted(counts)[len(counts) // 2] if len(counts) % 2
               else (sorted(counts)[len(counts) // 2 - 1]
                     + sorted(counts)[len(counts) // 2]) / 2))
    devs = [2 * n - med2 - 1 for n in counts]
    # textbook recursion
    s, rec = 0, []
    for d in devs:
        s = max(0, s + d)
        rec.append(s)
    # window identity
    pre, mn, idn = 0, 0, []
    for d in devs:
        pre += d
        mn = min(mn, pre)
        idn.append(pre - min(mn, 0))
    assert idn == rec


@SLOW
@given(
    st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=60
    )
)
def test_equidepth_scaled_rank_selection_equals_ntile(spark, cents):
    """prof_equidepth_scaled's closed-form boundary math (ntile bucket i
    covers ranks (i-1)*q + min(i-1, rem) + 1 .. i*q + min(i, rem), and
    value-at-rank is tie-break-independent) must reproduce the literal
    ntile spec for ARBITRARY duplicate-heavy value multisets, not just
    the orders fixture — duplicates spanning bucket boundaries are
    exactly the case the histogram argument has to survive."""
    from gtec_etl_spark.operators.scale import distributed_prefix_sum

    B = 4
    n = len(cents)
    q, rem = divmod(n, B)
    # Reference: literal ntile over (value, row index) tie-break.
    ordered = sorted(range(n), key=lambda i: (cents[i], i))
    want = {}
    for b in range(1, B + 1):
        s = (b - 1) * q + min(b - 1, rem) + 1
        e = b * q + min(b, rem)
        if s > e:
            continue
        vals = [cents[ordered[r - 1]] for r in range(s, e + 1)]
        want[b] = (e - s + 1, min(vals), max(vals))

    hist = (
        spark.createDataFrame([(v,) for v in cents], "v long")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cum = distributed_prefix_sum(hist, "v", "c", out_col="cum")
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    spine = (
        spark.range(1, B + 1)
        .select(F.col("id").cast("long").alias("bucket"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.expr(
                f"(bucket - 1) * (n div {B}) + least(bucket - 1, n % {B}) + 1"
            ).alias("s_rank"),
            F.expr(f"bucket * (n div {B}) + least(bucket, n % {B})").alias(
                "e_rank"
            ),
        )
    )
    lo = cum.join(
        F.broadcast(spine),
        (F.col("cum") - F.col("c") < F.col("s_rank"))
        & (F.col("s_rank") <= F.col("cum")),
    ).select("bucket", "s_rank", "e_rank", F.col("v").alias("lo_v"))
    hi = cum.join(
        F.broadcast(spine.select("bucket", "e_rank")),
        (F.col("cum") - F.col("c") < F.col("e_rank"))
        & (F.col("e_rank") <= F.col("cum")),
    ).select("bucket", F.col("v").alias("hi_v"))
    got = {
        r["bucket"]: (
            int(r["e_rank"] - r["s_rank"] + 1),
            int(r["lo_v"]),
            int(r["hi_v"]),
        )
        for r in lo.join(hi, "bucket").collect()
    }
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.sampled_from(["view", "click", "signup", "error", "purchase"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_markov_edge_explode_equals_three_branch_union(spark, events):
    """ev_attribution_markov's round-13 single-pass explode (START edge,
    consecutive pair, terminal null — one window chain) must emit the
    exact multiset of edges the naive three-branch union defines, for
    arbitrary journeys: purchase-first users, purchase-less users,
    single-event users, multi-purchase users (truncation at FIRST
    purchase)."""
    rows = [
        (u, f"2024-01-01 00:{i:02d}:00", i, t)
        for i, (u, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    # Reference: naive per-user Python replay.
    from collections import Counter, defaultdict

    seqs = defaultdict(list)
    for i, (u, t) in enumerate(events):
        seqs[u].append((i, t))  # ts order == event_id order here
    want: Counter = Counter()
    for u, evs in seqs.items():
        types = [t for _, t in evs]
        prk = next((k for k, t in enumerate(types) if t == "purchase"), None)
        kept = types if prk is None else types[: prk + 1]
        want[("START", kept[0])] += 1
        for a, b in zip(kept, kept[1:]):
            want[(a, b)] += 1
        if kept[-1] != "purchase":
            want[(kept[-1], "null")] += 1

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    r = df.select(
        "user_id", "event_type", F.row_number().over(w).alias("rk")
    ).withColumn(
        "prk",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rk"))
        ).over(wp),
    )
    kept = r.filter(F.col("prk").isNull() | (F.col("rk") <= F.col("prk")))
    wk = Window.partitionBy("user_id").orderBy("rk")
    pairs = kept.select(
        "event_type", "rk", F.lead("event_type").over(wk).alias("nxt")
    )
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.when(
                        F.col("rk") == 1,
                        F.struct(
                            F.lit("START").alias("a"),
                            F.col("event_type").alias("b"),
                        ),
                    ),
                    F.struct(
                        F.col("event_type").alias("a"),
                        F.when(F.col("nxt").isNotNull(), F.col("nxt"))
                        .when(
                            F.col("event_type") != "purchase", F.lit("null")
                        )
                        .alias("b"),
                    ),
                )
            ).alias("e")
        )
        .filter(F.col("e").isNotNull() & F.col("e.b").isNotNull())
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
    )
    got = Counter((r["a"], r["b"]) for r in edges.collect())
    assert got == want


_RAGGED_SPEC = validated.TableSpec(
    columns=[
        validated.ColumnSpec("ID", empty_ok=False),
        validated.ColumnSpec("A"),
        validated.ColumnSpec("B"),
    ],
    primary_key=["ID"],
    name="t",
)
_cells = st.text(alphabet="abcXYZ019.-", min_size=1, max_size=6)


@SLOW
@given(
    st.lists(_cells, min_size=1, max_size=7).filter(lambda f: len(f) != 3),
    st.integers(min_value=0, max_value=3),
)
def test_ragged_row_always_fails_fast(spark, fields, at):
    """A row with any field count other than the declared one, at any
    position of an otherwise valid file, fails validation as exactly one
    row_shape violation carrying the raw line — never a row the CSV reader
    silently truncated or null-padded."""
    ragged = "\t".join(fields)
    rows = [f"id{i}\tx\ty" for i in range(3)]
    rows.insert(at, ragged)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.tsv")
        with open(path, "w") as f:
            f.write("ID\tA\tB\n" + "\n".join(rows) + "\n")
        df = validated.read_tsv(spark, path, _RAGGED_SPEC)
        with pytest.raises(validated.ValidationError) as ei:
            validated.assert_valid(df, _RAGGED_SPEC)
    (v,) = ei.value.sample
    assert (v["table"], v["value"], v["check"]) == ("t", ragged, "row_shape")
    assert v["row_key"].endswith("/t.tsv")


# Names, patterns and values that need quoting or escaping in SQL text.
_TRICKY_NAMES = ["plain", "two words", "back`tick", "it's", 'dq"name']
_REGEX_ATOMS = [r"\d", r"\t", "'", r"\\", "a", r"\d+", "[a']"]
_TRICKY_VALUES = ["a", "1", "2", "it's", "'", "\\", "a'\\b", "\t", "\\d"]
_tricky_cells = st.sampled_from(["", None, "1", "12", "a1", "'", "\\", "a\\'", "\t7", "x"])


@st.composite
def _tricky_specs(draw):
    names = draw(
        st.lists(st.sampled_from(_TRICKY_NAMES), min_size=2, max_size=4, unique=True)
    )
    columns = []
    for name in names:
        regex = draw(
            st.none()
            | st.lists(st.sampled_from(_REGEX_ATOMS), min_size=1, max_size=3).map(
                lambda atoms: "^" + "".join(atoms)
            )
        )
        cv = draw(st.none() | st.lists(st.sampled_from(_TRICKY_VALUES), max_size=3))
        integer_cv = draw(
            st.none()
            | st.dictionaries(
                st.integers(min_value=1, max_value=3),
                st.sampled_from(_TRICKY_VALUES),
                min_size=1,
                max_size=3,
            )
        )
        empty_ok = draw(st.booleans())
        columns.append(validated.ColumnSpec(name, regex, cv, integer_cv, empty_ok))
    pk = names[: draw(st.integers(min_value=1, max_value=2))]
    return validated.TableSpec(columns=columns, primary_key=pk, name="t'\\")


def _python_violations(spec, rows):
    """The reference's per-cell checks (ccmm/gtex/parsers/util.py:31-105),
    row at a time, keyed like the engine: PK values joined by '|'
    (nulls skipped), duplicates counted per distinct PK tuple."""
    import re

    out, per_pk = Counter(), Counter()
    for row in rows:
        cells = dict(zip(spec.names(), row))
        pk = tuple(cells[k] for k in spec.primary_key)
        key = "|".join(v for v in pk if v is not None)
        per_pk[(pk, key)] += 1
        for c in spec.columns:
            v = cells[c.name]
            if v is None or v == "":
                if not c.empty_ok:
                    out[(key, c.name, v, "not_null")] += 1
                continue
            if c.regex and not re.search(c.regex, v, re.ASCII):
                out[(key, c.name, v, "regex")] += 1
            if c.cv is not None and v not in c.cv:
                out[(key, c.name, v, "cv")] += 1
            if c.integer_cv is not None and v not in {str(k) for k in c.integer_cv}:
                out[(key, c.name, v, "integer_cv")] += 1
    for (_, key), n in per_pk.items():
        if n > 1:
            out[(key, spec.primary_key[0], str(n), "duplicate_pk")] += 1
    return out


@SLOW
@given(_tricky_specs(), st.data())
def test_validation_sql_text_quotes_names_patterns_and_values(spark, spec, data):
    """The validation plan is SQL text: column names with spaces, backticks
    and quotes, regexes with \\d, \\t, ' and \\\\, and vocabularies and
    decode labels with ' and \\ must all reach Spark verbatim. The
    violations equal a row-at-a-time Python check, and apply_mappings
    decodes like a dict lookup."""
    from pyspark.sql.types import StringType, StructField, StructType

    width = len(spec.columns)
    rows = data.draw(
        st.lists(st.tuples(*[_tricky_cells] * width), min_size=1, max_size=6)
    )
    schema = StructType([StructField(n, StringType()) for n in spec.names()])
    df = spark.createDataFrame(rows, schema)

    got = Counter(tuple(r) for r in validated.validate(df, spec).collect())
    assert got == _python_violations(spec, rows)

    def mapped(c, v):
        v = None if v == "" else v
        if c.integer_cv is None:
            return v
        return {str(k): x for k, x in c.integer_cv.items()}.get(v)

    want = Counter(
        tuple(mapped(c, v) for c, v in zip(spec.columns, row))
        + tuple(v for c, v in zip(spec.columns, row) if c.integer_cv is not None)
        for row in rows
    )
    assert Counter(tuple(r) for r in validated.apply_mappings(df, spec).collect()) == want
