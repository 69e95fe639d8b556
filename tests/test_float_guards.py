"""Ulp-boundary guards for the repo's single-transcendental parity paths
(ADVICE r7): `floor(ln(x) * 1e6 + 0.5)` relies on DuckDB's and the JVM's
libm agreeing on ln to well under the quantization step. IEEE does not
require correctly rounded ln, so a 1-ulp divergence is possible — it
only MATTERS if the pre-floor value sits essentially ON a rounding
boundary, where a 1-ulp nudge flips the quantized integer and the
ranked/hashed output becomes flaky rather than wrong.

These tests enumerate every ln argument the gated queries evaluate on
the test corpora and assert the pre-floor value is not within EPS of an
integer boundary. A 1-ulp ln error perturbs ln(x)*1e6 by at most
~|ln(x)|*1e6 * 2^-52 ≈ 4e-9 for the magnitudes seen here, so EPS=1e-6
gives > 100x margin while being loose enough that a random corpus
essentially never trips it spuriously (P ~ 2e-6 per distinct value).
If a future corpus DOES trip this, the fix is to perturb the quantizer
(e.g. +0.5000001) in BOTH engines, not to loosen EPS.
"""

from __future__ import annotations

import math

import duckdb
import pytest

EPS = 1e-6

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def boundary_distance(pre_floor: float) -> float:
    """Distance of the pre-floor value from the nearest flip point."""
    frac = pre_floor - math.floor(pre_floor)
    return min(frac, 1.0 - frac)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_column_entropy_lns_not_on_rounding_boundary(sf_dir):
    """prof_column_entropy quantizes ln over per-value counts and column
    totals; every distinct argument must clear the flip point."""
    from gtec_etl_spark.plans.profile_queries import ENTROPY_COLS

    con = duckdb.connect()
    args = set()
    for t, c in ENTROPY_COLS:
        con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
        rows = con.execute(
            f"SELECT CAST(count(*) AS BIGINT) FROM t GROUP BY {c}"
        ).fetchall()
        args.update(n for (n,) in rows)
        args.add(sum(n for (n,) in rows))
    assert args
    worst = min(boundary_distance(math.log(a) * 1_000_000 + 0.5) for a in args)
    assert worst > EPS, f"ln argument within {worst} of a flip point"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_unigram_lp_not_on_rounding_boundary(sf_dir):
    """text_unigram_em quantizes ln(cnt) and ln(total) (seed vocab) plus
    ln(em_count) and ln(em_total) (M-step) to micro-nats; every ln
    argument must sit clear of a flip point. Enumerates the seed-count
    domain and the totals; EM counts are sums of seed-path frequencies —
    covered by enumerating all BIGINTs up to the seed total would be
    loose, so this checks the exact argument sets both engines evaluate
    (vocab counts, both totals, and the realized em_counts from the
    oracle's own CTE chain)."""
    from gtec_etl_spark.plans import registry

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    oracle = registry.specs()["text_unigram_em"].oracle
    rows = con.execute(oracle).fetchall()
    assert rows
    args = set()
    seed_total = 0
    em_total = 0
    for piece, seed_count, _slp, em_count, _elp in rows:
        args.add(int(seed_count))
        seed_total += int(seed_count)
        if em_count:
            args.add(int(em_count))
            em_total += int(em_count)
    args.add(seed_total)
    args.add(em_total)
    worst = min(
        boundary_distance(math.log(a) * 1_000_000 + 0.5) for a in args if a > 0
    )
    assert worst > EPS, (
        f"unigram lp flip-point distance {worst:.3e} at {sf_dir}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_psi_drift_lns_not_on_rounding_boundary(sf_dir):
    """prof_drift_psi quantizes ln over four integer-argument families:
    n_a+1, n_b+1, T_a+V, T_b+V (the KL-drift decomposition). Every
    distinct argument's pre-floor value must clear the flip point."""
    from gtec_etl_spark.plans.profile_queries import (
        PSI_BUCKET_W,
        PSI_NBUCKETS,
        PSI_SPLIT_TS,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    args = con.execute(
        f"""
        WITH b AS (
          SELECT least(CAST(floor("value" / {PSI_BUCKET_W}) AS BIGINT),
                       {PSI_NBUCKETS - 1}) AS bucket,
                 CASE WHEN ts < TIMESTAMP '{PSI_SPLIT_TS}' THEN 0 ELSE 1
                 END AS w
          FROM events),
        counts AS (SELECT bucket,
            CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM b GROUP BY bucket),
        scal AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
                        CAST(sum(n_b) AS BIGINT) AS tb,
                        CAST(count(*) AS BIGINT) AS v FROM counts)
        SELECT DISTINCT arg FROM (
          SELECT n_a + 1 AS arg FROM counts
          UNION SELECT n_b + 1 FROM counts
          UNION SELECT ta + v FROM scal
          UNION SELECT tb + v FROM scal)
        """
    ).fetchall()
    assert args
    worst = min(
        boundary_distance(math.log(a) * 1_000_000 + 0.5) for (a,) in args
    )
    assert worst > EPS, f"psi ln argument within {worst} of a flip point"
