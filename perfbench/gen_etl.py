"""Seeded GTEx-like source generator for the etl_release workload.

Writes three TSVs in the layout `pipelines.run_gtex_like_etl` declares:

- subjects.tsv    SUBJID, SEX, AGE
- samples.tsv     SAMPID, SMTS, SMRIN (SAMPID = <SUBJID>-<n>)
- restricted.tsv  SUBJID, CONSENT, AGE (one row per subject)

and plants known integrity faults: a share of the sample rows belong to
subjects absent from subjects.tsv (dangling foreign keys), and a share of
the restricted rows disagree with subjects.tsv on AGE (merge conflicts).
Consent groups are drawn from a fixed set of four codes; the exact group
sizes come back as `expected_group_sizes`, the reconciliation input.

Everything is drawn from one seeded generator, so the same arguments
always write the same bytes. The program under test receives only the
TSV paths and the expected sizes.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

AGES = ["20-29", "30-39", "40-49", "50-59", "60-69"]
TISSUES = [
    "Adipose Tissue", "Blood", "Brain", "Colon", "Heart", "Liver", "Lung",
    "Muscle", "Nerve", "Skin", "Thyroid", "Whole Blood",
]
CONSENT_CODES = ["1", "2", "3", "4"]
_ID_BASE = 36**3  # first subject id encodes to four base-36 digits


@dataclass(frozen=True)
class EtlInputs:
    subjects_tsv: str
    samples_tsv: str
    restricted_tsv: str
    expected_group_sizes: dict[str, int]
    n_dangling_samples: int
    n_conflicts: int
    n_rows: int
    n_bytes: int


def _base36(n: int) -> str:
    digits = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = digits[r] + out
    return out or "0"


def _write_tsv(path: str, header: list[str], rows: list[tuple]) -> int:
    text = "\t".join(header) + "\n" + "".join("\t".join(r) + "\n" for r in rows)
    data = text.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def generate(
    out_dir: str,
    seed: int,
    n_subjects: int,
    samples_per_subject: int = 10,
    dangling_share: float = 0.01,
    conflict_share: float = 0.005,
) -> EtlInputs:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_samples = n_subjects * samples_per_subject
    n_dangling = max(1, round(n_samples * dangling_share))
    n_conflicts = max(1, round(n_subjects * conflict_share))

    subj_ids = [f"GTEX-{_base36(_ID_BASE + i)}" for i in range(n_subjects)]
    sexes = rng.integers(1, 3, n_subjects)
    ages = rng.integers(0, len(AGES), n_subjects)
    consents = rng.integers(0, len(CONSENT_CODES), n_subjects)

    subjects = [(s, str(sx), AGES[a]) for s, sx, a in zip(subj_ids, sexes.tolist(), ages.tolist())]

    # Conflicts: the restricted AGE moves to another bucket for a seeded
    # subset of subjects; everyone else agrees with subjects.tsv.
    restricted_age = ages.copy()
    conflict_idx = rng.choice(n_subjects, n_conflicts, replace=False)
    restricted_age[conflict_idx] = (
        ages[conflict_idx] + rng.integers(1, len(AGES), n_conflicts)
    ) % len(AGES)
    restricted = [
        (s, CONSENT_CODES[c], AGES[a])
        for s, c, a in zip(subj_ids, consents.tolist(), restricted_age.tolist())
    ]

    # Samples: every subject gets samples_per_subject samples, then a seeded
    # subset of sample rows is re-pointed at subjects that do not exist.
    owners = np.repeat(np.arange(n_subjects), samples_per_subject)
    numbers = np.tile(np.arange(1, samples_per_subject + 1), n_subjects)
    tissues = rng.integers(0, len(TISSUES), n_samples)
    rins = np.round(rng.uniform(5.0, 10.0, n_samples), 1)
    dangling_idx = set(rng.choice(n_samples, n_dangling, replace=False).tolist())
    samples = []
    for i, (o, k, t, r) in enumerate(
        zip(owners.tolist(), numbers.tolist(), tissues.tolist(), rins.tolist())
    ):
        owner = (
            f"GTEX-{_base36(_ID_BASE + n_subjects + i)}" if i in dangling_idx else subj_ids[o]
        )
        samples.append((f"{owner}-{k}", TISSUES[t], f"{r:.1f}"))

    order = rng.permutation(n_subjects).tolist()
    subjects = [subjects[i] for i in order]
    restricted = [restricted[i] for i in rng.permutation(n_subjects).tolist()]
    samples = [samples[i] for i in rng.permutation(n_samples).tolist()]

    paths = {name: os.path.join(out_dir, f"{name}.tsv") for name in ("subjects", "samples", "restricted")}
    n_bytes = _write_tsv(paths["subjects"], ["SUBJID", "SEX", "AGE"], subjects)
    n_bytes += _write_tsv(paths["samples"], ["SAMPID", "SMTS", "SMRIN"], samples)
    n_bytes += _write_tsv(paths["restricted"], ["SUBJID", "CONSENT", "AGE"], restricted)

    group_sizes = Counter(CONSENT_CODES[c] for c in consents.tolist())
    return EtlInputs(
        subjects_tsv=paths["subjects"],
        samples_tsv=paths["samples"],
        restricted_tsv=paths["restricted"],
        expected_group_sizes=dict(sorted(group_sizes.items())),
        n_dangling_samples=n_dangling,
        n_conflicts=n_conflicts,
        n_rows=2 * n_subjects + n_samples,
        n_bytes=n_bytes,
    )
