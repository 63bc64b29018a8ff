"""Seeded input generators. The same seed gives byte-identical files.

- EHR-like records for the map/reduce and serving workloads: four free-text
  fields with a spread of lengths; a stated share of records repeat an
  earlier record's scoped fields under a new id.
- A text corpus for the dedup workload: unique documents with a spread of
  lengths, planted near-duplicate clusters (word-level edits of one
  original) and a share of documents short enough for the length filter.
"""

from __future__ import annotations

import json
import random

# Small clinical-flavoured vocabulary; texts are random word sequences, so
# two independently drawn texts share almost no character n-grams.
_WORDS = (
    "patient presents with acute chronic mild severe pain fever cough dyspnea "
    "nausea fatigue headache rash edema hypertension diabetes asthma copd "
    "infection fracture sprain anemia arrhythmia tachycardia bradycardia "
    "stable improving worsening resolved denies reports history family social "
    "tobacco alcohol allergy penicillin sulfa latex aspirin ibuprofen "
    "metformin lisinopril atorvastatin insulin albuterol prednisone warfarin "
    "heparin omeprazole amoxicillin daily twice nightly weekly dose mg ml "
    "blood pressure heart rate glucose hemoglobin creatinine sodium potassium "
    "white count platelets troponin lipid panel a1c tsh urinalysis culture "
    "xray ct mri ultrasound ecg echo biopsy followup referral discharge "
    "admitted observed emergency clinic visit consult cardiology neurology "
    "oncology nephrology endocrinology pulmonology orthopedics dermatology "
    "left right bilateral upper lower anterior posterior normal abnormal "
    "elevated decreased negative positive within limits noted plan continue "
    "start stop titrate monitor repeat schedule educate counsel advised"
).split()

EHR_FIELDS = ("encounters", "labs", "medications", "notes")
_EHR_WORDS = {"encounters": (20, 90), "labs": (10, 50), "medications": (8, 40), "notes": (30, 160)}


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def ehr_records(seed: int, n: int, dup_share: float) -> list[dict]:
    """``n`` records ``{id, encounters, labs, medications, notes}``.
    ``round(n * dup_share)`` of them (never the first) copy every text field
    of an earlier original record."""
    rng = random.Random(seed)
    dups = set(rng.sample(range(1, n), round(n * dup_share))) if n > 1 else set()
    out: list[dict] = []
    originals: list[dict] = []
    for i in range(n):
        if i in dups:
            fields = dict(rng.choice(originals))
        else:
            fields = {f: _text(rng, *_EHR_WORDS[f]) for f in EHR_FIELDS}
            originals.append(fields)
        out.append({"id": i, **fields})
    return out


def _edit(rng: random.Random, words: list[str], frac: float) -> list[str]:
    w = list(words)
    for _ in range(max(1, round(len(w) * frac))):
        w[rng.randrange(len(w))] = rng.choice(_WORDS)
    return w


def corpus(
    seed: int,
    n: int,
    dup_share: float,
    short_share: float,
    edit_frac: float = 0.01,
) -> tuple[list[dict], dict]:
    """``n`` documents ``{doc_id, text}`` in shuffled order, plus the truth:
    ``clusters`` (doc ids of each planted cluster, original first),
    ``singles`` (unique docs long enough to survive the length filter) and
    ``short`` (docs below it). About ``dup_share`` of the docs are planted
    near-duplicates: clusters of 2-4 docs, each an ``edit_frac`` word-level
    edit of the cluster's original. Lengths spread log-uniformly from 40 to
    900 words."""
    rng = random.Random(seed)
    docs: list[tuple[str, str]] = []
    clusters: list[list[str]] = []
    singles: list[str] = []
    short: list[str] = []

    def long_words() -> list[str]:
        k = int(round(40 * (900 / 40) ** rng.random()))
        return [rng.choice(_WORDS) for _ in range(k)]

    n_dups_target = int(n * dup_share)
    n_short = int(n * short_share)
    planted = 0
    while planted < n_dups_target:
        size = rng.randint(2, 4)
        base = long_words()
        ids = []
        for j in range(size):
            did = f"c{len(clusters)}-{j}"
            docs.append((did, " ".join(base if j == 0 else _edit(rng, base, edit_frac))))
            ids.append(did)
        clusters.append(ids)
        planted += size - 1
    for k in range(n_short):
        did = f"s{k}"
        docs.append((did, " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))))
        short.append(did)
    k = 0
    while len(docs) < n:
        did = f"u{k}"
        docs.append((did, " ".join(long_words())))
        singles.append(did)
        k += 1
    rng.shuffle(docs)
    truth = {"clusters": clusters, "singles": singles, "short": short}
    return [{"doc_id": d, "text": t} for d, t in docs], truth


def write_jsonl(rows: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
