"""Seeded input generators for the benchmark workloads.

Everything a workload feeds the program comes from here, as a pure
function of the ``--seed``: the REDCap EAV landing set and its field map,
the document corpus, and the per-tick takedown and ingest batches. The
program only ever sees the generated parquet files. ``fingerprint`` hashes
the generated tables so the self-test can show the seed fully determines
the inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = ("baseline_arm_1", "followup_arm_1")
ANCHOR_FIELD = "np_dob"

# 24 fields per record and event: 6 date fields covering all four
# granularities, 10 unrestricted Include fields, 2 event-restricted
# Include fields, 3 Exclude fields, 2 ``*_complete`` fields (kept without
# a map entry) and 1 field missing from the map (error channel).
DATE_FIELDS = {
    "visit_date": "TransformDate",
    "lab_date": "TransformDate",
    "admit_ts": "TransformDateTime",
    "procedure_ts": "TransformDateTime",
    "discharge_ts": "TransformDateTimeSeconds",
    "enroll_date": "TransformDateYear",
}
INCLUDE_FIELDS = [
    "np_gender", "bp_sys", "bp_dia", "weight_kg", "height_cm",
    "hba1c", "egfr", "creatinine", "smoker", "med_count",
]
RESTRICTED_FIELDS = {"screen_score": EVENTS[0], "fu_status": EVENTS[1]}
EXCLUDE_FIELDS = ["ssn", "mrn", "phone"]
COMPLETE_FIELDS = ["demographics_complete", "visit_complete"]
UNMAPPED_FIELDS = ["legacy_note"]

BAD_DATES = np.array(["unknown", "pending", "??/??/????", "not recorded"])


def _date_strings(rng: np.random.Generator, n: int, with_time: bool) -> np.ndarray:
    """ISO date or datetime strings between 1990 and 2024."""
    secs = rng.integers(631152000, 1735689600, n).astype("datetime64[s]")
    if with_time:
        return np.datetime_as_string(secs, unit="s")
    return np.datetime_as_string(secs, unit="D")


def redcap_landing(seed: int, n_records: int) -> dict[str, pd.DataFrame]:
    """The EAV landing set: ``records`` (all-string EAV rows) and
    ``field_map``. About 2% of date values are unparseable and about 2.5%
    of records carry no ``np_dob`` anchor row."""
    rng = np.random.default_rng([seed, 1])
    ids = np.array([f"R{i:07d}" for i in range(n_records)])
    parts = []

    def add(event: str, field: str, values: np.ndarray, rows: np.ndarray | None = None):
        rid = ids if rows is None else ids[rows]
        parts.append(pd.DataFrame({
            "record_id": rid,
            "redcap_event_name": event,
            "redcap_repeat_instrument": "",
            "redcap_repeat_instance": "",
            "field_name": field,
            "value": values,
        }))

    has_anchor = rng.random(n_records) >= 0.025
    anchor_rows = np.flatnonzero(has_anchor)
    dob = rng.integers(-946771200, 1104537600, anchor_rows.size).astype("datetime64[s]")
    add(EVENTS[0], ANCHOR_FIELD, np.datetime_as_string(dob, unit="D"), anchor_rows)
    for event in EVENTS:
        for field, status in DATE_FIELDS.items():
            vals = _date_strings(rng, n_records, with_time=status != "TransformDate")
            bad = rng.random(n_records) < 0.02
            vals[bad] = rng.choice(BAD_DATES, int(bad.sum()))
            add(event, field, vals)
        for field in INCLUDE_FIELDS + list(RESTRICTED_FIELDS):
            add(event, field, rng.integers(0, 400, n_records).astype(str))
        for field in EXCLUDE_FIELDS:
            add(event, field, rng.integers(10**8, 10**9, n_records).astype(str))
        for field in COMPLETE_FIELDS:
            add(event, field, rng.integers(0, 3, n_records).astype(str))
        for field in UNMAPPED_FIELDS:
            add(event, field, np.full(n_records, "free text"))
    records = pd.concat(parts, ignore_index=True)
    # landing order is not record order: shuffle so the scan is not pre-sorted
    records = records.iloc[rng.permutation(len(records))].reset_index(drop=True)

    fm = [(ANCHOR_FIELD, "TransformDateYear", None, "demographics")]
    fm += [(f, s, None, "visits") for f, s in DATE_FIELDS.items()]
    fm += [(f, "Include", None, "clinical") for f in INCLUDE_FIELDS]
    fm += [(f, "Include", ev, "clinical") for f, ev in RESTRICTED_FIELDS.items()]
    fm += [(f, "Exclude", None, "identifiers") for f in EXCLUDE_FIELDS]
    field_map = pd.DataFrame(fm, columns=["field_name", "status", "restrict_to_event_list", "form_name"])
    return {"records": records, "field_map": field_map}


# ---------------------------------------------------------------------------
# documents, takedowns and ingests for the dedup-state ticks
# ---------------------------------------------------------------------------

VOCAB = np.array([f"w{i:03d}" for i in range(400)])
LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _fresh_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(20, 90, n)
    return [" ".join(rng.choice(VOCAB, k)) for k in lens]


def _near_dup(rng: np.random.Generator, text: str) -> str:
    """One or two word substitutions: a near-duplicate that LSH bands catch."""
    words = text.split()
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
    return " ".join(words)


def _doc_frame(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": ids.astype("int64"),
        "text": texts,
        "lang": rng.choice(LANGS, len(ids)),
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A corpus where about a fifth of the documents are near-duplicates
    of an original one, so the cluster state has non-trivial components
    of small diameter."""
    rng = np.random.default_rng([seed, 2])
    texts = _fresh_texts(rng, n_docs)
    dup = rng.random(n_docs) < 0.2
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = _near_dup(rng, texts[int(rng.choice(originals))])
    return _doc_frame(np.arange(n_docs), texts, rng)


def tick_batch(
    seed: int, tick: int, live: pd.DataFrame, held_out: pd.DataFrame, n_ingest: int, takedown_share: float
) -> tuple[np.ndarray, pd.DataFrame]:
    """Takedown ids (about ``takedown_share`` of the live ids) and an
    ingest batch of ``n_ingest`` docs for maintenance tick ``tick``: half
    are the next held-out corpus docs, half near-duplicates of live docs
    under fresh ids above every held-out id."""
    rng = np.random.default_rng([seed, 3, tick])
    n_del = max(1, int(round(len(live) * takedown_share)))
    takedown = np.sort(rng.choice(live["doc_id"].to_numpy(), n_del, replace=False))
    n_new = n_ingest - n_ingest // 2
    new = held_out.iloc[tick * n_new:(tick + 1) * n_new]
    src = live["text"].to_numpy()[rng.integers(len(live), size=n_ingest - len(new))]
    first_id = int(held_out["doc_id"].max()) + 1 + tick * n_ingest
    dups = _doc_frame(np.arange(first_id, first_id + len(src)), [_near_dup(rng, t) for t in src], rng)
    return takedown.astype("int64"), pd.concat([new, dups], ignore_index=True)


# ---------------------------------------------------------------------------
# parquet + fingerprint
# ---------------------------------------------------------------------------


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


def fingerprint(*frames: pd.DataFrame) -> str:
    """Order-sensitive content hash of generated tables."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]
