"""Self-test of the seeded generator: the seed alone fixes every input.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def inputs_fingerprint(seed: int) -> str:
    landing = gen.redcap_landing(seed, 300)
    docs = gen.documents(seed, 200)
    live, held_out = docs.iloc[:180], docs.iloc[180:]
    takedown, ingest = gen.tick_batch(seed, 0, live, held_out, 20, 0.01)
    return gen.fingerprint(
        landing["records"], landing["field_map"], docs, ingest, gen.pd.DataFrame({"doc_id": takedown})
    )


def test_same_seed_same_inputs():
    assert inputs_fingerprint(7) == inputs_fingerprint(7)


def test_other_seed_other_inputs():
    assert inputs_fingerprint(7) != inputs_fingerprint(8)


def test_landing_shape():
    tabs = gen.redcap_landing(3, 1000)
    rec = tabs["records"]
    fields_per_event = (
        len(gen.DATE_FIELDS) + len(gen.INCLUDE_FIELDS) + len(gen.RESTRICTED_FIELDS)
        + len(gen.EXCLUDE_FIELDS) + len(gen.COMPLETE_FIELDS) + len(gen.UNMAPPED_FIELDS)
    )
    assert fields_per_event == 24
    anchors = (rec["field_name"] == gen.ANCHOR_FIELD).sum()
    assert len(rec) == 1000 * len(gen.EVENTS) * fields_per_event + anchors
    assert 0.95 < anchors / 1000 < 0.995
    dates = rec[rec["field_name"].isin(list(gen.DATE_FIELDS))]
    bad = dates["value"].isin(gen.BAD_DATES).mean()
    assert 0.01 < bad < 0.03


def test_tick_batch_ids_are_fresh():
    docs = gen.documents(5, 200)
    live, held_out = docs.iloc[:180], docs.iloc[180:]
    takedown, ingest = gen.tick_batch(5, 1, live, held_out, 20, 0.05)
    assert set(takedown) <= set(live["doc_id"])
    assert not set(ingest["doc_id"]) & set(live["doc_id"])
    assert ingest["doc_id"].is_unique
