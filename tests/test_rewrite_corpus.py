"""Replays the golden rewrite corpus (tests/rewrite_corpus.py): every
recorded constant input, under its recorded dialect metadata, must
rewrite to the recorded SQL or raise the recorded exception type."""

from __future__ import annotations

import json

from tests import rewrite_corpus as RC


def test_rewrite_corpus_replays_byte_identical():
    with open(RC.CORPUS) as fh:
        corpus = json.load(fh)
    assert corpus, "empty corpus"
    drift = []
    for e in corpus:
        want = {k: e[k] for k in ("sql", "raises") if k in e}
        got = RC.outcome(RC.dialect_from(e["metadata"]), e["input"])
        if got != want:
            drift.append((e["input"], e["metadata"].get("sketch_columns"), want, got))
    assert not drift, f"{len(drift)} rewrites drifted, first: {drift[0]}"
