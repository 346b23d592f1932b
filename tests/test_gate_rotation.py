"""Pin the mechanical gate rotation (VERDICT r4 ask #1).

The external correctness gate samples the first ~50 entries of
``plans.QUERIES``; the iteration order is derived from the committed
``gate_history.json`` (query -> newest driver-green round).  These
tests assert the derivation is total, deterministic, and actually
rotates: the head-50 slice must not repeat the newest CORRECTNESS
file's sample.
"""
import glob
import json
import os
import re

import pytest

from yadamu___yet_another_data_migration_utility_spark.plans import (
    GATE_HISTORY,
    ORACLES,
    QUERIES,
    _GATE_PRIORITY,
    _load_gate_history,
)
from yadamu___yet_another_data_migration_utility_spark.plans.gate_history import (
    rebuild,
)

REPO_ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def _newest_correctness(max_round=None):
    best_round, best_path = -1, None
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        if rnd > best_round:
            best_round, best_path = rnd, path
    return best_round, best_path


def test_history_matches_committed_correctness_files():
    # The committed gate_history.json must equal a fresh rebuild from the
    # CORRECTNESS files in the repo root -- i.e. nobody hand-edited it
    # and nobody forgot to regenerate it after a round landed. A round
    # NEWER than the committed max is tolerated: the driver drops
    # CORRECTNESS_r{N}.json after the last commit, and the next
    # regeneration necessarily happens at the start of round N+1 -- so
    # compare against the rebuild with post-commit rounds masked out.
    committed_max = max(GATE_HISTORY.values(), default=0)
    assert GATE_HISTORY == rebuild(REPO_ROOT, max_round=committed_max)


def test_priority_orders_least_recently_verified_first():
    rounds = [GATE_HISTORY.get(q, 0) for q in _GATE_PRIORITY]
    assert rounds == sorted(rounds)
    # Deterministic tie-break by name within a round cohort.
    for i in range(1, len(_GATE_PRIORITY)):
        if rounds[i] == rounds[i - 1]:
            assert _GATE_PRIORITY[i - 1] < _GATE_PRIORITY[i]


def test_catalog_iterates_in_priority_order():
    names = list(QUERIES)
    assert names == _GATE_PRIORITY
    # ORACLES iterates in the same relative order.
    assert list(ORACLES) == [q for q in names if q in ORACLES]


def test_head_slice_rotates_away_from_newest_round():
    # The whole point: the next gate's ~50-row sample must target queries
    # NOT freshly verified by the newest CORRECTNESS file the committed
    # rotation could know about (a file from a round newer than the
    # committed map appears mid-cycle, after the round's last commit --
    # the NEXT regeneration folds it in).
    newest_round, path = _newest_correctness(
        max_round=max(GATE_HISTORY.values(), default=None))
    if path is None:
        return  # fresh clone without driver artifacts
    with open(path, "r", encoding="utf-8") as fh:
        fresh = set(json.load(fh))
    head = list(QUERIES)[:50]
    overlap = [q for q in head if q in fresh]
    # Allow overlap only if the catalog is too small to avoid it.
    assert len(QUERIES) < 50 + len(fresh) or not overlap, overlap


def test_new_queries_front_load():
    # A query absent from gate_history (never driver-checked) must sort
    # ahead of every query that has a green row.
    import yadamu___yet_another_data_migration_utility_spark.plans as plans

    probe = "zzz_brand_new_query"
    assert probe not in GATE_HISTORY
    order = sorted(
        list(QUERIES) + [probe],
        key=lambda q: (GATE_HISTORY.get(q, 0), q),
    )
    green = [i for i, q in enumerate(order) if GATE_HISTORY.get(q, 0) > 0]
    assert green, "no green row in gate_history.json"
    assert order.index(probe) < green[0]
    assert plans is not None


@pytest.mark.parametrize("content", [
    None,                 # missing
    "{\"a\": 3",          # not JSON
    "[3]",                # not an object
    '{"a": [3]}',         # int() of this was an uncaught TypeError
    '{"a": "3"}',
    '{"a": 3.5}',
    '{"a": true}',
])
def test_gate_history_fails_loudly(tmp_path, content):
    path = tmp_path / "gate_history.json"
    if content is not None:
        path.write_text(content, encoding="utf-8")
    with pytest.raises((OSError, ValueError), match=re.escape(str(path))):
        _load_gate_history(str(path))
