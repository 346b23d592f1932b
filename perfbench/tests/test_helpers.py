"""Unit tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.tracer import inclusive, self_times  # noqa: E402

SCHEMA = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("lang", pa.string()),
])
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _batch(path, rows):
    cols = list(zip(*[(lsn, op, url, T0 + dt.timedelta(seconds=lsn or 0),
                       html.encode() if html is not None else None, "en")
                      for lsn, op, url, html in rows]))
    pq.write_table(pa.Table.from_arrays([pa.array(c, type=f.type)
                                         for c, f in zip(cols, SCHEMA)], schema=SCHEMA),
                   str(path))
    return [str(path)]


@pytest.fixture
def oracle(tmp_path):
    o = Oracle()
    o.add_batch(_batch(tmp_path / "b0.parquet", [
        (1, "I", "a", "<p>a1</p>"),
        (2, "U", "a", "<p>a2</p>"),
        (3, "I", "b", "<p>b3</p>"),
        (4, "U", "b", None),          # b's winner is payload-poisoned
        (5, "I", "c", "<p>c5</p>"),
        (5, "I", "c", "<p>c5</p>"),   # exact re-delivery
        (6, "D", "d", None),          # delete of a key never written
        (7, "I", None, "<p>x</p>"),   # NULL key
    ]))
    o.add_batch(_batch(tmp_path / "b1.parquet", [
        (8, "U", "b", "<p>b8</p>"),
        (9, "D", "a", None),
        (10, "I", "e", "<p>e10</p>"),
        (11, "X", "e", "<p>e11</p>"),  # unknown op: not a winner
    ]))
    yield o
    o.close()


def _live(df):
    return dict(zip(df["url"], df["lsn"].astype(int)))


# -- tail rule -------------------------------------------------------------

def test_tail_needs_ten_samples_beyond_the_median():
    assert stats.tail(list(range(19))) is None
    t = stats.tail([float(i) for i in range(1, 21)])
    assert t == {"value": 10.0, "percentile": 50, "n": 20}


@pytest.mark.parametrize("n, pct", [(25, 60), (30, 66), (100, 90), (1000, 99)])
def test_tail_is_the_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    t = stats.tail(values)
    assert t["percentile"] == pct and t["n"] == n
    assert sum(v > t["value"] for v in values) >= stats.TAIL_BEYOND
    # one percentile higher would leave fewer than ten beyond it
    assert n * (1 - (pct + 1) / 100) < stats.TAIL_BEYOND


# -- span self time ----------------------------------------------------------

def _span(sid, parent, start, end, **kw):
    return {"span_id": sid, "parent_id": parent, "start": start, "end": end, **kw}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, jobs=1),
        _span(2, 1, 1.0, 4.0, jobs=2),
        _span(3, 1, 3.0, 5.0, jobs=0),   # overlaps span 2: counted once
        _span(4, 1, 9.0, 12.0),          # runs past the parent: clipped
        _span(5, 2, 1.5, 2.0, jobs=4),   # grandchild: span 2's, not 1's
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 9.0))
    assert own[2] == pytest.approx(3.0 - 0.5)
    assert own[5] == pytest.approx(0.5)
    assert inclusive(spans, "jobs")[1] == 7


# -- oracle ------------------------------------------------------------------

def test_oracle_skips_a_key_whose_winner_is_poisoned(oracle):
    # b's max-lsn event (4) has no html: b is skipped in batch 0, its
    # older valid event 3 does not apply either
    assert _live(oracle.state(1)) == {"a": 2, "c": 5}
    assert _live(oracle.state(2)) == {"b": 8, "c": 5, "e": 10}


def test_oracle_batch_counts(oracle):
    assert oracle.batch_counts(0) == {"rows_in": 8, "rows_quarantined": 2,
                                      "rows_merged_in": 4}
    assert oracle.batch_counts(1) == {"rows_in": 4, "rows_quarantined": 1,
                                      "rows_merged_in": 3}


def test_oracle_net_upserts_and_keys(oracle):
    assert _live(oracle.upserts(1, 2)) == {"b": 8, "e": 10}
    assert _live(oracle.state(2, keys=["a", "e", "zz"])) == {"e": 10}
    assert oracle.html([("b", 8)]) == {("b", 8): b"<p>b8</p>"}
    assert sorted(oracle.html_sample(1, 10, seed=1)) == [b"<p>b8</p>", b"<p>e10</p>",
                                                        b"<p>e11</p>"]


# -- the gate -----------------------------------------------------------------

def test_matching_state_passes(oracle):
    assert oracle.diff(oracle.state()) == []
    assert oracle.diff(pa.Table.from_pandas(oracle.state(1)), upto=1) == []


@pytest.mark.parametrize("corrupt, needle", [
    (lambda df: df.assign(lsn=df["lsn"].where(df["url"] != "c", 4)), "differ in lsn"),
    (lambda df: df[df["url"] != "b"], "missing"),
    (lambda df: pd.concat([df, df.iloc[:1].assign(url="zz")]), "unexpected"),
    (lambda df: pd.concat([df, df.iloc[:1]]), "duplicate"),
    (lambda df: df.assign(lsn=df["lsn"].where(df["url"] != "c", None)), "differ in lsn"),
    (lambda df: df.assign(warc_us=df["warc_us"] + 1), "differ in warc_us"),
    (lambda df: df.assign(lang="de"), "differ in lang"),
])
def test_corrupted_state_fails_the_gate(oracle, corrupt, needle):
    diffs = oracle.diff(corrupt(oracle.state()))
    assert any(needle in d for d in diffs), diffs


STOP_SCRIPT = """
import os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from perfbench import run
run.become_subreaper()
run.EXIT_GRACE_S, run.TERM_GRACE_S = 0.2, 0.5
# a child that starts a grandchild: once the child is stopped the
# grandchild is an orphan, which must still be stopped and waited for
child = subprocess.Popen([sys.executable, "-c",
    "import subprocess, sys, time;"
    "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']);"
    "print(p.pid, flush=True); time.sleep(60)"], stdout=subprocess.PIPE, text=True)
grandchild = int(child.stdout.readline())
run.stop_children()
gone = []
for pid in (child.pid, grandchild):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        gone.append(pid)
print(len(gone), run.children())
"""


def test_stop_children_stops_orphaned_grandchildren():
    import subprocess
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", STOP_SCRIPT, root], capture_output=True,
                         text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split("\n")[-2] == "2 []"
