"""IncrementalRollup: a continuous aggregate maintained from the CDC
stream must equal a full recompute of the base snapshot after EVERY
refresh -- across fast-path windows, diff-path windows (compaction in
the window), delete-to-zero groups, NULL dims, replayed windows and
process restarts (cursor recovery from the rollup's own audit chain)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
from yadamu___yet_another_data_migration_utility_spark.streaming.rollup import (
    IncrementalRollup,
)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def mk_base(root):
    return LakeTable.create(root, SCHEMA, key="url", bucket_count=4,
                            merge_mode="mor")


def batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, kind string, value double, op string, lsn long"
    )


def canon(df):
    return {
        tuple(None if v is None else str(v) for v in r)
        for r in df.select("kind", "n_rows", "sum_value").collect()
    }


def assert_current(spark, ru: IncrementalRollup):
    got = canon(ru.read(spark))
    exp = canon(ru.recompute(spark))
    assert got == exp, f"rollup diverged: {got} vs {exp}"


def test_rollup_tracks_base_across_windows(spark, tmp_path):
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    assert ru.cursor() == base.current_version()
    assert_current(spark, ru)  # empty == empty

    # window 1: inserts across two groups
    base.merge(spark, batch(spark, [
        ("a", "x", 1.5, "I", 1), ("b", "x", 2.0, "I", 2),
        ("c", "y", 10.0, "I", 3),
    ]), batch_id=0)
    ru.refresh(spark)
    assert_current(spark, ru)
    assert canon(ru.read(spark)) == {("x", "2", "3.500000"),
                                     ("y", "1", "10.000000")}

    # window 2: update moves a row BETWEEN groups + a delete
    base.merge(spark, batch(spark, [
        ("a", "y", 1.5, "U", 4), ("c", None, None, "D", 5),
    ]), batch_id=1)
    ru.refresh(spark)
    assert_current(spark, ru)
    assert canon(ru.read(spark)) == {("x", "1", "2.000000"),
                                     ("y", "1", "1.500000")}

    # window 3: delete-to-zero -- group y must disappear
    base.merge(spark, batch(spark, [("a", None, None, "D", 6)]), batch_id=2)
    ru.refresh(spark)
    assert_current(spark, ru)
    assert canon(ru.read(spark)) == {("x", "1", "2.000000")}


def test_rollup_diff_path_window_and_multi_commit(spark, tmp_path):
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    base.merge(spark, batch(spark, [
        ("a", "x", 1.0, "I", 1), ("b", "y", 2.0, "I", 2),
    ]), batch_id=0)
    # one refresh spanning THREE commits incl. a compact => diff path
    base.merge(spark, batch(spark, [("b", "y", 5.0, "U", 3)]), batch_id=1)
    base.compact(spark)
    ru.refresh(spark)
    assert_current(spark, ru)
    assert canon(ru.read(spark)) == {("x", "1", "1.000000"),
                                     ("y", "1", "5.000000")}


def test_rollup_replay_window_is_fenced_noop(spark, tmp_path):
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    base.merge(spark, batch(spark, [("a", "x", 1.0, "I", 1)]), batch_id=0)
    head = base.current_version()
    assert ru.refresh(spark, until_version=head) == head
    v_after = ru.table.current_version()
    # same window again: cursor short-circuit, no new commit
    assert ru.refresh(spark, until_version=head) == head
    assert ru.table.current_version() == v_after
    assert_current(spark, ru)


def test_rollup_resume_recovers_cursor(spark, tmp_path):
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    base.merge(spark, batch(spark, [("a", "x", 1.0, "I", 1)]), batch_id=0)
    ru.refresh(spark)
    cur = ru.cursor()
    # "restart": reopen both tables from disk, no side state
    ru2 = IncrementalRollup(
        LakeTable(base.root), LakeTable(ru.table.root),
        dims=["kind"], sums=["value"])
    assert ru2.cursor() == cur
    base.merge(spark, batch(spark, [("b", "x", 2.0, "I", 2)]), batch_id=1)
    ru2.refresh(spark)
    assert_current(spark, ru2)
    assert canon(ru2.read(spark)) == {("x", "2", "3.000000")}


def test_rollup_seeds_preexisting_base_and_null_dims(spark, tmp_path):
    base = mk_base(str(tmp_path / "base"))
    base.merge(spark, batch(spark, [
        ("a", "x", 1.0, "I", 1), ("b", None, 2.0, "I", 2),
    ]), batch_id=0)
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    assert_current(spark, ru)  # seed aggregated the existing rows
    assert canon(ru.read(spark)) == {("x", "1", "1.000000"),
                                     (None, "1", "2.000000")}
    # NULL-dim group must update independently of any '' group
    base.merge(spark, batch(spark, [
        ("c", "", 4.0, "I", 3), ("b", None, 5.0, "U", 4),
    ]), batch_id=1)
    ru.refresh(spark)
    assert_current(spark, ru)
    assert canon(ru.read(spark)) == {("x", "1", "1.000000"),
                                     (None, "1", "5.000000"),
                                     ("", "1", "4.000000")}


def test_rollup_rejects_unknown_columns(spark, tmp_path):
    base = mk_base(str(tmp_path / "base"))
    with pytest.raises(ValueError, match="not in base schema"):
        IncrementalRollup.create(
            spark, str(tmp_path / "roll"), base,
            dims=["nope"], sums=["value"])


def test_rollup_comaintained_inside_streaming_replay(spark, tmp_path):
    """The continuous aggregate rides INSIDE the replay pipeline
    (refresh every 2nd micro-batch + the drain-tail refresh) and must
    equal a recompute of the final table."""
    from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
        PAGE_SCHEMA,
        changelog_df,
        write_wal_segments,
    )
    from yadamu___yet_another_data_migration_utility_spark.streaming.stream import (
        replay_available,
    )

    log = changelog_df(spark, 1500, 120, dup_mod=40)
    wal = str(tmp_path / "wal")
    write_wal_segments(log, wal, 4)
    table = LakeTable.create(str(tmp_path / "pages"), PAGE_SCHEMA,
                             key="url", bucket_count=8)
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), table, dims=["lang"], sums=[])
    metrics = replay_available(
        spark, table, wal, str(tmp_path / "ckpt"),
        rollup=ru, rollup_every=2,
    )
    assert len(metrics) == 4
    assert ru.cursor() == table.current_version()
    got = {(r["lang"], r["n_rows"]) for r in ru.read(spark).collect()}
    exp = {(r["lang"], r["n_rows"]) for r in ru.recompute(spark).collect()}
    assert got == exp and got


def test_rollup_verify_detects_divergence(spark, tmp_path):
    """verify() is the fsck: clean state passes; a corrupted group
    (merged directly into the rollup table, bypassing maintenance) is
    reported as a symmetric difference."""
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    base.merge(spark, batch(spark, [
        ("a", "x", 1.0, "I", 1), ("b", "y", 2.0, "I", 2),
    ]), batch_id=0)
    ru.refresh(spark)
    rep = ru.verify(spark)
    assert rep["ok"] and rep["groups"] == 2 and rep["cursor"] == ru.cursor()

    # corrupt: overwrite group x's totals behind the maintainer's back
    bogus = spark.createDataFrame(
        [('{"kind":"x"}', "x", 99, "U", 10**9)],
        "dim_key string, kind string, n_rows long, op string, lsn long",
    ).withColumn("sum_value", F.lit(123).cast("decimal(28,6)"))
    ru.table.merge(spark, bogus, batch_id=10**9)
    rep = ru.verify(spark)
    assert not rep["ok"] and rep["extra"] == 1 and rep["missing"] == 1


def test_rollup_concurrent_refresh_stale_pin_converges(spark, tmp_path):
    """TOCTOU race: writer B snapshots its (cursor, rollup version) pin,
    then writer A refreshes window (c, u1] and commits BEFORE B runs.
    B then refreshes the overlapping window (c, u2] from its STALE pin.
    Because B's current-groups read is pinned at the rollup version its
    cursor came from (not the live head), B's totals are correct for u2
    on their own; last-writer-wins (lsn = window end) picks them, and
    the final state equals a recompute -- no double-counted window."""
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    base.merge(spark, batch(spark, [
        ("a", "x", 1.0, "I", 1), ("b", "x", 2.0, "I", 2),
    ]), batch_id=0)
    u1 = base.current_version()
    base.merge(spark, batch(spark, [("c", "x", 4.0, "I", 3)]), batch_id=1)
    u2 = base.current_version()

    b_handle = IncrementalRollup.open(LakeTable(base.root), ru.table.root)
    stale_pin = b_handle._pinned()  # B reads its pin first ...

    a_handle = IncrementalRollup.open(LakeTable(base.root), ru.table.root)
    assert a_handle.refresh(spark, until_version=u1) == u1  # ... A commits

    b_handle._pinned = lambda: stale_pin  # B proceeds from the stale pin
    assert b_handle.refresh(spark, until_version=u2) == u2

    ru2 = IncrementalRollup.open(LakeTable(base.root), ru.table.root)
    assert ru2.cursor() == u2
    assert_current(spark, ru2)
    assert canon(ru2.read(spark)) == {("x", "3", "7.000000")}
    assert ru2.verify(spark)["ok"]


def test_rollup_expired_window_is_a_clean_error(spark, tmp_path):
    """If retention expired the cursor's base snapshot, refresh must
    surface read_changes' clean re-seed contract, not a file error."""
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    for i in range(4):
        base.merge(spark, batch(spark, [(f"k{i}", "x", 1.0, "I", i + 1)]),
                   batch_id=i)
    base.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="re-seed|not fully retained"):
        ru.refresh(spark)


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_rollup_refresh_releases_changed_keys(spark, tmp_path, monkeypatch):
    """The changed-key set a refresh caches is released when the
    refresh returns, and when it raises."""
    base = mk_base(str(tmp_path / "base"))
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "roll"), base, dims=["kind"], sums=["value"])
    before = _persisted_rdds(spark)
    base.merge(spark, batch(spark, [("a", "x", 1.0, "I", 1)]), batch_id=0)
    ru.refresh(spark)
    assert _persisted_rdds(spark) == before
    assert_current(spark, ru)

    def fail(*args, **kwargs):
        raise RuntimeError("merge failed")

    base.merge(spark, batch(spark, [("b", "y", 2.0, "I", 2)]), batch_id=1)
    monkeypatch.setattr(ru.table, "merge", fail)
    with pytest.raises(RuntimeError, match="merge failed"):
        ru.refresh(spark)
    assert _persisted_rdds(spark) == before
