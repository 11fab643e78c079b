"""RESTORE and shallow CLONE: metadata-only state operations on the
txlog format — Delta's RESTORE TABLE ... TO VERSION AS OF and
CREATE TABLE ... SHALLOW CLONE contracts, and the reference's
FLASHBACK TABLE ... TO SCN at format level.

Both must publish exactly ONE new commit referencing EXISTING
immutable data dirs — zero parquet rewritten — which these tests
pin by counting data dirs and hashing files."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    TxConflict, tx_checkpoint, tx_clone, tx_expire_checkpoints,
    tx_latest_id, tx_materialize, tx_merge_parts, tx_read,
    tx_restore, tx_truncate_log, tx_write,
    tx_write_parts,
)


def _rows(spark, data, cols=("k", "v")):
    return spark.createDataFrame(data, list(cols))


def _data_dirs(table: str) -> set[str]:
    d = Path(table) / "data"
    return {p.name for p in d.iterdir() if p.is_dir()} if d.is_dir() else set()


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- restore


def test_restore_plain_rolls_back_as_new_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_rows(spark, [(1, "a"), (2, "b")]), t)
    c2 = tx_write(_rows(spark, [(3, "c")]), t)
    tx_write(_rows(spark, [(9, "bad")]), t, mode="overwrite")

    before_dirs = _data_dirs(t)
    rid = tx_restore(t, c2)
    assert rid == 4                       # the rollback IS a commit
    # metadata-only: no new data dir staged
    assert _data_dirs(t) == before_dirs
    # current state == commit-2 state
    assert _collect(tx_read(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]
    # the bad commit stays time-travelable (restore never erases)
    assert _collect(tx_read(spark, t, as_of=3)) == [(9, "bad")]
    # appends continue normally on top of the restored state
    tx_write(_rows(spark, [(4, "d")]), t)
    assert (1, "a") in _collect(tx_read(spark, t))
    assert (4, "d") in _collect(tx_read(spark, t))


def test_restore_partitioned_and_merge_continues(spark, tmp_path):
    t = str(tmp_path / "t")
    df1 = _rows(spark, [(1, "1995"), (2, "1996")], cols=("k", "yr"))
    tx_write_parts(df1, t, "yr", mode="overwrite")
    c2 = tx_write_parts(_rows(spark, [(3, "1996")], cols=("k", "yr")),
                        t, "yr", mode="append")
    # a later replace wipes 1996
    tx_write_parts(_rows(spark, [(8, "1996")], cols=("k", "yr")),
                   t, "yr", mode="replace")
    tx_restore(t, c2)
    assert _collect(tx_read(spark, t).select("k")) == [(1,), (2,), (3,)]
    # partition-scoped merge still works on the restored table
    tx_merge_parts(spark, t, _rows(spark, [(3, "1996"), (4, "1995")],
                                   cols=("k", "yr")),
                   keys=["k"], part_col="yr")
    assert _collect(tx_read(spark, t).select("k")) == [
        (1,), (2,), (3,), (4,)]


def test_restore_to_truncated_version_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_rows(spark, [(1, "a")]), t)
    tx_write(_rows(spark, [(2, "b")]), t)
    tx_write(_rows(spark, [(3, "c")]), t)
    tx_checkpoint(t)
    tx_truncate_log(t)
    with pytest.raises(ValueError, match="truncated"):
        tx_restore(t, 1)
    # restoring to the checkpointed version itself is fine
    tx_restore(t, 3)
    assert len(_collect(tx_read(spark, t))) == 3


def test_restore_to_future_version_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_rows(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="future"):
        tx_restore(t, 7)


def test_restore_survives_checkpoint_on_top(spark, tmp_path):
    """A checkpoint written AFTER a restore must summarize the
    restored (multi-dir) state correctly."""
    t = str(tmp_path / "t")
    tx_write(_rows(spark, [(1, "a")]), t)
    c2 = tx_write(_rows(spark, [(2, "b")]), t)
    tx_write(_rows(spark, [(9, "bad")]), t, mode="overwrite")
    tx_restore(t, c2)
    tx_checkpoint(t)
    tx_truncate_log(t)
    assert _collect(tx_read(spark, t)) == [(1, "a"), (2, "b")]


# ------------------------------------------------------------------ clone


def test_shallow_clone_zero_copy_and_isolated(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx_write(_rows(spark, [(1, "a"), (2, "b")]), src)
    tx_write(_rows(spark, [(3, "c")]), src)
    tx_clone(src, dst)
    # zero-copy: the clone staged NO data of its own
    assert _data_dirs(dst) == set()
    assert _collect(tx_read(spark, dst)) == [(1, "a"), (2, "b"), (3, "c")]
    # writes to the clone never touch the source ...
    tx_write(_rows(spark, [(4, "d")]), dst)
    assert _collect(tx_read(spark, src)) == [(1, "a"), (2, "b"), (3, "c")]
    # ... and post-clone writes to the source never leak into the clone
    tx_write(_rows(spark, [(5, "e")]), src)
    assert _collect(tx_read(spark, dst)) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_clone_as_of_and_existing_dst_rejected(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    c1 = tx_write(_rows(spark, [(1, "a")]), src)
    tx_write(_rows(spark, [(2, "b")]), src)
    tx_clone(src, dst, as_of=c1)
    assert _collect(tx_read(spark, dst)) == [(1, "a")]
    with pytest.raises(FileExistsError):
        tx_clone(src, str(tmp_path / "dst"))


def test_clone_partitioned_then_merge(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx_write_parts(_rows(spark, [(1, "1995"), (2, "1996")], cols=("k", "yr")),
                   src, "yr", mode="overwrite")
    tx_clone(src, dst)
    assert _data_dirs(dst) == set()
    tx_merge_parts(spark, dst, _rows(spark, [(3, "1996")], cols=("k", "yr")),
                   keys=["k"], part_col="yr")
    assert _collect(tx_read(spark, dst).select("k")) == [
        (1,), (2,), (3,)]
    # the merge rewrote 1996 inside DST only; source untouched
    assert _collect(tx_read(spark, src).select("k")) == [(1,), (2,)]


def test_materialize_makes_clone_self_contained(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx_write(_rows(spark, [(1, "a"), (2, "b")]), src)
    tx_clone(src, dst)
    tx_materialize(spark, dst)
    assert len(_data_dirs(dst)) == 1      # owns its data now
    # retire the source history entirely: clone must keep working
    import shutil
    shutil.rmtree(src)
    assert _collect(tx_read(spark, dst)) == [(1, "a"), (2, "b")]


def test_materialize_partitioned_preserves_state(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx_write_parts(_rows(spark, [(1, "1995"), (2, "1996")], cols=("k", "yr")),
                   src, "yr", mode="overwrite")
    tx_write_parts(_rows(spark, [(3, "1996")], cols=("k", "yr")),
                   src, "yr", mode="append")
    tx_clone(src, dst)
    before = _collect(tx_read(spark, dst).select("k", "yr"))
    tx_materialize(spark, dst)
    assert _collect(tx_read(spark, dst).select("k", "yr")) == before
    import shutil
    shutil.rmtree(src)
    assert _collect(tx_read(spark, dst).select("k", "yr")) == before


def test_materialize_conflict_detection(spark, tmp_path):
    """tx_materialize's publish is conditional on the snapshot it
    rewrote — a racing commit raises TxConflict, never silently
    discards the racer."""
    from library_data_warehouse_and_business_analytics_system_spark.sources import txlog as TX

    t = str(tmp_path / "t")
    tx_write(_rows(spark, [(1, "a")]), t)
    orig = TX._visible

    def racing(table, as_of=None):
        state = orig(table, as_of)
        TX._visible = orig     # fire once
        tx_write(_rows(spark, [(2, "r")]), t)
        return state

    TX._visible = racing
    try:
        with pytest.raises(TxConflict):
            tx_materialize(spark, t)
    finally:
        TX._visible = orig
    # the racer's commit survived
    assert (2, "r") in _collect(tx_read(spark, t))
