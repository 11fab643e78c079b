"""One snapshot model for both txlog layouts: the same lifecycle —
write, append, time travel, checkpoint, truncate, restore, clone,
materialize, vacuum — yields the same rows on a plain and on a
partitioned table, while each keeps its on-disk form."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_checkpoint, tx_clone, tx_expire_checkpoints, tx_materialize,
    tx_part_values, tx_read, tx_restore, tx_truncate_log, tx_vacuum,
    tx_write, tx_write_parts,
)

A = [(1, 2019), (2, 2020)]
B = [(3, 2020)]
C = [(4, 2021)]


def _write(spark, layout, rows, table, mode):
    df = spark.createDataFrame(rows, "k long, yr int")
    if layout == "plain":
        return tx_write(df, table, mode=mode)
    return tx_write_parts(df, table, "yr", mode=mode)


def _rows(spark, table, **kw):
    return sorted(tuple(r) for r in tx_read(spark, table, **kw)
                  .select("k", "yr").collect())


def _maintain(table):
    tx_checkpoint(table)
    tx_truncate_log(table)
    tx_expire_checkpoints(table, keep=1)
    return tx_vacuum(table, retention_sec=0)


@pytest.mark.parametrize("layout", ["plain", "partitioned"])
def test_lifecycle_same_rows_in_both_layouts(spark, tmp_path, layout):
    t = str(tmp_path / "t")
    v1 = _write(spark, layout, A, t, "overwrite")
    v2 = _write(spark, layout, B, t, "append")
    assert _rows(spark, t) == sorted(A + B)
    assert _rows(spark, t, as_of=v1) == sorted(A)

    assert tx_checkpoint(t) == v2
    cp = json.loads((Path(t) / "_txlog" / "checkpoints" / f"{v2:08d}.json")
                    .read_text())
    assert set(cp) & {"dirs", "parts"} == (
        {"dirs"} if layout == "plain" else {"parts"})
    v3 = _write(spark, layout, C, t, "append")
    tx_truncate_log(t)
    assert _rows(spark, t) == sorted(A + B + C)
    assert _rows(spark, t, as_of=v2) == sorted(A + B)
    with pytest.raises(ValueError, match="truncated"):
        tx_read(spark, t, as_of=v1)

    tx_restore(t, v2)
    assert _rows(spark, t) == sorted(A + B)
    assert _rows(spark, t, as_of=v3) == sorted(A + B + C)

    dst = str(tmp_path / "dst")
    tx_clone(t, dst)
    assert _rows(spark, dst) == sorted(A + B)
    tx_materialize(spark, dst)
    assert _rows(spark, dst) == sorted(A + B)

    # maintenance keeps the rows; the source reclaims the
    # restored-away append C
    assert _maintain(t)
    assert _rows(spark, t) == sorted(A + B)
    _maintain(dst)
    # the materialized clone no longer needs the source at all
    shutil.rmtree(t)
    assert _rows(spark, dst) == sorted(A + B)
    if layout == "partitioned":
        assert _rows(spark, dst, part_values=["2020"]) == [(2, 2020), (3, 2020)]
    else:
        with pytest.raises(ValueError, match="not partitioned"):
            tx_read(spark, dst, part_values=["2020"])


def test_materialize_escapes_partition_values(spark, tmp_path):
    """A partition value holding '/' must stay ONE escaped dir through
    tx_materialize; a nested dir would look dead to tx_vacuum, which
    would then delete live data."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a/b"), (2, "c")], "k long, p string")
    tx_write_parts(df, t, "p", mode="overwrite")
    tx_materialize(spark, t)
    _maintain(t)
    assert tx_part_values(t) == ["a/b", "c"]
    assert sorted(tuple(r) for r in tx_read(spark, t).collect()) == [
        (1, "a/b"), (2, "c")]
