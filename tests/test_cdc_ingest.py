"""Streaming CDC apply into a partitioned txlog table
(streaming/cdc_ingest.py): stream-of-batches ≡ one-shot
apply_changelog, delete-emptied partitions actually vanish (the
replace_parts null-dir marker), and redelivery is a no-op."""

from __future__ import annotations

import os
import time as _t

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.cdc import (
    apply_changelog,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_latest_id,
    tx_read,
)
from library_data_warehouse_and_business_analytics_system_spark.streaming.cdc_ingest import (
    apply_cdc_batch,
    start_cdc_ingest,
)

# Opt-in slow lane (r14): streamed changelog vs batch equivalence runs.
pytestmark = pytest.mark.slow


SCHEMA = "k int, part string, v string, seq int, op string"


def _batches(spark):
    """Three seq-ordered changelog chunks over partitions a/b/c:
    inserts; updates + a delete; re-insert after delete + a batch
    that deletes EVERY row of partition c."""
    b0 = [(1, "a", "one", 1, "I"), (2, "a", "two", 2, "I"),
          (3, "b", "three", 3, "I"), (4, "c", "four", 4, "I"),
          (5, "c", "five", 5, "I")]
    b1 = [(1, "a", "one.1", 6, "U"), (3, "b", "three", 7, "D"),
          (6, "b", "six", 8, "I")]
    b2 = [(3, "b", "three.2", 9, "I"),          # re-insert after delete
          (4, "c", "four", 10, "D"), (5, "c", "five", 11, "D")]
    return [spark.createDataFrame(rows, SCHEMA) for rows in (b0, b1, b2)]


def _snap(spark, t):
    return sorted(
        (r["k"], r["part"], r["v"])
        for r in tx_read(spark, t).collect())


def test_sequential_batches_equal_one_shot_apply(spark, tmp_path):
    batches = _batches(spark)
    t = str(tmp_path / "cdc_tbl")
    for i, b in enumerate(batches):
        apply_cdc_batch(b, i, t, ["k"], "part")
    got = _snap(spark, t)

    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    want = sorted(
        (r["k"], r["part"], r["v"])
        for r in apply_changelog(full, ["k"]).collect())
    assert got == want
    # the re-inserted key survives; the update took; 4/5 are gone
    assert (3, "b", "three.2") in got
    assert (1, "a", "one.1") in got
    assert not any(k in (4, 5) for k, _, _ in got)


def test_delete_emptied_partition_vanishes(spark, tmp_path):
    """Batch 2 deletes every row of partition c — reading the
    partition must yield nothing (the replace_parts null marker),
    not resurrect the pre-delete generation."""
    batches = _batches(spark)
    t = str(tmp_path / "cdc_tbl2")
    for i, b in enumerate(batches):
        apply_cdc_batch(b, i, t, ["k"], "part")
    with pytest.raises(FileNotFoundError):
        tx_read(spark, t, part_values=["c"])
    assert all(p != "c" for _, p, _ in _snap(spark, t))
    # time travel BEFORE the emptying still sees partition c
    pre = tx_read(spark, t, as_of=2, part_values=["c"])
    assert pre.count() == 2


def test_redelivered_batch_recommits_nothing(spark, tmp_path):
    batches = _batches(spark)
    t = str(tmp_path / "cdc_tbl3")
    for i, b in enumerate(batches):
        apply_cdc_batch(b, i, t, ["k"], "part")
    before, commits = _snap(spark, t), tx_latest_id(t)
    apply_cdc_batch(batches[1], 1, t, ["k"], "part")  # redelivery
    assert tx_latest_id(t) == commits
    assert _snap(spark, t) == before


def test_streamed_changelog_matches_batch_apply(spark, tmp_path):
    """Drive the real foreachBatch path with availableNow over
    parquet day-files; result must equal the direct batch applies."""
    batches = _batches(spark)
    src = str(tmp_path / "src")
    base_t = _t.time()
    seen: set[str] = set()
    for k, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(src)
        fresh = {f for f in os.listdir(src) if f.endswith(".parquet")} - seen
        seen |= fresh
        for f in fresh:
            os.utime(os.path.join(src, f), (base_t + k * 10,) * 2)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    t_s = str(tmp_path / "cdc_stream")
    q = start_cdc_ingest(stream, t_s, ["k"], "part",
                         str(tmp_path / "ck"))
    q.awaitTermination()

    t_b = str(tmp_path / "cdc_batch")
    for i, b in enumerate(batches):
        apply_cdc_batch(b, i, t_b, ["k"], "part")
    assert _snap(spark, t_s) == _snap(spark, t_b)
