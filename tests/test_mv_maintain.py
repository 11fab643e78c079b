"""Streaming materialized-view maintenance (streaming/mv_maintain.py):
after every micro-batch both maintained rollups equal a full
recompute; redelivery and every crash window are no-ops."""

from __future__ import annotations

import os
import time as _t

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.incremental_agg import (
    reflected_version,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_latest_id, tx_read,
)
from library_data_warehouse_and_business_analytics_system_spark.streaming.mv_maintain import (
    FactWithRollups, MaterializedRollup, ingest_mv_batch, start_mv_ingest,
)

# Opt-in slow lane (r14): real structured-streaming availableNow runs.
pytestmark = pytest.mark.slow


SCHEMA = "k long, part int, grp long, v double"


def _batches(spark):
    mk = lambda rows: spark.createDataFrame(rows, SCHEMA)  # noqa: E731
    return [
        mk([(1, 2019, 10, 5.0), (2, 2019, 10, 7.0), (3, 2020, 11, 9.0)]),
        # update k2 interior + new group
        mk([(2, 2019, 10, 6.0), (4, 2020, 12, 1.0)]),
        # delete group 10's max (k2 moves to grp 13) + extend 11
        mk([(2, 2019, 13, 6.0), (5, 2020, 11, 0.5)]),
    ]


def _cfg(tmp_path, name):
    root = str(tmp_path / name)
    return FactWithRollups(
        fact_table=f"{root}/fact", keys=["k"], part_col="part",
        rollups=[
            MaterializedRollup(f"{root}/agg_sum", ["grp"], ["v"], "sum"),
            MaterializedRollup(f"{root}/agg_mm", ["grp"], ["v"], "minmax"),
        ])


def _expect(spark, cfg):
    fact = tx_read(spark, cfg.fact_table)
    sums = {(r.grp, r.s, r.n) for r in
            fact.groupBy("grp").agg(F.sum("v").alias("s"),
                                    F.count(F.lit(1)).alias("n")).collect()}
    mms = {(r.grp, r.m, r.x, r.n) for r in
           fact.groupBy("grp").agg(F.min("v").alias("m"),
                                   F.max("v").alias("x"),
                                   F.count(F.lit(1)).alias("n")).collect()}
    return sums, mms


def _got(spark, cfg):
    sums = {(r.grp, r.sum_v, r.n_rows) for r in
            tx_read(spark, cfg.rollups[0].agg_table).collect()}
    mms = {(r.grp, r.min_v, r.max_v, r.n_rows) for r in
           tx_read(spark, cfg.rollups[1].agg_table).collect()}
    return sums, mms


def test_rollups_track_every_batch_and_replay_is_noop(spark, tmp_path):
    cfg = _cfg(tmp_path, "a")
    for i, b in enumerate(_batches(spark)):
        ingest_mv_batch(b, i, cfg)
        assert _got(spark, cfg) == _expect(spark, cfg)
    # reflected version rides the aggregate's own log
    assert reflected_version(cfg.rollups[0].agg_table) == \
        tx_latest_id(cfg.fact_table)
    # full redelivery of the last batch: fact txn dedupes, refresh
    # sees version == reflected — nothing changes anywhere
    pre_fact = tx_latest_id(cfg.fact_table)
    pre = _got(spark, cfg)
    ingest_mv_batch(_batches(spark)[-1], 2, cfg)
    assert tx_latest_id(cfg.fact_table) == pre_fact
    assert _got(spark, cfg) == pre


def test_crash_between_merge_and_refresh_recovers(spark, tmp_path):
    """Fact merged but rollups never refreshed (crash) → the next
    batch's refresh span covers BOTH deltas."""
    cfg = _cfg(tmp_path, "b")
    b0, b1, b2 = _batches(spark)
    ingest_mv_batch(b0, 0, cfg)
    # simulate the crash: merge batch 1 WITHOUT refreshing
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import tx_merge_parts
    tx_merge_parts(spark, cfg.fact_table, b1, keys=cfg.keys,
                   part_col=cfg.part_col, txn_id="mv-fact-1")
    # redelivered batch 1: merge dedupes on txn, refresh catches up
    ingest_mv_batch(b1, 1, cfg)
    assert _got(spark, cfg) == _expect(spark, cfg)
    ingest_mv_batch(b2, 2, cfg)
    assert _got(spark, cfg) == _expect(spark, cfg)


def test_real_stream_availablenow(spark, tmp_path):
    """Drive the real foreachBatch path over parquet files; the final
    rollups equal both the recompute and the batch-driven twin."""
    cfg = _cfg(tmp_path, "s")
    src = str(tmp_path / "src")
    base = _t.time()
    seen: set[str] = set()
    for i, b in enumerate(_batches(spark)):
        b.coalesce(1).write.mode("append").parquet(src)
        fresh = {f for f in os.listdir(src)
                 if f.endswith(".parquet")} - seen
        seen |= fresh
        for f in fresh:
            os.utime(os.path.join(src, f), (base + i * 10,) * 2)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_mv_ingest(stream, cfg, str(tmp_path / "ck"))
    q.awaitTermination()
    assert _got(spark, cfg) == _expect(spark, cfg)

    twin = _cfg(tmp_path, "twin")
    for i, b in enumerate(_batches(spark)):
        ingest_mv_batch(b, i, twin)
    assert _got(spark, cfg) == _got(spark, twin)


def test_unknown_rollup_kind_rejected(spark, tmp_path):
    cfg = FactWithRollups(str(tmp_path / "f"), ["k"], "part",
                          [MaterializedRollup(str(tmp_path / "a"),
                                              ["grp"], ["v"], "median")])
    with pytest.raises(ValueError, match="unknown rollup kind"):
        ingest_mv_batch(_batches(spark)[0], 0, cfg)
