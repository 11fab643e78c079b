"""Join-view maintenance driven by the table format's change feed:
tx_diff_parts → feed_to_delta → refresh_join_view must track two
partitioned txlog tables through merges on BOTH sides — the full
composition a warehouse needs to keep a denormalized view current at
delta cost."""

from __future__ import annotations

from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.ivm import (
    feed_to_delta, materialize_join_view, refresh_join_view,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_diff_parts, tx_latest_id, tx_merge_parts, tx_read,
    tx_write_parts,
)


def _facts(spark, rows):
    return spark.createDataFrame(rows, "k long, fid long, amt double")


def _dims(spark, rows):
    return spark.createDataFrame(rows, "k long, seg string")


def test_join_view_tracks_two_txlog_tables(spark, tmp_path):
    fa = str(tmp_path / "facts")
    db = str(tmp_path / "dims")
    tx_write_parts(_facts(spark, [(1, 10, 5.0), (1, 11, 6.0),
                                  (2, 20, 7.0)]),
                   fa, "k", mode="overwrite")
    tx_write_parts(_dims(spark, [(1, "gold"), (2, "silver")]),
                   db, "k", mode="overwrite")
    va0, vb0 = tx_latest_id(fa), tx_latest_id(db)
    a_old = tx_read(spark, fa)
    b_old = tx_read(spark, db)
    view = materialize_join_view(a_old, b_old, "k")
    view_rows = view.collect()
    view0 = spark.createDataFrame(view_rows, view.schema)

    # fact side: upsert (update fid=10's amount, insert fid=12)
    tx_merge_parts(spark, fa,
                   _facts(spark, [(1, 10, 50.0), (2, 12, 8.0)]),
                   keys=["fid"], part_col="k")
    # dim side: recategorize k=2
    tx_merge_parts(spark, db, _dims(spark, [(2, "bronze")]),
                   keys=["k"], part_col="k")

    da = feed_to_delta(tx_diff_parts(spark, fa, va0))
    dbd = feed_to_delta(tx_diff_parts(spark, db, vb0))
    got = refresh_join_view(view0, a_old, da, b_old, dbd, "k")

    want = materialize_join_view(tx_read(spark, fa),
                                 tx_read(spark, db), "k")
    assert {tuple(r) for r in got.collect()} \
        == {tuple(r) for r in want.collect()}
    # the update really flowed through: old amount gone, new present
    amts = {(r["fid"], r["amt"]) for r in got.collect()}
    assert (10, 50.0) in amts and (10, 5.0) not in amts
    # and the dim recategorization rewrote k=2 rows' segment
    segs = {r["seg"] for r in got.filter(F.col("k") == 2).collect()}
    assert segs == {"bronze"}


def test_empty_feed_is_noop(spark, tmp_path):
    fa = str(tmp_path / "facts")
    db = str(tmp_path / "dims")
    tx_write_parts(_facts(spark, [(1, 10, 5.0)]), fa, "k",
                   mode="overwrite")
    tx_write_parts(_dims(spark, [(1, "gold")]), db, "k",
                   mode="overwrite")
    va0 = tx_latest_id(fa)
    a = tx_read(spark, fa)
    b = tx_read(spark, db)
    view = materialize_join_view(a, b, "k")
    da = feed_to_delta(tx_diff_parts(spark, fa, va0))
    got = refresh_join_view(view, a, da, b, None, "k")
    assert {tuple(r) for r in got.collect()} \
        == {tuple(r) for r in view.collect()}
