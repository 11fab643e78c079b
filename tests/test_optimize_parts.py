"""tx_optimize_parts: OPTIMIZE ... ZORDER BY for partitioned txlog
tables. Contracts: snapshot row-identity across the rewrite, time
travel to pre-optimize commits, measurable footer-stat clustering on
the second z-order column, conflict detection, and merges continuing
to work on the optimized table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.sources import zorder
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    TxConflict,
    tx_latest_id,
    tx_merge_parts,
    tx_optimize_parts,
    tx_read,
    tx_write_parts,
)


@pytest.fixture()
def orders_table(spark, sf_dir, tmp_path):
    from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
        load_table,
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        "o_custkey", F.col("o_totalprice").cast("double").alias("tp"))
    t = str(tmp_path / "orders_opt")
    tx_write_parts(orders, t, "o_year", mode="overwrite")
    return t, orders


def _rows(spark, t, as_of=None):
    return sorted(
        tuple(r) for r in
        tx_read(spark, t, as_of=as_of)
        .select("o_orderkey", "o_year", "o_custkey", "tp").collect())


def test_optimize_preserves_snapshot_and_history(spark, orders_table):
    t, _ = orders_table
    before = _rows(spark, t)
    v_pre = tx_latest_id(t)
    v_opt = tx_optimize_parts(spark, t, "o_year",
                              ["o_custkey", "tp"], n_files=8)
    assert v_opt == v_pre + 1
    assert _rows(spark, t) == before                  # same rows
    assert _rows(spark, t, as_of=v_pre) == before     # time travel intact


def test_optimize_improves_second_column_clustering(spark, orders_table):
    """After z-ordering on (o_custkey, tp), each FILE's tp range must
    shrink vs the unordered layout — the footer-stat signal data
    skipping uses. Compare mean per-file tp spread before/after."""
    t, _ = orders_table

    def mean_spread(table):
        import glob
        from pathlib import Path
        spans = []
        for pdir in {str(Path(f).parent) for f in
                     glob.glob(f"{table}/data/*/_part=*/**/*.parquet",
                               recursive=True)}:
            for b in zorder.file_bounds(pdir, ["tp"]):
                lo, hi = b["tp"]
                spans.append(hi - lo)
        return sum(spans) / len(spans)

    before = mean_spread(t)
    tx_optimize_parts(spark, t, "o_year", ["o_custkey", "tp"], n_files=8)
    # file_bounds over the whole data dir would mix generations; read
    # only the dirs the CURRENT snapshot references.
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        _visible,
    )
    from pathlib import Path
    spans = []
    for ds in _visible(t).values():
        for d in ds:
            for b in zorder.file_bounds(str(Path(t) / d), ["tp"]):
                lo, hi = b["tp"]
                spans.append(hi - lo)
    after = sum(spans) / len(spans)
    assert after < before * 0.8, (before, after)


def test_optimize_conflict_detection(spark, orders_table, monkeypatch):
    """A commit racing in between the snapshot read and the publish
    must raise TxConflict, not silently disappear."""
    t, orders = orders_table
    import library_data_warehouse_and_business_analytics_system_spark.sources.txlog as tx

    real_publish = tx._publish

    def racing_publish(table, payload, *a, **kw):
        monkeypatch.setattr(tx, "_publish", real_publish)
        tx_write_parts(orders.limit(5), t, "o_year", mode="append")
        return real_publish(table, payload, *a, **kw)

    monkeypatch.setattr(tx, "_publish", racing_publish)
    with pytest.raises(TxConflict):
        tx_optimize_parts(spark, t, "o_year", ["o_custkey", "tp"])


def test_merge_still_works_after_optimize(spark, orders_table):
    t, orders = orders_table
    tx_optimize_parts(spark, t, "o_year", ["o_custkey", "tp"], n_files=8)
    delta = (orders.limit(20)
             .withColumn("tp", F.col("tp") + 5.0))
    tx_merge_parts(spark, t, delta, keys=["o_orderkey"],
                   part_col="o_year", update_cols=["tp"])
    got = {r["o_orderkey"]: r["tp"]
           for r in tx_read(spark, t).collect()}
    for r in delta.collect():
        assert got[r["o_orderkey"]] == r["tp"]
