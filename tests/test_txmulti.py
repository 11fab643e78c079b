"""Cross-table consistent snapshots (sources/txmulti.py): readers
pinned to a manifest never see a torn multi-table state; manifests
give warehouse-level time travel; the durable warehouse publishes
one per load."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_write,
    tx_write_parts,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txmulti import (
    latest_manifest,
    publish_manifest,
    read_consistent,
    snapshot_current,
)


# Opt-in slow lane (r14): multi-table durable-warehouse manifest publishes.
pytestmark = pytest.mark.slow


def _seed(spark, root):
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    fact = spark.createDataFrame(
        [(1, 2020, 10.0), (2, 2021, 20.0)], "id int, yr int, amt double")
    tx_write(dim, f"{root}/dim", mode="overwrite")
    tx_write_parts(fact, f"{root}/fact", "yr", mode="overwrite")
    publish_manifest(root, snapshot_current(root, ["dim", "fact"]))
    return dim, fact


def test_consistent_read_ignores_unmanifested_commits(spark, tmp_path):
    """A fact commit with no manifest yet (a load in flight, or one
    that crashed before finishing the dims) is INVISIBLE to the
    consistent reader — no torn dims/facts state — while a direct
    latest-commit read does see it."""
    root = str(tmp_path / "wh")
    _seed(spark, root)
    extra = spark.createDataFrame([(3, 2021, 30.0)],
                                  "id int, yr int, amt double")
    tx_write_parts(extra, f"{root}/fact", "yr", mode="append")

    got = read_consistent(spark, root, ["dim", "fact"])
    assert got["fact"].count() == 2          # pinned pre-append
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read,
    )
    assert tx_read(spark, f"{root}/fact").count() == 3  # torn view

    # the writer finishes: next manifest exposes the new row
    publish_manifest(root, snapshot_current(root, ["dim", "fact"]))
    assert read_consistent(spark, root, ["dim", "fact"])["fact"].count() == 3


def test_manifest_time_travel_across_tables(spark, tmp_path):
    root = str(tmp_path / "wh2")
    dim, fact = _seed(spark, root)
    tx_write(dim.withColumn("name", F.upper("name")),
             f"{root}/dim", mode="overwrite")
    tx_write_parts(fact.withColumn("amt", F.col("amt") + 1),
                   f"{root}/fact", "yr", mode="overwrite")
    publish_manifest(root, snapshot_current(root, ["dim", "fact"]))

    v1 = read_consistent(spark, root, ["dim", "fact"], manifest_id=1)
    assert {r["name"] for r in v1["dim"].collect()} == {"a", "b"}
    assert {r["amt"] for r in v1["fact"].collect()} == {10.0, 20.0}
    v2 = read_consistent(spark, root, ["dim", "fact"], manifest_id=2)
    assert {r["name"] for r in v2["dim"].collect()} == {"A", "B"}
    assert {r["amt"] for r in v2["fact"].collect()} == {11.0, 21.0}


def test_missing_manifest_or_table_raises(spark, tmp_path):
    root = str(tmp_path / "wh3")
    with pytest.raises(FileNotFoundError):
        read_consistent(spark, root, ["dim"])
    _seed(spark, root)
    with pytest.raises(KeyError):
        read_consistent(spark, root, ["dim", "other", "fact"])
    with pytest.raises(FileNotFoundError):
        read_consistent(spark, root, ["dim", "fact"], manifest_id=99)


def test_publish_race_takes_next_id(spark, tmp_path):
    root = str(tmp_path / "wh4")
    _seed(spark, root)
    a = publish_manifest(root, {"dim": 1, "fact": 1})
    b = publish_manifest(root, {"dim": 1, "fact": 1})
    assert (a, b) == (2, 3)
    assert latest_manifest(root)["id"] == 3


def test_durable_warehouse_loads_publish_manifests(spark, tmp_path):
    """publish_warehouse + each subsequent_load_durable advance the
    manifest; consistent read == direct read when no load is in
    flight, and a mid-load crash leaves consistent readers on the
    previous snapshot."""
    from tests.test_durable_warehouse import (  # reuse the fixtures' helpers
        AS_OF,
        _delta,
    )
    from library_data_warehouse_and_business_analytics_system_spark.generators.library_data import (
        generate,
    )
    from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
        publish_warehouse,
        read_warehouse,
        subsequent_load_durable,
    )
    from library_data_warehouse_and_business_analytics_system_spark.plans.library.etl import (
        initial_load,
    )

    oltp = generate(seed=42, scale=0.02).to_spark(spark)
    dw = initial_load(spark, oltp, AS_OF)
    root = str(tmp_path / "wh5")
    publish_warehouse(spark, dw, root)
    assert latest_manifest(root)["id"] == 1

    subsequent_load_durable(spark, root, oltp, _delta(spark, oltp), AS_OF)
    assert latest_manifest(root)["id"] == 2

    direct = read_warehouse(spark, root)
    pinned = read_warehouse(spark, root, consistent=True)
    for n in direct:
        assert direct[n].count() == pinned[n].count(), n

    # warehouse-level time travel to the initial publish
    v1 = read_warehouse(spark, root, manifest_id=1)
    assert v1["fact_borrowing"].count() == dw["fact_borrowing"].count()
