"""Commit-dir data skipping (sources/skipping.py): per-commit
min/max stats from parquet footers, pruned reads that never open
non-overlapping dirs, and never-wrongly-skip guarantees for dirs
without stats."""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.sources.skipping import (
    tx_read_pruned, tx_write_stats,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_checkpoint, tx_read, tx_truncate_log, tx_write,
)


def _year_df(spark, year, n=20):
    return (spark.range(n)
            .select((F.lit(year) * 10000 + F.col("id")).alias("k"),
                    F.lit(year).alias("yr"),
                    F.to_date(F.lit(f"{year}-06-01")).alias("d")))


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_stats_recorded_in_commit_entry(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write_stats(_year_df(spark, 1995), t, ["yr", "k", "d"])
    entry = json.loads(next(Path(t, "_txlog").glob("*.json")).read_text())
    assert entry["stats"]["yr"] == [1995, 1995]
    assert entry["stats"]["k"] == [19950000, 19950019]
    assert entry["stats"]["d"] == [{"t": "d", "v": "1995-06-01"},
                                   {"t": "d", "v": "1995-06-01"}]


def test_pruned_read_opens_only_overlapping_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    for y in (1995, 1996, 1997, 1998):
        tx_write_stats(_year_df(spark, y), t, ["yr"])
    seen = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        got = _collect(tx_read_pruned(spark, t, "yr", lo=1996, hi=1997))
    assert len(seen) == 2            # two of four dirs opened
    want = _collect(tx_read(spark, t).where(
        (F.col("yr") >= 1996) & (F.col("yr") <= 1997)))
    assert got == want and len(got) == 40


def test_open_bounds_and_date_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    for y in (1995, 1996, 1997):
        tx_write_stats(_year_df(spark, y), t, ["d"])
    got = tx_read_pruned(spark, t, "d", lo=dt.date(1996, 1, 1))
    assert _collect(got) == _collect(
        tx_read(spark, t).where(F.col("d") >= F.lit("1996-01-01")))
    # predicate excluding every dir → empty, schema intact
    none = tx_read_pruned(spark, t, "d", hi=dt.date(1990, 1, 1))
    assert none.count() == 0
    assert none.columns == ["k", "yr", "d"]


def test_dirs_without_stats_are_never_skipped(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write_stats(_year_df(spark, 1995), t, ["yr"])
    tx_write(_year_df(spark, 1996), t)           # plain write: no stats
    got = _collect(tx_read_pruned(spark, t, "yr", lo=1996))
    want = _collect(tx_read(spark, t).where(F.col("yr") >= 1996))
    assert got == want and len(got) == 20


def test_pruning_degrades_but_stays_correct_after_truncation(spark,
                                                             tmp_path):
    t = str(tmp_path / "t")
    for y in (1995, 1996):
        tx_write_stats(_year_df(spark, y), t, ["yr"])
    tx_checkpoint(t)
    tx_truncate_log(t)                # stats live in entries → gone
    tx_write_stats(_year_df(spark, 1997), t, ["yr"])
    got = _collect(tx_read_pruned(spark, t, "yr", lo=1997))
    want = _collect(tx_read(spark, t).where(F.col("yr") >= 1997))
    assert got == want and len(got) == 20


# ---------------------------------------------------------------------------
# Bloom-filter sidecars (tx_write_bloom / tx_read_point).


from library_data_warehouse_and_business_analytics_system_spark.sources.skipping import (  # noqa: E402
    tx_read_point, tx_write_bloom,
)


def test_bloom_point_lookup_prunes_dirs(spark, tmp_path):
    """Four disjoint-key commits; a point lookup must open only the
    dir holding the key (bloom is md5-deterministic, so the observed
    open count is stable run to run) and match the plain filter."""
    t = str(tmp_path / "t")
    for y in (1995, 1996, 1997, 1998):
        tx_write_bloom(_year_df(spark, y), t, ["k"])
    seen = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        got = _collect(tx_read_point(spark, t, "k", 19970005))
    assert got == [(19970005, 1997, dt.date(1997, 6, 1))]
    assert 1 <= len(seen) <= 2  # target dir + at most an fp (none at
    #                             this size, but the bound is the contract)


def test_bloom_absent_key_reads_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    for y in (1995, 1996):
        tx_write_bloom(_year_df(spark, y), t, ["k"])
    seen = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        df = tx_read_point(spark, t, "k", 999999999)
        assert df.count() == 0
        assert df.columns == ["k", "yr", "d"]
    # the schema-only read of the empty branch may open dirs, but the
    # pruning decision itself must have rejected both bloomed dirs:
    # re-run with a present key to prove the filters are live.
    assert _collect(tx_read_point(spark, t, "k", 19950001)) == [
        (19950001, 1995, dt.date(1995, 6, 1))]


def test_bloom_string_keys_and_missing_sidecar_degrade(spark, tmp_path):
    t = str(tmp_path / "t")
    df1 = spark.createDataFrame([("alpha", 1), ("beta", 2)], "name string, v int")
    df2 = spark.createDataFrame([("gamma", 3), ("delta", 4)], "name string, v int")
    tx_write_bloom(df1, t, ["name"])
    tx_write_bloom(df2, t, ["name"])
    assert _collect(tx_read_point(spark, t, "name", "gamma")) == [("gamma", 3)]
    # delete one sidecar: its dir must degrade to always-read, result exact
    side = next(Path(t).rglob("_bloom_name.json"))
    side.unlink()
    assert _collect(tx_read_point(spark, t, "name", "alpha")) == [("alpha", 1)]
    assert _collect(tx_read_point(spark, t, "name", "gamma")) == [("gamma", 3)]


def test_bloom_unbloomed_commits_always_read(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write_bloom(_year_df(spark, 1995), t, ["k"])
    tx_write(_year_df(spark, 1996), t)            # no bloom
    assert _collect(tx_read_point(spark, t, "k", 19960004)) == [
        (19960004, 1996, dt.date(1996, 6, 1))]


def test_bloom_composes_with_stats_and_survives_checkpoint(spark, tmp_path):
    t = str(tmp_path / "t")
    for y in (1995, 1996):
        tx_write_bloom(_year_df(spark, y), t, ["k"], stats_cols=["yr"])
    # stats recorded alongside bloom in the same entry
    entries = [json.loads(p.read_text())
               for p in sorted(Path(t, "_txlog").glob("*.json"))]
    data_entries = [e for e in entries if "stats" in e]
    assert all(e["bloom"]["k"]["m"] > 0 for e in data_entries)
    assert _collect(tx_read_pruned(spark, t, "yr", lo=1996, hi=1996)) == \
        _collect(tx_read(spark, t).where(F.col("yr") == 1996))
    # checkpoint + truncate: bloom metadata (in entries) is gone, but
    # sidecars remain with the dirs — reads degrade to full, stay exact
    tx_checkpoint(t)
    tx_truncate_log(t)
    assert _collect(tx_read_point(spark, t, "k", 19950007)) == [
        (19950007, 1995, dt.date(1995, 6, 1))]


def test_tx_count_metadata_only(spark, tmp_path):
    """Footer-derived COUNT(*): exact across appends, overwrites and
    time travel, and never opens a data file through Spark (the spy
    sees zero parquet reads)."""
    t = str(tmp_path / "t")
    tx_write_stats(_year_df(spark, 1995, n=20), t, ["yr"])
    tx_write_stats(_year_df(spark, 1996, n=30), t, ["yr"])
    from library_data_warehouse_and_business_analytics_system_spark.sources.skipping import tx_count

    seen = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        assert tx_count(spark, t) == 50
        assert tx_count(spark, t, as_of=1) == 20
    assert seen == []                       # zero Spark reads
    tx_write(_year_df(spark, 1997, n=5), t, mode="overwrite")
    assert tx_count(spark, t) == 5
    assert tx_count(spark, t, as_of=2) == 50   # time travel still exact
    # MoR deletes: the plain replay refuses (counts would be wrong)
    from library_data_warehouse_and_business_analytics_system_spark.sources.mor import tx_delete_keys
    tx_delete_keys(spark.createDataFrame([(19970001,)], "k long"),
                   t, ["k"])
    with pytest.raises(ValueError, match="merge-on-read"):
        tx_count(spark, t)


def test_tx_count_parts(spark, tmp_path):
    from library_data_warehouse_and_business_analytics_system_spark.sources.skipping import tx_count_parts
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import tx_write_parts

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, 2019 + i % 2) for i in range(30)], "k long, yr int")
    tx_write_parts(df, t, "yr", mode="overwrite")
    tx_write_parts(spark.createDataFrame([(100, 2019)], "k long, yr int"),
                   t, "yr", mode="append")
    assert tx_count_parts(spark, t) == {"2019": 16, "2020": 15}
    assert tx_count_parts(spark, t, part_values=["2020"]) == {"2020": 15}
    assert tx_count_parts(spark, t, as_of=1) == {"2019": 15, "2020": 15}


def test_partitioned_stats_skipping_two_tiers(spark, tmp_path):
    """Year partitions × daily append dirs: a (year, day-range) read
    prunes partitions at metadata level AND day-dirs by footer stats
    — spy-pinned open counts — while staying exactly equal to the
    plain filtered read. Mixed stats-less commits never get skipped."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.skipping import (
        tx_read_pruned, tx_write_parts_stats,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read, tx_write_parts,
    )

    def day_df(spark, year, day, n=5):
        return (spark.range(n)
                .select((F.lit(year) * 1000 + F.lit(day) * 10
                         + F.col("id")).alias("k"),
                        F.lit(year).alias("yr"),
                        F.lit(day).alias("day")))

    t = str(tmp_path / "t")
    for year in (2019, 2020):
        for day in (1, 2, 3, 4):
            tx_write_parts_stats(day_df(spark, year, day), t, "yr",
                                 ["day"])
    seen = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        got = sorted(
            tuple(r) for r in
            tx_read_pruned(spark, t, "day", lo=3,
                           part_values=["2020"]).collect())
    assert len(seen) == 2                 # days 3,4 of 2020 only
    want = sorted(tuple(r) for r in
                  tx_read(spark, t)
                  .where((F.col("yr") == 2020) & (F.col("day") >= 3))
                  .collect())
    assert got == want and len(got) == 10
    # a stats-less append is always read
    tx_write_parts(day_df(spark, 2020, 9), t, "yr")
    got = sorted(tuple(r) for r in
                 tx_read_pruned(spark, t, "day", lo=9).collect())
    # day 9 exists only in the stats-less 2020 append: its dir was
    # READ (not skipped) and the residual filter kept exactly it
    assert len(got) == 5 and {r[1] for r in got} == {2020}
