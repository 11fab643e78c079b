"""Workload ``warehouse_loads``: the durable warehouse's write path with
an analyst's read after every load.

Set-up generates the library OLTP data from the seed and holds back its
most recent active days as incremental loads, builds the warehouse in
memory (to_spark, initial_load, every table cached and counted) and
publishes it as partitioned txlog tables.

The timed loop is a closed loop with one client. Each cycle applies one
held-back load with ``subsequent_load_durable``, reads the warehouse
back with ``read_warehouse(consistent=True)`` and collects one LQY
report over it (the six report functions in turn, parameters drawn
from the seed). Loads apply while the run's seconds last, at least one.
``maintain_warehouse`` runs after the loop. A traced run then also
calls each report function the loop did not reach, once.

Checks, outside the timed region: every report equals its DuckDB
translation over the parquet files of the snapshot it read (time
travel to its cycle's manifest, before maintenance); the durable end
state equals the in-memory ``subsequent_load`` chain over the same
loads.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from functools import reduce

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.generators.library_data import (
    AS_OF, generate,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library import (
    incremental as INC,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
    maintain_warehouse, publish_warehouse, read_warehouse,
    subsequent_load_durable,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txmulti import (
    latest_manifest,
)

from . import library as LIB
from .reports import DW_TABLES, KINDS, Call, domains, duck_views

SCALE = 0.05         # generator scale (1.0 = the reference's volumes)
MAX_LOADS = 1        # loads held back; the run's seconds decide how many apply


def _tree(root: str) -> dict[str, int]:
    """Every file under ``root`` with its size."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def digests(**warehouses: dict) -> dict[str, dict[str, tuple]]:
    """Order-insensitive (row count, hash sum) of every table of every
    named warehouse. One Spark job hashes every row; the sums are taken
    in pandas (int64, wrapping, so row order cannot matter)."""
    parts = [df.select(F.lit(label).alias("w"), F.lit(name).alias("t"),
                       F.xxhash64(*sorted(df.columns)).alias("h"))
             for label, dw in warehouses.items()
             for name, df in ((n, dw[n]) for n in DW_TABLES)]
    rows = reduce(DataFrame.unionByName, parts).toPandas()
    agg = rows.groupby(["w", "t"])["h"].agg(["count", "sum"])
    out = {label: {n: (0, 0) for n in DW_TABLES} for label in warehouses}
    for (label, name), r in agg.iterrows():
        out[label][name] = (int(r["count"]), int(r["sum"]))
    return out


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    scale = 0.02 if ctx.tiny else SCALE
    max_loads = 2 if ctx.tiny else MAX_LOADS
    min_loads = 2 if ctx.tiny else 1

    # ---- set-up ---------------------------------------------------------
    t0 = time.perf_counter()
    with tracer.span("generators.generate"):
        data = generate(seed=ctx.seed, scale=scale)
    base, lookups, loads = LIB.hold_back(data, max_loads, ctx.seed)
    loads = [LIB.frames(spark, d) for d in loads]
    gen_s = time.perf_counter() - t0
    oltp_rows = sum(len(v) for v in data.tables.values())

    oltp, dw, build = LIB.build_warehouse(spark, base, tracer)
    full = dict(oltp)
    full.update(LIB.frames(spark, lookups))
    root = os.path.abspath("warehouse")
    t1 = time.perf_counter()
    with tracer.span("durable.publish"):
        publish_warehouse(spark, dw, root)
    publish_s = time.perf_counter() - t1
    states, sups = domains(dw)

    # ---- timed loop -----------------------------------------------------
    rng = random.Random(ctx.seed)
    cycles, calls, written = [], [], []
    walk_s = 0.0
    start = time.perf_counter()
    for delta in loads:
        if (len(cycles) >= min_loads
                and time.perf_counter() - start >= ctx.seconds):
            break
        call = Call.draw(KINDS[len(cycles) % len(KINDS)], rng, states, sups)
        w0 = time.perf_counter()
        before = _tree(root) if tracer.enabled else None
        c0 = time.perf_counter()
        with tracer.span("durable.daily_load"):
            subsequent_load_durable(spark, root, full, delta, AS_OF)
        c1 = time.perf_counter()
        with tracer.span("durable.read"):
            served = read_warehouse(spark, root, consistent=True)
        c2 = time.perf_counter()
        call.run(served, tracer)
        c3 = time.perf_counter()
        cycles.append({"load": c1 - c0, "read": c2 - c1,
                       "report": c3 - c2, "cycle": c3 - c0})
        calls.append((call, latest_manifest(root)["id"]))
        if before is not None:
            after = _tree(root)
            new = {p: n for p, n in after.items() if p not in before}
            written.append((new, sum(df.count() for df in delta.values())))
            walk_s += (c0 - w0) + (time.perf_counter() - c3)
    peak = ctx.peak_rss_mb()
    tracer.overhead_s += walk_s
    if tracer.enabled:
        # one call of every report function the loop did not reach, so
        # the trace covers the whole reports layer
        for kind in KINDS[len(cycles):]:
            call = Call.draw(kind, rng, states, sups)
            call.run(served, tracer)
            calls.append((call, calls[-1][1]))
    used = loads[:len(cycles)]

    # ---- checks, before maintenance ends time travel --------------------
    k0 = time.perf_counter()
    failures = []
    con = duckdb.connect()
    for call, manifest in calls:
        duck_views(con, read_warehouse(spark, root, manifest_id=manifest))
        bad = call.check(con)
        if bad:
            failures.append(f"{call.tag}: {bad}")
    con.close()
    mem = dw
    for delta in used:
        mem = INC.subsequent_load(spark, mem, full, delta, AS_OF)
    d = digests(want=mem, got=read_warehouse(spark, root, consistent=True))
    want, got = d["want"], d["got"]
    failures += [f"end_state:{n}: {got[n]} != {want[n]}"
                 for n in DW_TABLES if got[n] != want[n]]
    checks_s = time.perf_counter() - k0

    disk_before = _tree(root)
    m0 = time.perf_counter()
    with tracer.span("durable.maintain"):
        reclaimed = maintain_warehouse(spark, root, vacuum_retention_sec=0)
    maintain_s = time.perf_counter() - m0
    disk_after = _tree(root)

    # ---- metrics --------------------------------------------------------
    live_rows = sum(n for n, _ in got.values())
    out = {
        "setup_parts": {"generate": gen_s, "warehouse_build":
                        sum(build.values()), "publish": publish_s},
        "latencies": [c["cycle"] for c in cycles],
        "op_times": [c["cycle"] for c in cycles],
        "peak_rss_mb": peak,
        "attempted": len(cycles),
        "failures": failures,
        "summary": {
            "initial_load_s": (sum(build.values()), "s"),
            "publish_s": (publish_s, "s"),
            "daily_load_p50_s": (statistics.median(
                c["load"] for c in cycles), "s"),
            "durable_report_p50_s": (statistics.median(
                c["report"] for c in cycles), "s"),
            "maintain_s": (maintain_s, "s"),
            "disk_bytes_per_row": (sum(disk_after.values()) / live_rows,
                                   "B"),
            "loads_applied": (len(cycles), "count"),
            "checks_s": (checks_s, "s"),
        },
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, oltp_rows, written, disk_before,
                                disk_after, reclaimed)
    return out


def _layers(tracer, oltp_rows, written, before, after, reclaimed) -> dict:
    n = max(len(written), 1)
    logs = [p for p in before if f"{os.sep}_txlog{os.sep}" in p
            or f"{os.sep}_manifest{os.sep}" in p]
    parts = {os.path.dirname(p) for new, _ in written for p in new
             if f"{os.sep}_part=" in p}
    delta_rows = sum(r for _, r in written)
    bytes_written = sum(sum(new.values()) for new, _ in written)
    return {
        "generators.generate_s": tracer.total("generators.generate"),
        "generators.oltp_rows": oltp_rows,
        "durable.publish_s": tracer.total("durable.publish"),
        "durable.publish_jobs": tracer.total("durable.publish", "jobs"),
        "durable.daily_load_s": tracer.mean("durable.daily_load"),
        "durable.daily_jobs": tracer.mean("durable.daily_load", "jobs"),
        "durable.read_s": tracer.mean("durable.read"),
        "durable.maintain_s": tracer.total("durable.maintain"),
        "txlog.bytes_written_per_daily": bytes_written / n,
        "txlog.files_written_per_daily": sum(len(w) for w, _ in written) / n,
        "txlog.partition_dirs_written_per_daily": len(parts) / n,
        "txlog.bytes_written_per_delta_row":
            bytes_written / max(delta_rows, 1),
        "txlog.log_files_before_maintain": len(logs),
        "txlog.disk_bytes_before_maintain": sum(before.values()),
        "txlog.disk_bytes_after_maintain": sum(after.values()),
        "txlog.dirs_reclaimed": sum(reclaimed.values()),
    }
