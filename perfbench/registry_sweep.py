"""Workload ``registry_sweep``: registered queries over the testdata
catalog, each built with ``QuerySpec.fn`` and then collected.

A full sweep of all registered queries takes minutes, so the workload
runs the fixed subset ``SUBSET``: two iterative operator families
(Lloyd callers), a query whose Python UDF workers import the package,
and at least one query of every registering plan module. Each query is
built with ``QuerySpec.fn`` and collected to pandas. The seed only shuffles the
order of each pass; data is the committed copy of the testdata under
``data/``. A run makes at least ``MIN_PASSES`` passes, more while its
seconds are not used up, and a pass always completes.

Set-up loads every testdata table through ``load_table``, three times,
then runs one untimed warm-up pass over the subset, so the timed passes
see a warm engine (JIT, class loading, the first job of each plan
shape) whatever order the seed picks. The rate and the geometric mean
are taken over each query's median time across the timed passes.
Every result, the warm-up's too, is checked after the timed region against
``QuerySpec.oracle`` run by DuckDB over the same parquet files. Oracle
results are kept under ``.perfbench_out/oracle/``, keyed by the SQL and
the data directory, because one of them takes DuckDB half a minute.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time
from pathlib import Path

import duckdb
import pandas as pd

from library_data_warehouse_and_business_analytics_system_spark.plans import QUERIES
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    TESTDATA_TABLES, load_table,
)

from .compare import mismatch

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ORACLE_CACHE = Path(DATA).parents[1] / ".perfbench_out" / "oracle"

#: iterative operator families (per-layer ``registry.<q>.*`` metrics)
ITERATIVE = ("kmeans_assign_sizes", "cluster_prototype_prune")
SUBSET = ITERATIVE + (
    "media_decode_stats",        # multimodal_ops, Python UDF workers
    "event_rate_anomalies",      # analytics_ops
    "pricing_summary",           # core_sql
    "surrogate_keys_customers",  # core_sql2
    "grouping_sets_orders",      # core_sql3
    "array_function_surface",    # core_sql4
    "forecast_revenue",          # core_sql5
    "important_parts_stock",     # core_sql6
    "events_tumbling_hourly",    # streaming_ops
    "doc_hash_split",            # llm_ops
    "lqy_query3",                # library_gate
)
MODULES = ("core_sql", "core_sql2", "core_sql3", "core_sql4", "core_sql5",
           "core_sql6", "analytics_ops", "search_ops", "llm_ops",
           "streaming_ops", "multimodal_ops", "library_gate")
CATALOG_REPS = 3
#: timed passes every run makes at least, after the warm-up pass
MIN_PASSES = 2


def module_of(name: str) -> str:
    return QUERIES[name].fn.__module__.rsplit(".", 1)[1]


def data_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        h.update(Path(sf_dir, name).read_bytes())
    return h.hexdigest()


def oracle(con, name: str, data_key: str) -> pd.DataFrame:
    """DuckDB's result for the query's oracle SQL, computed once per SQL
    text and data directory content."""
    sql = QUERIES[name].oracle
    key = hashlib.sha256(f"{data_key}\n{sql}".encode())
    path = ORACLE_CACHE / f"{name}-{key.hexdigest()[:16]}.pkl"
    if path.is_file():
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    ORACLE_CACHE.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    df.to_pickle(tmp)
    tmp.replace(path)
    return df


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(DATA, "sf0.001" if ctx.tiny else "sf0.01")

    # ---- set-up: every table through the catalog, a few times ----------
    reps = []
    for _ in range(CATALOG_REPS):
        t0 = time.perf_counter()
        for name in TESTDATA_TABLES:
            with tracer.span("catalog.load", table=name):
                load_table(spark, sf_dir, name)
        reps.append(time.perf_counter() - t0)
    # ---- warm-up pass, untimed and untraced -----------------------------
    failures: list[str] = []
    w0 = time.perf_counter()
    with tracer.paused():
        warm = [r for r in (_run_one(spark, tracer, sf_dir, name, failures)
                            for name in SUBSET) if r]
    warm_s = time.perf_counter() - w0
    # ---- timed passes ---------------------------------------------------
    rng = random.Random(ctx.seed)
    runs = []
    start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        order = list(SUBSET)
        rng.shuffle(order)
        for name in order:
            r = _run_one(spark, tracer, sf_dir, name, failures)
            if r:
                runs.append(r)
        passes += 1
    peak = ctx.peak_rss_mb()

    # ---- checks ---------------------------------------------------------
    k0 = time.perf_counter()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    want, data_key = {}, data_digest(sf_dir)
    for r in warm + runs:
        name = r["name"]
        if name not in want:
            want[name] = oracle(con, name, data_key)
        bad = mismatch(r["got"], want[name])
        if bad:
            failures.append(f"{name}: {bad}")
    con.close()
    checks_s = time.perf_counter() - k0

    lat = [r["s"] for r in runs]
    per_query = {}
    for r in runs:
        per_query.setdefault(r["name"], []).append(r["s"])
    out = {
        "setup_parts": {"catalog_loads": statistics.median(reps),
                        "warm_up_pass": warm_s},
        "latencies": lat,
        "op_times": [statistics.median(v) for v in per_query.values()],
        "peak_rss_mb": peak,
        "attempted": (passes + 1) * len(SUBSET),
        "failures": failures,
        "summary": {
            **{f"query.{q}.p50_s": (statistics.median(v), "s")
               for q, v in per_query.items()},
            "passes": (passes, "count"),
            "build_share": (sum(r["build"] for r in runs) / sum(lat), "1"),
            "checks_s": (checks_s, "s"),
        },
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, passes)
    return out


def _run_one(spark, tracer, sf_dir: str, name: str,
             failures: list[str]) -> dict | None:
    """Build and collect one query; a failing query is counted, not
    fatal."""
    spec, mod = QUERIES[name], module_of(name)
    t0 = time.perf_counter()
    try:
        with tracer.span(f"plans.{mod}.build", query=name):
            df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span(f"plans.{mod}.exec", query=name):
            got = df.toPandas()
        t2 = time.perf_counter()
    except Exception as exc:
        failures.append(f"{name}: raised {type(exc).__name__}: "
                        f"{str(exc).splitlines()[0][:200]}")
        return None
    return {"name": name, "s": t2 - t0, "build": t1 - t0, "got": got}


def _layers(tracer, passes: int) -> dict:
    """Per-layer metrics, per timed pass over the subset."""
    spans = tracer.spans
    per = 1.0 / passes

    def tot(pred, what="seconds"):
        return per * sum(getattr(s, what) for s in spans if pred(s))

    def build(s):
        return s.name.startswith("plans.") and s.name.endswith(".build")

    def execs(s):
        return s.name.startswith("plans.") and s.name.endswith(".exec")

    out = {
        "catalog.load_s": tracer.total("catalog.load") / CATALOG_REPS,
        "catalog.load_jobs": tracer.total("catalog.load", "jobs")
        / CATALOG_REPS,
        "plans.build_s": tot(build),
        "plans.build_jobs": tot(build, "jobs"),
        "plans.exec_s": tot(execs),
        "exec.jobs": tot(execs, "jobs"),
        "exec.stages": tot(execs, "stages"),
        "exec.tasks": tot(execs, "tasks"),
    }
    for mod in MODULES:
        out[f"plans.{mod}.build_s"] = tot(
            lambda s: s.name == f"plans.{mod}.build")
        out[f"plans.{mod}.exec_s"] = tot(
            lambda s: s.name == f"plans.{mod}.exec")
        out[f"plans.{mod}.jobs"] = tot(
            lambda s: s.name in (f"plans.{mod}.build", f"plans.{mod}.exec"),
            "jobs")
    for q in ITERATIVE:
        out[f"registry.{q}.s"] = tot(lambda s: s.attrs.get("query") == q)
        out[f"registry.{q}.jobs"] = tot(
            lambda s: s.attrs.get("query") == q, "jobs")
    return out
