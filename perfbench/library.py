"""Library OLTP inputs and the warehouse built from them.

``hold_back`` splits generated OLTP rows into a base state and
incremental loads of the most recent days. Each load spans as few
consecutive active days as hold rows for all three fact tables
(borrows, sales, purchase orders) and registers one new member, so
every load runs the same steps of the incremental pipeline whatever
the seed.
"""

from __future__ import annotations

import datetime as dt
import random
import time

from library_data_warehouse_and_business_analytics_system_spark import schema as S
from library_data_warehouse_and_business_analytics_system_spark.generators.library_data import (
    AS_OF, LibraryData,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library import initial_load

from .reports import DW_TABLES


def hold_back(data: LibraryData, n_loads: int, seed: int,
              ) -> tuple[LibraryData, dict, list]:
    """Returns (base, lookups, loads). ``lookups`` holds the full
    ``book_orders`` and ``purchase_details`` row lists a load joins its
    delta rows against; ``loads`` is a chronological list of
    ``{table: rows}``."""
    t = data.tables
    lines_of = {r[1] for r in t["sales_details"]}
    kinds = {}   # day -> fact kinds with rows dated that day
    for r in t["borrowed_books"]:
        kinds.setdefault(r[3], set()).add("borrowed_books")
    for r in t["book_orders"]:
        if r[4] is not None and r[0] in lines_of:
            kinds.setdefault(r[4], set()).add("sales_details")
    for r in t["purchase_orders"]:
        kinds.setdefault(r[2], set()).add("purchase_orders")

    # walk back from the last day; a load closes once it holds rows for
    # all three fact tables, so every load runs the same merge steps
    spans, days, have = [], [], set()
    for day in sorted((d for d in kinds if d <= AS_OF), reverse=True):
        days.append(day)
        have |= kinds[day]
        if len(have) == 3:
            spans.append(days)
            days, have = [], set()
            if len(spans) == n_loads:
                break
    spans.reverse()
    load_of = {d: i for i, span in enumerate(spans) for d in span}
    loads = [{} for _ in spans]

    def route(table: str, rows, day_of) -> list:
        kept = []
        for r in rows:
            i = load_of.get(day_of(r))
            if i is None:
                kept.append(r)
            else:
                loads[i].setdefault(table, []).append(r)
        return kept

    order_day = {r[0]: r[4] for r in t["book_orders"]}
    base = LibraryData(dict(t))
    base.tables["borrowed_books"] = route("borrowed_books",
                                          t["borrowed_books"],
                                          lambda r: r[3])
    base.tables["sales_details"] = route("sales_details", t["sales_details"],
                                         lambda r: order_day[r[1]])
    base.tables["purchase_orders"] = route("purchase_orders",
                                           t["purchase_orders"],
                                           lambda r: r[2])
    base.tables["book_orders"] = [r for r in t["book_orders"]
                                  if r[4] not in load_of]
    held_po = {r[0] for r in t["purchase_orders"] if r[2] in load_of}
    base.tables["purchase_details"] = [r for r in t["purchase_details"]
                                       if r[1] not in held_po]
    held_borrows = {r[0] for r in t["borrowed_books"] if r[3] in load_of}
    base.tables["fines"] = [r for r in t["fines"]
                            if r[1] not in held_borrows]

    # every load also registers one new member on its last day, modelled
    # on a seeded existing member (no order or borrow references them)
    rng = random.Random(seed)
    for i, span in enumerate(spans):
        like = rng.choice(t["members"])
        day = max(span)
        loads[i]["members"] = [(
            f"MN{i:03d}", like[1], like[2], f"new{i}@example.com", like[4],
            like[5], like[6], "active", day, day + dt.timedelta(days=364))]
    lookups = {"book_orders": t["book_orders"],
               "purchase_details": t["purchase_details"]}
    return base, lookups, loads


def frames(spark, tables: dict[str, list]) -> dict:
    """Small row lists as DataFrames with their OLTP schemas."""
    return {n: spark.createDataFrame(rows, S.OLTP_SCHEMAS[n])
            for n, rows in tables.items()}


def build_warehouse(spark, data: LibraryData, tracer) -> tuple[dict, dict, dict]:
    """to_spark + initial_load + cache and count every warehouse table,
    one after another. Returns (oltp, dw, seconds per step)."""
    t0 = time.perf_counter()
    with tracer.span("generators.to_spark"):
        oltp = data.to_spark(spark)
    t1 = time.perf_counter()
    with tracer.span("etl.build"):
        dw = initial_load(spark, oltp, AS_OF)
    t2 = time.perf_counter()
    with tracer.span("etl.materialize"):
        for name in DW_TABLES:
            dw[name] = dw[name].cache()
            with tracer.span(f"etl.{name}.count"):
                dw[name].count()
    t3 = time.perf_counter()
    return oltp, dw, {"to_spark": t1 - t0, "etl_build": t2 - t1,
                      "materialize": t3 - t2}
