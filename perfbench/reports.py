"""LQY report calls with seeded parameters and their DuckDB oracles.

Parameters are drawn from the warehouse's own value domains: year
windows, gender, limit/topn, GM coverage target, supplier and state
CSV filters. The oracle of each call is the independent DuckDB
translation in ``plans/library_gate.py``, run over the parquet files of
the warehouse snapshot the call read.
"""

from __future__ import annotations

import random
from urllib.parse import urlparse

from library_data_warehouse_and_business_analytics_system_spark.plans import library as L
from library_data_warehouse_and_business_analytics_system_spark.plans import library_gate as G

from .compare import mismatch

KINDS = ("query1", "query2", "query3",
         "query1_subtotals", "query2_subtotals", "query3_subtotals")

_SUBTOTAL_TAILS = {1: G.Q1_SUBTOTALS_TAIL, 2: G.Q2_SUBTOTALS_TAIL,
                   3: G.Q3_SUBTOTALS_TAIL}
_SQL = {1: G.Q1_SQL, 2: G.Q2_SQL, 3: G.Q3_SQL}
DW_TABLES = ("dim_date", "dim_book", "dim_members", "dim_suppliers",
             "fact_sales", "fact_purchase", "fact_borrowing")


def domains(dw) -> tuple[list[str], list[str]]:
    """Sorted member states and supplier names of a warehouse."""
    states = sorted({r.state.strip() for r in
                     dw["dim_members"].select("state").distinct().collect()
                     if r.state and r.state.strip()})
    sups = sorted({r.supplierName for r in
                   dw["dim_suppliers"].select("supplierName")
                   .distinct().collect() if r.supplierName})
    return states, sups


def _quote_upper(names: list[str]) -> str:
    return ",".join("'" + n.upper().replace("'", "''") + "'" for n in names)


class Call:
    """One report call: the Spark function, its arguments and the SQL
    that must give the same rows."""

    def __init__(self, kind: str, args: tuple, kwargs: dict, sql: str):
        self.kind, self.args, self.kwargs, self.sql = kind, args, kwargs, sql
        self.tag = f"{kind}{list(args)}{sorted(kwargs.items())}"
        self.result = None

    @classmethod
    def draw(cls, kind: str, rng: random.Random, states: list[str],
             sups: list[str]) -> "Call":
        q = int(kind[5])
        yf = rng.randint(2015, 2023)
        yt = rng.randint(yf, 2024)
        if q == 1:
            g, lim = rng.choice(["ALL", "F", "M"]), rng.randint(1, 8)
            kwargs = {"limit": lim, "gender": g}
            fmt = {"g": g, "lim": lim}
        elif q == 2:
            topn = rng.randint(1, 12)
            if rng.random() < 0.5:
                sel = rng.sample(sups, k=min(len(sups), rng.randint(1, 4)))
                csv = ",".join(sel)
                sup = f"UPPER(s.supplierName) IN ({_quote_upper(sel)})"
            else:
                csv, sup = "%", "1=1"
            kwargs = {"topn": topn, "suppliers_csv": csv}
            fmt = {"topn": topn, "sup": sup}
        else:
            cov = rng.choice([5, 10, 15, 20, 25])
            if rng.random() < 0.5:
                sel = rng.sample(states, k=min(len(states), rng.randint(1, 4)))
                csv = ",".join(sel)
                sp = f"state IN ({_quote_upper(sel)})"
            else:
                csv, sp = "%", "1=1"
            kwargs = {"states_csv": csv, "target_gm_pct": float(cov)}
            fmt = {"cov": cov, "sp": sp}
        sql = _SQL[q].format(yf=yf, yt=yt, **fmt)
        if kind.endswith("_subtotals"):
            sql = "WITH detail AS (\n" + sql + "\n)" + _SUBTOTAL_TAILS[q]
        return cls(kind, (yf, yt), kwargs, sql)

    def run(self, dw, tracer) -> None:
        """Build the report and collect it to pandas."""
        with tracer.span(f"reports.{self.kind}.build"):
            df = getattr(L, self.kind)(dw, *self.args, **self.kwargs)
        with tracer.span(f"reports.{self.kind}.collect"):
            self.result = df.toPandas()

    def check(self, con) -> str | None:
        """None when the collected rows equal the oracle's."""
        want = con.execute(self.sql).df()
        if len(self.result) == 0 and len(want) == 0:
            return None
        return mismatch(self.result, want, float_rtol=1e-9)


def duck_views(con, dw: dict) -> None:
    """Point DuckDB views named like the warehouse tables at the parquet
    files each frame of ``dw`` reads, so the oracle sees the very
    snapshot the Spark call saw."""
    for t in DW_TABLES:
        files = ", ".join(f"'{urlparse(f).path}'" for f in dw[t].inputFiles())
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet([{files}], hive_partitioning = false, "
                    "union_by_name = true)")
