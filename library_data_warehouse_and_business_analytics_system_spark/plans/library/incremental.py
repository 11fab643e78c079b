"""Incremental warehouse load (EP3, SURVEY.md §3): the Spark
re-expression of /root/reference/07_SubsequentLoading.sql plus the SCD2
procedures in 06_Type2_DimBook.sql / 06_Type2_DimMembers.sql.

The reference scopes each run with bind variables capturing "the new
IDs"; here the caller passes an ``oltp_delta`` dict of just-arrived
rows (any subset of the 16 tables) and the previous DW state, and gets
the next DW state back. Every step is idempotent — re-running with the
same delta is a no-op (MERGE / NOT-EXISTS semantics), which is the
property the reference's NOT EXISTS guards exist to provide.

On Delta each helper becomes a ``DeltaTable.merge``; the join shapes
(full-outer on the merge key, left-anti for inserts) are what Delta
executes physically, so the plans carry over unchanged.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...functions import scalars as X
from ...operators.merge import insert_not_exists, merge_upsert
from ...operators.scd2 import scd2_apply
from ...operators.surrogate import continue_surrogate_key
from .etl import (load_dim_book, load_dim_members, load_dim_suppliers,
                  load_fact_borrowing, load_fact_purchase, load_fact_sales,
                  screen_oltp)

# ---------------------------------------------------------------------------
# Dim deltas: Prod_Insert_{Member,Book,Supplier}_Dim
# (07_SubsequentLoading.sql:27-169) — insert-where-not-exists with the
# shared surrogate sequence continuing across loads.


def _insert_new_dim(dim: DataFrame, loaded_new: DataFrame, natural_key: str,
                    surrogate_key: str) -> DataFrame:
    fresh = loaded_new.join(dim.select(natural_key), natural_key, "left_anti")
    fresh = continue_surrogate_key(dim, fresh.drop(surrogate_key),
                                   surrogate_key, [natural_key])
    return dim.unionByName(fresh.select(dim.columns))


def insert_new_dim_books(dim_book: DataFrame, new_titles: DataFrame) -> DataFrame:
    return _insert_new_dim(dim_book, load_dim_book(new_titles),
                           "bookId", "bookKey")


def insert_new_dim_members(dim_members: DataFrame, new_members: DataFrame,
                           as_of: dt.date) -> DataFrame:
    return _insert_new_dim(dim_members, load_dim_members(new_members, as_of),
                           "memberId", "memberKey")


def insert_new_dim_suppliers(dim_suppliers: DataFrame,
                             new_suppliers: DataFrame) -> DataFrame:
    return _insert_new_dim(dim_suppliers, load_dim_suppliers(new_suppliers),
                           "supplierId", "supplierKey")


def insert_dim_deltas(dw: dict[str, DataFrame],
                      oltp_delta: dict[str, DataFrame],
                      as_of: dt.date) -> dict[str, DataFrame]:
    """The three dim inserts in the reference's order (:27-169): a copy
    of ``dw`` whose book/member/supplier dims gained the delta's new
    rows. Shared by the in-memory and the durable subsequent load."""
    out = dict(dw)
    if "book_titles" in oltp_delta:
        out["dim_book"] = insert_new_dim_books(out["dim_book"],
                                               oltp_delta["book_titles"])
    if "members" in oltp_delta:
        out["dim_members"] = insert_new_dim_members(
            out["dim_members"], oltp_delta["members"], as_of)
    if "suppliers" in oltp_delta:
        out["dim_suppliers"] = insert_new_dim_suppliers(
            out["dim_suppliers"], oltp_delta["suppliers"])
    return out


# ---------------------------------------------------------------------------
# SCD2 change application: Prod_Update_DimBook tracks (price, status)
# (06_Type2_DimBook.sql:34-46); Prod_Update_DimMembers_T2 tracks
# (name, state, city) — deliberately NOT ageRange
# (06_Type2_DimMembers.sql:67-69, SURVEY.md §7 risk 3) — with the
# inactive → close-only branch (:101-107).


def scd2_update_dim_book(dim_book: DataFrame, changed_titles: DataFrame,
                         effective: dt.date) -> DataFrame:
    updates = changed_titles.select(
        "bookId",
        X.nonneg_money(F.col("salesPrice")).cast("double").alias("price"),
        F.lit("AVAILABLE").alias("bookStatus"),
        F.upper(F.trim("title")).alias("title"),
        F.upper(F.trim("author")).alias("author"),
        X.canonical_genre(F.col("genre")).alias("genre"),
        F.coalesce("popularity", F.lit(3.0)).alias("popularity"),
    )
    return scd2_apply(dim_book, updates, "bookId",
                      tracked=["price", "bookStatus"],
                      carried=["title", "author", "genre", "popularity"],
                      surrogate_key="bookKey", effective_date=effective)


# ---------------------------------------------------------------------------
# Fact deltas (07_SubsequentLoading.sql:324-435)


def merge_fact_sales(fact_sales: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE keyed on sales_id (:331-355): matched rows update measures,
    unmatched insert."""
    return merge_upsert(fact_sales, delta, keys=["sales_id"])


def append_fact_borrowing(fact_borrowing: DataFrame,
                          delta: DataFrame) -> DataFrame:
    """NOT EXISTS + GROUP BY on the (date, member, book) PK (:360-402)."""
    return insert_not_exists(fact_borrowing, delta,
                             keys=["dateKey", "memberKey", "bookKey"])


def merge_fact_purchase(fact_purchase: DataFrame,
                        delta: DataFrame) -> DataFrame:
    """MERGE on (PO, book, supplier, date) (:407-431)."""
    return merge_upsert(fact_purchase, delta,
                        keys=["purchaseOrderId", "bookKey", "supplierKey",
                              "dateKey"])


def cap_overdue_days(fact_borrowing: DataFrame, cap: int = 15) -> DataFrame:
    """Retro-correction (:288-322): overdueDays > cap → 0 (the
    reference's deliberate data-quality recode; variant documented in
    SURVEY.md §7 risk 3)."""
    return fact_borrowing.withColumn(
        "overdueDays",
        F.when(F.col("overdueDays") > cap, F.lit(0).cast("long"))
        .otherwise(F.col("overdueDays")))


# ---------------------------------------------------------------------------


def subsequent_load(spark: SparkSession, dw: dict[str, DataFrame],
                    oltp: dict[str, DataFrame],
                    oltp_delta: dict[str, DataFrame],
                    as_of: dt.date, validate_mode: str = "quarantine",
                    rejects_out: dict[str, DataFrame] | None = None,
                    ) -> dict[str, DataFrame]:
    """EP3 end-to-end: dim inserts → SCD2 updates → fact MERGEs →
    retro-corrections, in the reference's order (:27-435).

    ``oltp`` is the full post-delta OLTP state (needed for fact-load
    joins to copies/titles); ``oltp_delta`` holds only the new rows.
    The delta is screened against the CHECK rules at entry (same
    rejection semantics as ``initial_load``; the full-state ``oltp``
    passed alongside is assumed already-loaded, hence already clean).
    """
    oltp_delta = screen_oltp(oltp_delta, validate_mode, rejects_out)
    out = insert_dim_deltas(dw, oltp_delta, as_of)

    if "sales_details" in oltp_delta:
        delta = load_fact_sales(
            oltp_delta["sales_details"], oltp["book_orders"],
            oltp["book_titles"], oltp["discounts"], out["dim_date"],
            out["dim_members"], out["dim_book"])
        out["fact_sales"] = merge_fact_sales(out["fact_sales"], delta)
    if "borrowed_books" in oltp_delta:
        delta = load_fact_borrowing(
            oltp_delta["borrowed_books"], oltp["book_copies"],
            out["dim_date"], out["dim_members"], out["dim_book"], as_of)
        out["fact_borrowing"] = append_fact_borrowing(
            out["fact_borrowing"], delta)
    if "purchase_orders" in oltp_delta:
        delta = load_fact_purchase(
            oltp_delta["purchase_orders"], oltp["purchase_details"],
            out["dim_date"], out["dim_book"], out["dim_suppliers"])
        out["fact_purchase"] = merge_fact_purchase(out["fact_purchase"], delta)

    out["fact_borrowing"] = cap_overdue_days(out["fact_borrowing"])
    return out
