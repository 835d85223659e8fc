"""Sorts / limits / pagination (SURVEY.md §2.7, O1–O6).

Pagination needs a *stable total order* — pandas paged on its implicit
row index (MAC:512-516); Spark has no index, so ``paginate`` demands an
explicit unique ordering. A page is ``top_k`` of ``hi`` rows minus the
first ``lo``: one TakeOrderedAndProject whose merge sees partitions × hi
rows (Spark falls back to sort + limit past its own
``spark.sql.execution.topKSortFallbackThreshold``). The DuckDB oracle
keeps ROW_NUMBER as the page's independent definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sort(df: DataFrame, column: str, ascending: bool = True) -> DataFrame:
    """O1/O2: sort by arbitrary column/direction (MAC:434-437)."""
    c = F.col(column)
    return df.orderBy(c.asc() if ascending else c.desc())


def sorted_distinct(df: DataFrame, column: str) -> DataFrame:
    """O4: sorted distinct values (sorted(df[c].unique()), AP:95)."""
    return df.select(column).distinct().orderBy(column)


def head(df: DataFrame, n: int) -> DataFrame:
    """O5: dev-mode row cap (df.head(n), MAC:823)."""
    return df.limit(n)


def top_k(df: DataFrame, order_by: list, k: int) -> DataFrame:
    """Top-k with pinned tie-break — Spark plans TakeOrderedAndProject
    (per-partition heap + merge of k), no global sort materialized."""
    return df.orderBy(*order_by).limit(k)


def paginate(df: DataFrame, order_by: list, page: int, page_size: int) -> DataFrame:
    """O6: page ``page`` (1-based) of size ``page_size`` under a stable order.

    Reference: df.iloc[(p-1)*n : p*n] (MAC:512-516), which leaned on the
    pandas row index; here the caller's ``order_by`` must be a total
    order for pages to be disjoint and reproducible. A row_number window
    sorts the whole frame on one task once ``hi`` passes the optimizer's
    ``spark.sql.optimizer.windowGroupLimitThreshold``; the top-k does not.
    """
    lo, hi = (page - 1) * page_size, page * page_size
    return top_k(df, order_by, hi).offset(lo)
