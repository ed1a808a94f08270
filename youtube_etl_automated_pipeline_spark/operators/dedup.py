"""Dedup operators (SURVEY.md section 2.5 A4-A6, 2.6 W1-W2).

Keep-last semantics need an explicit ordering column — Spark's
``dropDuplicates`` keeps an arbitrary row, the reference's pandas
``drop_duplicates(keep='last')`` (dataingestion1.py:168) and BigQuery
``ROW_NUMBER`` dedup (ingestdatainbigquery.py:84-96) do not. All
variants here are window-based: one shuffle on the key, no driver
state, scales with executor count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _sort_cols(order_by: Sequence[Column | str], flip: bool) -> list[Column]:
    """Strings get the variant's direction; Column entries are assumed
    to be fully-specified sort expressions and are used verbatim."""
    out: list[Column] = []
    for c in order_by:
        if isinstance(c, str):
            out.append(F.col(c).desc() if flip else F.col(c).asc())
        else:
            out.append(c)
    return out


def keep_last(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]) -> DataFrame:
    """A5/W2: one row per key, the LAST by ``order_by`` ascending.

    Equivalent of ``drop_duplicates(subset=keys, keep='last')`` over a
    frame sorted by ``order_by`` (dataingestion1.py:166-168). Single
    shuffle on ``keys``; ties broken by the caller supplying a total
    order (e.g. a monotonically-increasing ingest_seq).
    """
    w = Window.partitionBy(*keys).orderBy(*_sort_cols(order_by, flip=True))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def keep_first(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]) -> DataFrame:
    """A6/W1 variant: one row per key, FIRST by ``order_by`` ascending."""
    w = Window.partitionBy(*keys).orderBy(*_sort_cols(order_by, flip=False))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_distinct(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Plain distinct (hash-aggregate shuffle). ``keys=None`` -> full row."""
    return df.distinct() if keys is None else df.dropDuplicates(list(keys))
