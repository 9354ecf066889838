"""Bibliometric ordered-set aggregates: h-index, g-index, euclidean index.

The reference implements these as per-author numpy loops
(ref dags/metrics.py:99-143 hindex, 56-96 gindex, 12-53 euclidean) driven
by a per-author UPDATE loop (ref dags/pop_DWH.py:272-304). Here they are
pure window+aggregate formulations (SURVEY A4-A6) — one shuffle on the
group key, no Python in the hot path, arbitrarily scalable.

Definitions (matching the reference's executable docstring specs):
  hindex(cs)  = max h such that the h-th largest c >= h
                (hindex([6,10,5,46,0,2]) == 4)
  gindex(cs)  = max g such that the sum of the g largest c >= g^2
                over the nonzero citations (zeros dropped first, ref
                metrics.py:91-92, which caps g at the nonzero count:
                gindex([6,10,5,46,0,2]) == 5 as executed — the reference
                docstring's "6" predates the nonzero filter)
  euclidean(cs) = sqrt(sum(c^2))   (~47.7598 for the same vector)

A literal `applyInPandas` port of the numpy formulation is provided as
the grouped-map UDAF parity path (tested equal to the window form).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def hindex_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """h-index per group: rank values desc, h = max rank with value >= rank."""
    w = W.partitionBy(group_col).orderBy(F.desc(value_col))
    rn = F.row_number().over(w)
    ranked = df.select(
        group_col, F.col(value_col).alias("_v"), rn.alias("_rn")
    )
    return ranked.groupBy(group_col).agg(
        F.max(F.when(F.col("_v") >= F.col("_rn"), F.col("_rn")).otherwise(0))
        .cast("int")
        .alias("hindex")
    )


def gindex_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """g-index per group: cumsum of desc-sorted values, g = max n with cum >= n^2.

    Zero/null values are dropped before ranking (ref metrics.py:87-90).
    """
    nz = df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
    w = W.partitionBy(group_col).orderBy(F.desc(value_col))
    cum_w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = nz.select(
        group_col,
        F.row_number().over(w).alias("_rn"),
        F.sum(F.col(value_col).cast("long")).over(cum_w).alias("_cum"),
    )
    return ranked.groupBy(group_col).agg(
        F.max(
            F.when(F.col("_cum") >= F.col("_rn") * F.col("_rn"), F.col("_rn")).otherwise(0)
        )
        .cast("int")
        .alias("gindex")
    )


def hg_index_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """h- and g-index per group in ONE pass: one row_number + running-sum
    window over the desc-sorted values and one aggregate — row-identical
    to ``hindex_agg`` outer-joined with ``gindex_agg`` on ``group_col``.

    Desc order puts positive values first, then zeros, then NULLs, so on
    the positive rows ``_rn``/``_cum`` equal gindex_agg's rank and cumsum
    over the nonzero values. Non-positive rows feed g a NULL, so g is
    NULL for a group with no positive value — the rows the outer join
    leaves unmatched. The cumsum and the rank square are long (a group
    of int32-max values must not wrap)."""
    v = F.col(value_col)
    w = W.partitionBy(group_col).orderBy(F.desc(value_col))
    ranked = df.select(
        group_col,
        v.alias("_v"),
        F.row_number().over(w).cast("long").alias("_rn"),
        F.sum(v.cast("long"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("_cum"),
    )
    rn, cum = F.col("_rn"), F.col("_cum")
    return ranked.groupBy(group_col).agg(
        F.max(F.when(F.col("_v") >= rn, rn).otherwise(0)).cast("int").alias("hindex"),
        F.max(
            F.when(F.col("_v") > 0, F.when(cum >= rn * rn, rn).otherwise(0))
        ).cast("int").alias("gindex"),
    )


def euclidean_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Euclidean index per group: sqrt of the exact (decimal) sum of squares."""
    sq = (
        F.col(value_col).cast("decimal(18,4)") * F.col(value_col).cast("decimal(18,4)")
    )
    return df.groupBy(group_col).agg(
        F.round(F.sqrt(F.sum(sq).cast("double")), 6).alias("euclidean")
    )


# --- literal numpy-parity path (grouped-map UDAF; SURVEY §2.13) -----------


def _hindex_py(values: list[float]) -> int:
    cs = sorted((v for v in values if v is not None and not math.isnan(v)), reverse=True)
    return max((i + 1 for i, c in enumerate(cs) if c >= i + 1), default=0)


def _gindex_py(values: list[float]) -> int:
    cs = sorted(
        (v for v in values if v is not None and not math.isnan(v) and v > 0),
        reverse=True,
    )
    total, g = 0.0, 0
    for i, c in enumerate(cs):
        total += c
        if total >= (i + 1) ** 2:
            g = i + 1
    return g


def metrics_apply_in_pandas(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Grouped-map parity implementation of h/g-index (Arrow-batched)."""

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        vs = pdf[value_col].tolist()
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "hindex": [_hindex_py(vs)],
                "gindex": [_gindex_py(vs)],
            }
        )

    out_schema = f"{group_col} long, hindex int, gindex int"
    return df.groupBy(group_col).applyInPandas(per_group, schema=out_schema)
