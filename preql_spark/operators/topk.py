"""Grouped top-k without a per-group sort window.

The naive spelling — ``row_number() OVER (PARTITION BY g ORDER BY v)``
then ``rank <= k`` — shuffles EVERY row to its group and fully sorts
each group, to keep k rows.  At 100 TB that window exchange is the
query.  Spark's ``TakeOrderedAndProject`` solves this for the GLOBAL
top-k only; this operator gives grouped queries the same
partial-before-exchange shape: one ObjectHashAggregate —
``slice(array_sort(collect_list(struct)), 1, k)`` — whose map-side
PARTIAL combine means each partition ships one list row per group
(the q113 contrastive-miner pattern, extracted).

The result follows the deterministic (order desc, tie asc)
contract; no reference equivalent (Preql stops at global
limit/order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def topk_per_group(df: DataFrame, group_cols: list[str],
                   order_col: str, k: int,
                   tie_col: str | None = None,
                   descending: bool = True) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` (desc by default),
    ties broken by ascending ``tie_col``; returns the original
    columns plus ``rank`` (1-based within the group).

    Pass ``tie_col`` whenever ranks must be reproducible — without it
    rows tied on ``order_col`` rank in struct-comparison order of the
    remaining payload."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    payload = [c for c in df.columns if c not in group_cols]
    if order_col not in payload and order_col not in group_cols:
        raise ValueError(f"unknown order column {order_col!r}")
    # NULL order/tie values rank LAST (both directions) — matching the
    # row_number-window oracle's desc_nulls_last/asc_nulls_last.
    # Without the flag, struct comparison treats a NULL field as
    # smallest, which in descending mode would silently rank NULL rows
    # FIRST and displace real rows.
    okey = (-F.col(order_col) if descending else F.col(order_col))
    skey = [F.col(order_col).isNull().cast("int").alias("__on"),
            okey.alias("__ok")]
    if tie_col is not None:
        skey.append(F.col(tie_col).isNull().cast("int").alias("__tn"))
        skey.append(F.col(tie_col).alias("__tk"))
    struct_fields = skey + [F.col(c).alias(c) for c in payload]

    agg = (df.groupBy(*group_cols)
           .agg(F.slice(F.array_sort(F.collect_list(
               F.struct(*struct_fields))), 1, k).alias("__top")))
    exploded = agg.select(
        *group_cols, F.posexplode("__top").alias("__rank0", "__t"))
    return exploded.select(
        *group_cols,
        *[F.col(f"__t.{c}").alias(c) for c in payload],
        (F.col("__rank0") + 1).cast("int").alias("rank"))
