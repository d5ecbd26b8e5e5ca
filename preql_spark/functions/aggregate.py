"""Aggregate function surface — SURVEY.md §2.4.

Reference stdlib aggregates (``__builtins__.pql``) are dual-mode
(whole-table or per-group via ``_sql_agg_func`` :3-27); here both modes
are the same Column expression — ``Table.group`` decides the grouping.
Catalyst provides partial aggregation (map-side combine) automatically,
which is the 100 TB-scale behavior the reference delegated to its DB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def count(col=None) -> Column:
    """count() / count(col) — pql_functions.py:280-324."""
    return F.count(F.lit(1)) if col is None else F.count(_c(col))


def sum_(col) -> Column:
    """sum — __builtins__.pql:31-46."""
    return F.sum(_c(col))


def mean(col) -> Column:
    """mean — __builtins__.pql:66."""
    return F.avg(_c(col))


def min_(col) -> Column:
    return F.min(_c(col))


def max_(col) -> Column:
    return F.max(_c(col))


def stddev(col) -> Column:
    """stddev — __builtins__.pql:60 (sample stddev, matching the
    reference's sqlite UDAF at sql_interface.py:810-827)."""
    return F.stddev_samp(_c(col))


def product(col) -> Column:
    """product — __builtins__.pql:48-58 (sqlite UDAF / pg CREATE
    AGGREGATE).  Spark 3.2+ has a native multiplicative aggregate."""
    return F.product(_c(col))


def approx_product(col) -> Column:
    """approx_product via exp(sum(ln x)) — __builtins__.pql:313-325."""
    return F.exp(F.sum(F.log(_c(col))))


def first(col) -> Column:
    """first — __builtins__.pql:84-127."""
    return F.first(_c(col), ignorenulls=False)


def first_or_null(col) -> Column:
    return F.first(_c(col), ignorenulls=True)


def corr(a, b) -> Column:
    """Pearson correlation (beyond reference — natural in Spark)."""
    return F.corr(_c(a), _c(b))


def covar_samp(a, b) -> Column:
    return F.covar_samp(_c(a), _c(b))


def first_by(col, order_col) -> Column:
    """Value of ``col`` at the minimum of ``order_col`` — the
    deterministic form of first() for unordered distributed groups
    (plain first() is tie-to-arrival on a shuffled input)."""
    return F.min_by(_c(col), _c(order_col))


def last_by(col, order_col) -> Column:
    """Value of ``col`` at the maximum of ``order_col``."""
    return F.max_by(_c(col), _c(order_col))


def count_distinct(col) -> Column:
    """count_distinct — __builtins__.pql:354."""
    return F.countDistinct(_c(col))


def approx_count_distinct(col, rsd: float = 0.05) -> Column:
    """Beyond-reference: HLL sketch for 100 TB cardinalities."""
    return F.approx_count_distinct(_c(col), rsd)


def count_true(col) -> Column:
    """count_true — __builtins__.pql:284,427-457."""
    return F.sum(F.when(_c(col).cast("boolean"), 1).otherwise(0))


def count_false(col) -> Column:
    return F.sum(F.when(_c(col).cast("boolean"), 0).otherwise(1))


def collect(col, sort: bool = False) -> Column:
    """Bare column in agg position → array (MakeArray,
    compiler.py:59-63).  ``sort=True`` gives deterministic output for
    differential testing (collection order is partition-order)."""
    out = F.collect_list(_c(col))
    return F.sort_array(out) if sort else out


def median(col) -> Column:
    """list_median — __builtins__.pql:199-209.  Exact percentile (the
    reference computes exact via sort+slice); use percentile_approx at
    100 TB scale instead."""
    return F.percentile(_c(col), F.lit(0.5))

