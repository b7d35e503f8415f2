"""Ensemble operators (SURVEY §2.5 A3, §2.6 E1/E2).

Reference: CFSv2 method 1 takes the exact median across the 48-member
``ens`` dimension per (time, lat, lon) cell (etl.py:296-298); method 2
processes all members (etl.py:361-383, a sequential loop we replace by
keeping ``ens`` in the aggregation keys — see weighted_agg).

Spark design: one sorted-members kernel serves the median, the quantiles
and the summary. A groupBy over the cell keys (var, time, i, j) collects
each cell's members once, ``sort_array(collect_list(value))``, and every
quantile is picked from that array with the interpolation of Spark's own
``Percentile`` aggregate (see ``_quantile``), so the results equal
``median``/``percentile`` bit for bit.

Why not ``median``/``percentile``: ``Percentile`` keeps a per-group
value→count hash map as an object buffer, serializes it for the shuffle and
sorts its keys at evaluation; collecting the members into a plain array and
sorting it once does the same work in about half the time. The median
alone over the e2ebench ``cfsv2_median`` grid (3.9M cell-values, noop
sink, 4-vCPU VM, median of 7): ``F.median`` 1.92 s, sorted members
1.08 s, the scan by itself 0.21 s; shuffle records and exchanges are the
same. ``sort_array`` rather than ``array_sort``: the latter measured
1.26 s on the same runs. Group size is fixed at 48 → bounded state
per group. At 100 TB the shuffle key (var, time, i, j) is high-cardinality
and uniform → no skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CELL = ("var", "time", "i", "j")
_MEMBERS = "_members"


def _sorted_members(value_col: str) -> Column:
    """The cell's members, ascending. ``collect_list`` skips NULL members
    as ``median`` does (an all-NULL cell gives an empty array), and
    ``sort_array`` orders NaN last, the way ``Percentile`` ranks it."""
    return F.sort_array(F.collect_list(value_col)).alias(_MEMBERS)


def _quantile(p: float) -> Column:
    """Quantile ``p`` of the sorted ``_members`` array with Spark's
    ``Percentile`` interpolation: ``pos = (n - 1)·p``; at an integral
    position, or when both neighbours are equal, the element itself (the
    weighted sum would lose subnormals and round equal neighbours);
    otherwise ``(ceil - pos)·a[floor] + (pos - floor)·a[ceil]``. ``get`` is
    NULL out of range, so an empty cell (n = 0) gives NULL."""
    m = F.col(_MEMBERS)
    pos = (F.size(m) - 1) * F.lit(float(p))
    lo, hi = F.floor(pos), F.ceil(pos)
    a_lo, a_hi = F.get(m, lo), F.get(m, hi)
    return F.when((lo == hi) | (a_lo == a_hi), a_lo).otherwise(
        (hi - pos) * a_lo + (pos - lo) * a_hi
    )


def ensemble_median(grid_ens: DataFrame, value_col: str = "value") -> DataFrame:
    """Exact median over the ensemble axis per (var, time, i, j) cell.

    Keeps lat/lon via first() (functionally dependent on i/j).
    Reproduces `ds[key].median(dim="ens")` (etl.py:296-297); xarray's
    median skips NaN by default only for skipna=True — the reference uses
    the default (skipna=True for float dtypes), matching SQL median's
    NULL-skipping. Computed by the sorted-members kernel: equal to
    ``F.median`` bit for bit, NULL for an all-NULL cell.
    """
    cells = grid_ens.groupBy(*_CELL).agg(
        F.first("lat").alias("lat"),
        F.first("lon").alias("lon"),
        _sorted_members(value_col),
    )
    return cells.select(*_CELL, "lat", "lon", _quantile(0.5).alias("value"))


def ensemble_stats(grid_ens: DataFrame, value_col: str = "value") -> DataFrame:
    """Extended ensemble summary (beyond reference surface, same shuffle):
    median/mean/min/max/stddev per cell, one pass; the median comes from
    the sorted-members kernel."""
    v = F.col(value_col)
    cells = grid_ens.groupBy(*_CELL).agg(
        _sorted_members(value_col),
        F.avg(v).alias("ens_mean"),
        F.min(v).alias("ens_min"),
        F.max(v).alias("ens_max"),
        F.stddev_samp(v).alias("ens_std"),
        F.count(v).alias("n_members"),
    )
    return cells.select(
        *_CELL,
        _quantile(0.5).alias("ens_median"),
        "ens_mean", "ens_min", "ens_max", "ens_std", "n_members",
    )


def ensemble_quantiles(
    grid_ens: DataFrame,
    quantiles: tuple[float, ...] = (0.1, 0.5, 0.9),
    value_col: str = "value",
) -> DataFrame:
    """Exact interpolated quantiles across the ensemble per cell — the
    probabilistic-forecast generalization of the reference's median-only
    product (same shuffle as ensemble_median; every quantile is picked
    from one sorted array per cell, equal to ``F.percentile`` bit for bit;
    linear interpolation matches DuckDB quantile_cont on the 48-member
    groups)."""
    cells = grid_ens.groupBy(*_CELL).agg(_sorted_members(value_col))
    return cells.select(
        *_CELL, *[_quantile(q).alias(f"q{int(q * 100)}") for q in quantiles]
    )


def concat_members(members: list[DataFrame], tag_col: str = "ens") -> DataFrame:
    """E2: xr.concat(dim="ens") analogue — UNION ALL with a member tag.

    Reference builds this from 48 per-member files (etl.py:355-357); in the
    engine the long form usually arrives pre-tagged, making this a no-op.
    """
    tagged = [df.withColumn(tag_col, F.lit(n)) for n, df in enumerate(members)]
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df)
    return out
