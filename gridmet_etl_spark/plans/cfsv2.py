"""The cfsv2-etl forecast pipeline (SURVEY §3.2) as one DataFrame DAG.

Method 1 (ensemble median, etl.py:283-340): exact median across 48 members
per cell FIRST, then weighted aggregation — the median and the weighted mean
do not commute, so the order is semantic, not incidental. The median is
``ensemble_median``'s sorted-members kernel (each cell's members collected
and sorted once, the middle picked with Spark's Percentile interpolation,
equal to ``F.median`` bit for bit); the job has two data exchanges, the
median's (var, time, i, j) shuffle and the weighted aggregation's.

Method 2 (all members, etl.py:342-383): the reference loops 48 sequential
per-member pipelines; the engine keeps ``ens`` in the join/group keys so a
single shuffle computes all members (SURVEY §2.6 E1 rewrite — the largest
headroom over the reference).

Relative humidity (helper.py:204-227) is derived from KELVIN temps + sph +
elevation BEFORE the K→°C conversion, matching the reference's order
(run_weights derives RH at etl.py:229; finalize converts at etl.py:455-464).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.physics import relative_humidity
from ..functions.units import kelvin_to_celsius
from ..operators.bbox import bbox_filter, feature_bounds, time_filter
from ..operators.ensemble import ensemble_median
from ..operators.fill import fill_missing
from ..operators.weighted_agg import weighted_mean_wide
from ..schemas import CFSV2_VARS


def _finalize(wide: DataFrame, elevation: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """RH physics (on Kelvin) → rename → K→°C. elevation joined on
    feature_id (J5; broadcast — one row per feature)."""
    with_elev = wide.join(
        F.broadcast(elevation.select("feature_id", "hru_elev")), "feature_id", "left"
    )
    out = with_elev.select(
        *keys,
        kelvin_to_celsius("tmmx").alias("tmax"),
        kelvin_to_celsius("tmmn").alias("tmin"),
        F.col("pr").alias("prcp"),
        relative_humidity("tmmx", "tmmn", "sph", "hru_elev").alias("humidity"),  # F3-F5
    )
    return out


def cfsv2_median_pipeline(
    grid_ens: DataFrame,
    weights: DataFrame,
    elevation: DataFrame,
    features: DataFrame | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    fill: bool = False,
) -> DataFrame:
    """Method 1: ensemble median per cell → weighted mean → wide
    (feature_id, time, tmax, tmin, prcp, humidity)."""
    source_vars = [v[0] for v in CFSV2_VARS.values()]
    if features is not None:
        grid_ens = bbox_filter(grid_ens, feature_bounds(features))
    if start_date and end_date:
        grid_ens = time_filter(grid_ens, start_date, end_date)
    med = ensemble_median(grid_ens.filter(F.col("var").isin(source_vars)))  # A3
    wide = weighted_mean_wide(med, weights, source_vars)  # J1+A1, one shuffle
    out = _finalize(wide, elevation, keys=("feature_id", "time"))
    if fill:
        if features is None:
            raise ValueError("fill=True requires the features table")
        out, _ = fill_missing(out, features)
    return out


def cfsv2_ensemble_pipeline(
    grid_ens: DataFrame,
    weights: DataFrame,
    elevation: DataFrame,
    features: DataFrame | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    fill: bool = False,
) -> DataFrame:
    """Method 2: all 48 members in one pass → wide
    (feature_id, ens, time, tmax, tmin, prcp, humidity); write with
    ``partitionBy("ens")`` to reproduce the per-member file layout."""
    source_vars = [v[0] for v in CFSV2_VARS.values()]
    if features is not None:
        grid_ens = bbox_filter(grid_ens, feature_bounds(features))
    if start_date and end_date:
        grid_ens = time_filter(grid_ens, start_date, end_date)
    wide = weighted_mean_wide(
        grid_ens, weights, source_vars, extra_keys=("ens",)
    )  # E1 rewrite: all 48 members + all vars in one shuffle
    out = _finalize(wide, elevation, keys=("feature_id", "ens", "time"))
    if fill:
        if features is None:
            raise ValueError("fill=True requires the features table")
        out, _ = fill_missing(out, features)
    return out
