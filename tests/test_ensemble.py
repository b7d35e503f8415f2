"""A3 ensemble median + E2 concat vs numpy goldens and permutation property;
the sorted-members kernel against Spark's own median/percentile."""

import math
import os
from datetime import date

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.ensemble import (
    concat_members,
    ensemble_median,
    ensemble_quantiles,
    ensemble_stats,
)

_CELL = ["var", "time", "i", "j"]


@pytest.fixture(scope="module")
def ens_pd(fixdir):
    return pd.read_parquet(os.path.join(fixdir, "grid_ens.parquet"))


def test_median_matches_numpy(spark, grid_ens, ens_pd):
    sub = ens_pd[(ens_pd["var"] == "tmmx") & (ens_pd["i"] == 3) & (ens_pd["j"] == 4)]
    golden = sub.groupby("time")["value"].median()
    res = (
        ensemble_median(grid_ens.filter((F.col("var") == "tmmx") & (F.col("i") == 3) & (F.col("j") == 4)))
        .toPandas()
        .set_index("time")["value"]
    )
    assert len(res) == len(golden)
    for t, ev in golden.items():
        assert res.loc[t] == pytest.approx(ev, rel=1e-12)


def test_median_permutation_invariant(spark, grid_ens):
    """Property (§5): median unchanged under member relabeling."""
    sub = grid_ens.filter(F.col("var") == "pr").filter(F.col("i") < 3)
    permuted = sub.withColumn("ens", (F.col("ens") * 7 + 3) % 48)
    a = ensemble_median(sub).withColumnRenamed("value", "a")
    b = ensemble_median(permuted).withColumnRenamed("value", "b")
    joined = a.join(b, ["var", "time", "i", "j"])
    assert joined.filter(F.abs(F.col("a") - F.col("b")) > 1e-12).count() == 0


def test_ensemble_stats_consistency(spark, grid_ens):
    st = ensemble_stats(grid_ens.filter((F.col("var") == "sph") & (F.col("i") == 0))).toPandas()
    assert (st["n_members"] == 48).all()
    assert (st["ens_min"] <= st["ens_median"]).all()
    assert (st["ens_median"] <= st["ens_max"]).all()


def test_concat_members_tags(spark, grid):
    base = grid.filter((F.col("var") == "pr") & (F.col("time") == F.lit("1980-01-01"))).drop("ens")
    out = concat_members([base, base, base])
    assert out.count() == 3 * base.count()
    assert sorted(r.ens for r in out.select("ens").distinct().collect()) == [0, 1, 2]


def _reference(grid_ens):
    """Spark's Percentile aggregate, the reference the kernel must equal."""
    return grid_ens.groupBy(*_CELL).agg(
        F.median("value").alias("r50"),
        F.percentile("value", F.lit(0.1)).alias("r10"),
        F.percentile("value", F.lit(0.9)).alias("r90"),
    )


def _mismatches(grid_ens):
    """Cells where any public function differs from the reference
    (eqNullSafe: NULL = NULL and NaN = NaN count as equal)."""
    got = (
        ensemble_median(grid_ens)
        .join(ensemble_stats(grid_ens), _CELL)
        .join(ensemble_quantiles(grid_ens), _CELL)
        .join(_reference(grid_ens), _CELL)
    )
    pairs = [("value", "r50"), ("ens_median", "r50"), ("q50", "r50"),
             ("q10", "r10"), ("q90", "r90")]
    same = F.lit(True)
    for a, b in pairs:
        same = same & F.col(a).eqNullSafe(F.col(b))
    return got.count(), got.filter(~same).toPandas()


# one cell per case: i = case index, members listed in ens order
_EDGE_CASES = {
    "odd": [3.0, 1.0, 2.0],
    "even": [4.0, 1.0, 3.0, 2.0],
    "one_member": [5.5],
    "null_members_skipped": [1.0, None, 3.0, None, 2.0],
    "all_null": [None, None, None],
    "nan_member": [1.0, float("nan"), 2.0, 3.0],
    "inf_both": [float("-inf"), 1.0, float("inf")],
    "inf_even": [float("-inf"), float("inf")],
    "inf_low": [float("-inf"), 0.5, 2.0, 7.0],
    "subnormal_odd_middle": [-1.0, 5e-324, 1.0],
    # 0.5*x + 0.5*x != x for these equal subnormal neighbours
    "subnormal_equal_pair": [-1.0, 1.5e-323, 1.5e-323, 1.0],
    # 12 members, p=0.1 -> pos 1.1 between equal neighbours: the weighted
    # sum 0.9*x + 0.1*x rounds away from x for this value
    "equal_neighbours_q10": [-50.0] + [-21.714841458764266] * 2 + [float(k) for k in range(9)],
}


@pytest.fixture(scope="module")
def edge_grid(spark):
    rows = [
        ("v", ens, date(2024, 4, 1), i, 0, 40.0, -105.0, value)
        for i, members in enumerate(_EDGE_CASES.values())
        for ens, value in enumerate(members)
    ]
    return spark.createDataFrame(
        rows,
        "var string, ens int, time date, i int, j int, lat double, lon double, value double",
    )


def test_kernel_matches_percentile_edge_cases(spark, edge_grid):
    """Every edge case equals F.median / F.percentile bit for bit."""
    n, bad = _mismatches(edge_grid)
    assert n == len(_EDGE_CASES)
    names = list(_EDGE_CASES)
    assert bad.empty, {names[r["i"]]: r for r in bad.to_dict("records")}


def test_kernel_edge_case_values(spark, edge_grid):
    """Spot values: NULL members skipped, all-NULL -> NULL, NaN ranks last,
    the subnormal middles survive exactly."""
    med = {r.i: r.value for r in ensemble_median(edge_grid).collect()}
    names = list(_EDGE_CASES)
    assert med[names.index("null_members_skipped")] == 2.0
    assert med[names.index("all_null")] is None
    assert med[names.index("nan_member")] == 2.5  # sorted [1, 2, 3, NaN]
    assert math.isnan(med[names.index("inf_even")])
    assert med[names.index("subnormal_odd_middle")] == 5e-324
    assert med[names.index("subnormal_equal_pair")] == 1.5e-323
    st = {r.i: r for r in ensemble_stats(edge_grid).collect()}
    assert st[names.index("all_null")].n_members == 0
    assert st[names.index("all_null")].ens_median is None


def test_kernel_matches_percentile_on_fixture(spark, grid_ens):
    """Fixture-wide: all three public functions equal the Percentile
    reference on every grid_ens cell."""
    n, bad = _mismatches(grid_ens)
    assert n == grid_ens.select(*_CELL).distinct().count()
    assert bad.empty, bad.head(5).to_dict("records")
