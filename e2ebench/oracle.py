"""Numpy oracle for the benchmark's jobs, and the checks that compare a
job's written outputs against it.

The oracle evaluates the same closed-form field as the landing fetcher and
re-derives every step of the pipelines from their documented semantics:
centroid bbox with a one-cell buffer, strict area-weighted mean (any
missing cell poisons the HRU-day), ensemble median before the mean
(CFSv2 method 1), K to degC, gridMET mean humidity and CFSv2 relative
humidity (transcribed from ``functions/physics.py``). Checks return a list
of mismatch messages; an empty list is a pass.
"""

from __future__ import annotations

import json
import warnings

import numpy as np
import pyarrow.parquet as pq

from . import gen

BUFFER_DEG = 0.04167  # operators/bbox.py CELL_BUFFER_DEG
FILL_VALUE = 9.96920996838687e36  # NetCDF edge fill (schemas.NETCDF_FILL_VALUE)
RTOL = ATOL = 1e-9  # Spark sums in another order than numpy


def bbox_keep(dom: gen.Domain) -> np.ndarray:
    """Weight rows whose cell survives the buffered centroid bbox."""
    minx, maxx = float(dom.feat_lon.min()), float(dom.feat_lon.max())
    miny, maxy = float(dom.feat_lat.min()), float(dom.feat_lat.max())
    lon, lat = gen.cell_lon(dom.wj), gen.cell_lat(dom.wi)
    return (
        (lon >= minx - BUFFER_DEG)
        & (lon <= maxx + BUFFER_DEG)
        & (lat >= miny - BUFFER_DEG)
        & (lat <= maxy + BUFFER_DEG)
    )


class Expected:
    """Expected output of one job: value arrays of shape (n_days, n_fid)
    per output column, NaN where the output is NULL, for the HRUs ``fids``
    that keep at least one cell."""

    def __init__(self, fids, n_days, columns):
        self.fids = fids
        self.n_days = n_days
        self.columns = columns

    @property
    def rows(self) -> int:
        return self.n_days * len(self.fids)

    @property
    def null_groups(self) -> int:
        return int(np.isnan(np.stack(list(self.columns.values()))).any(axis=0).sum())


def _weighted_mean(values: np.ndarray, dom: gen.Domain, keep: np.ndarray):
    """Strict weighted mean per HRU over the kept weight rows. ``values``
    has shape (..., n_kept_rows); NaN poisons the HRU."""
    fidx = dom.fid[keep] - 1
    w = dom.w[keep]
    present = np.bincount(fidx, minlength=gen.N_HRU) > 0
    den = np.bincount(fidx, weights=w, minlength=gen.N_HRU)
    flat = values.reshape(-1, values.shape[-1])
    out = np.stack(
        [np.bincount(fidx, weights=w * row, minlength=gen.N_HRU) for row in flat]
    )
    out = (out / den)[:, present]
    return out.reshape(*values.shape[:-1], int(present.sum())), dom.feat_id[present]


def relative_humidity(tmax_k, tmin_k, sph, elev):
    """functions/physics.py relative_humidity, term for term."""
    t_avg = (tmax_k + tmin_k) / 2.0
    p = 1013.25 * np.exp(-9.80665 * elev / (287.05 * t_avg))
    e = sph * p / 0.622
    tc = t_avg - 273.15
    return e / (6.1094 * np.exp(17.625 * tc / (tc + 243.04))) * 100.0


def expected_gridmet(dom: gen.Domain, seed: int, n_days: int) -> Expected:
    keep = bbox_keep(dom)
    phases = gen.var_phases(seed)
    days = np.arange(n_days)[:, None]
    wi, wj = dom.wi[keep], dom.wj[keep]
    agg = {}
    for var in gen.GRIDMET_SOURCE_VARS:
        vals = gen.field(var, phases[var], days, wi, wj)
        agg[var], fids = _weighted_mean(vals, dom, keep)
    cols = {
        "tmax": agg["tmmx"] - 273.15,
        "tmin": agg["tmmn"] - 273.15,
        "prcp": agg["pr"],
        "rhmax": agg["rmax"],
        "rhmin": agg["rmin"],
        "ws": agg["vs"],
        "humidity": (agg["rmin"] + agg["rmax"]) / 2.0,
    }
    return Expected(fids, n_days, cols)


def expected_cfsv2_median(dom: gen.Domain, seed: int, n_days: int) -> Expected:
    keep = bbox_keep(dom)
    phases = gen.var_phases(seed)
    ens = np.arange(gen.N_ENS)
    days = np.arange(n_days)
    wi, wj = dom.wi[keep], dom.wj[keep]
    agg = {}
    for var in gen.CFSV2_SOURCE_VARS:
        vals = gen.field(
            var, phases[var], days[None, :, None], wi, wj, ens[:, None, None]
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN cells
            vals = np.nanmedian(vals, axis=0)
        agg[var], fids = _weighted_mean(vals, dom, keep)
    elev = dom.elev[fids - 1]
    cols = {
        "tmax": agg["tmmx"] - 273.15,
        "tmin": agg["tmmn"] - 273.15,
        "prcp": agg["pr"],
        "humidity": relative_humidity(agg["tmmx"], agg["tmmn"], agg["sph"], elev),
    }
    return Expected(fids, n_days, cols)


def _compare(name: str, got: np.ndarray, exp: np.ndarray) -> list[str]:
    gn, en = np.isnan(got), np.isnan(exp)
    if (gn != en).any():
        return [f"{name}: NULL pattern differs at {int((gn != en).sum())} cells"]
    if not np.allclose(got[~gn], exp[~en], rtol=RTOL, atol=ATOL):
        diff = float(np.max(np.abs(got[~gn] - exp[~en])))
        return [f"{name}: values differ (max abs diff {diff:.3g})"]
    return []


def _day_offsets(column) -> np.ndarray:
    epoch = (np.datetime64(gen.START, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    return np.asarray(column.cast("int32").to_numpy(), dtype="i8") - int(epoch)


def check_parquet(path: str, exp: Expected) -> list[str]:
    """Row count, keys, values and NULLs of a written output dataset."""
    tbl = pq.read_table(path)
    if tbl.num_rows != exp.rows:
        return [f"rows {tbl.num_rows} != expected {exp.rows}"]
    fid = tbl.column("feature_id").to_numpy()
    f = np.minimum(np.searchsorted(exp.fids, fid), len(exp.fids) - 1)
    if (exp.fids[f] != fid).any():
        return ["unexpected feature ids in output"]
    d = _day_offsets(tbl.column("time"))
    if d.min() < 0 or d.max() >= exp.n_days:
        return ["time outside the landed days"]
    shape = (exp.n_days, len(exp.fids))
    seen = np.zeros(shape, dtype=bool)
    seen[d, f] = True
    if not seen.all():
        return ["duplicate or missing (feature, time) rows"]
    errs = []
    for name, want in exp.columns.items():
        got = np.full(shape, np.nan)
        got[d, f] = tbl.column(name).to_numpy(zero_copy_only=False)
        errs += _compare(name, np.asarray(got, dtype="f8"), want)
    return errs


def check_sidecar(path: str, columns: list[str], calendar: str) -> list[str]:
    """CF attribute sidecar written next to the dataset."""
    with open(path) as fh:
        side = json.load(fh)
    errs = []
    if sorted(side.get("variables", {})) != sorted(columns):
        errs.append(f"sidecar variables {sorted(side.get('variables', {}))}")
    if side["variables"].get("time", {}).get("calendar") != calendar:
        errs.append("sidecar time calendar")
    if side.get("Conventions") != "CF-1.8":
        errs.append("sidecar Conventions")
    return errs


def check_netcdf(path: str, exp: Expected) -> list[str]:
    """NetCDF readback: dims, HRU axis and every variable, NULL as fill."""
    from gridmet_etl_spark.sources.nc_micro import read_netcdf3

    dims, _, variables = read_netcdf3(path)
    if dims != {"time": exp.n_days, "nhru": len(exp.fids)}:
        return [f"netcdf dims {dims}"]
    errs = []
    if not np.array_equal(variables["nhru"][2], exp.fids):
        errs.append("netcdf nhru axis")
    for name, want in exp.columns.items():
        _, attrs, arr = variables[name]
        got = np.where(arr == FILL_VALUE, np.nan, arr)
        errs += _compare(f"netcdf {name}", got, want)
        if attrs.get("_FillValue") != FILL_VALUE:
            errs.append(f"netcdf {name} _FillValue")
    return errs

