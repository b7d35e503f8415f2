"""Seeded inputs at reference geometry: HRU weights, features, elevation and
a closed-form value field that the landing fetcher and the numpy oracle
both evaluate.

Geometry (BASELINE.md): 2,462 HRUs on a 160x160 grid of 1/24-degree cells,
7-16 cells per HRU (mean ~11.4), each weighted cell shared by ~1.5 HRUs,
per-HRU weight sums in [0.82, 1.0]. A fixed coastal strip of NULL cells
runs through the HRU domain, so a known set of HRUs is poisoned under the
strict mean. Everything except the strip depends on the seed.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

import numpy as np
import pandas as pd

NI = NJ = 160
RES = 0.04167  # one gridMET cell, degrees (bbox.CELL_BUFFER_DEG)
LAT0, LON0 = 49.4, -124.8  # north-west corner; row 0 is the north edge
N_HRU = 2462
MARGIN = 8  # grid rows/cols outside the HRU domain, pruned by the bbox
N_ENS = 48
START = date(1980, 1, 1)

# the grid's catalog record, as sources.ingest and operators.bbox read it
CATALOG_REC = {
    "X1": LON0, "Y1": LAT0, "resX": RES, "resY": RES, "ncols": NJ, "nrows": NI,
    "toptobottom": False, "crs": "+proj=longlat +datum=WGS84 +no_defs",
}

GRIDMET_SOURCE_VARS = ("tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
CFSV2_SOURCE_VARS = ("tmmx", "tmmn", "pr", "sph")

# var -> (base, amplitude, ensemble spread); pr, vs and sph are kept >= 0
_VAR_PARAMS = {
    "tmmx": (292.0, 12.0, 2.5),
    "tmmn": (276.0, 10.0, 2.0),
    "pr": (0.0, 9.0, 1.5),
    "rmax": (75.0, 20.0, 4.0),
    "rmin": (35.0, 18.0, 4.0),
    "vs": (0.0, 6.0, 0.8),
    "sph": (0.0, 0.012, 0.0015),
}
_NONNEG = {"pr", "vs", "sph"}


def cell_lat(i):
    return LAT0 - np.asarray(i, dtype="f8") * RES


def cell_lon(j):
    return LON0 + np.asarray(j, dtype="f8") * RES


def coast_mask() -> np.ndarray:
    """(NI, NJ) bool: the fixed coastal strip of NULL cells, two cells
    wide, meandering down the eastern part of the HRU domain."""
    mask = np.zeros((NI, NJ), dtype=bool)
    for i in range(MARGIN, NI - MARGIN):
        c = NJ - MARGIN - 14 + int(round(3 * np.sin(i / 7.0)))
        mask[i, c : c + 2] = True
    return mask


def var_phases(seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 1])
    return {v: float(rng.uniform(0, 2 * np.pi)) for v in _VAR_PARAMS}


def field(var: str, phase: float, day, i, j, ens=-1) -> np.ndarray:
    """Closed-form value field in (var, ens, day, i, j), float64, NaN where
    missing: the coastal strip, and one member on a sparse set of cells.
    ``day`` is the offset from START; arguments broadcast. Non-ensemble
    grids pass ens=-1."""
    base, amp, spread = _VAR_PARAMS[var]
    day = np.asarray(day, dtype="f8")
    i = np.asarray(i, dtype="i8")
    j = np.asarray(j, dtype="i8")
    ens = np.asarray(ens, dtype="i8")
    s = np.sin(0.11 * i + phase) * np.cos(0.07 * j + 0.5 * phase)
    s = 0.75 * s + 0.25 * np.sin(2 * np.pi * day / 365.0 + phase)
    v = base + amp * ((1.0 + s) / 2.0 if var in _NONNEG else s)
    # skewed across members, so the ensemble median differs from the mean
    rank = (ens * 29 + i * 7 + j * 3 + day.astype("i8")) % N_ENS / (N_ENS - 1.0)
    v = v + np.where(ens >= 0, spread * (rank**2 - 1.0 / 3.0), 0.0)
    if var in _NONNEG:
        v = np.abs(v)
    # the last member is missing on a sparse set of cells: the median skips
    # it, the strict mean is not poisoned by it
    v = np.where((ens == N_ENS - 1) & ((i + 2 * j) % 31 == 0), np.nan, v)
    return np.where(coast_mask()[i, j], np.nan, v)


@dataclass(frozen=True)
class Domain:
    """The seeded HRU side: weights rows, features and elevation."""

    fid: np.ndarray  # weights rows: feature id
    wi: np.ndarray  # weights rows: cell row
    wj: np.ndarray  # weights rows: cell col
    w: np.ndarray  # weights rows: area weight
    feat_id: np.ndarray  # features: ids 1..N_HRU
    feat_lat: np.ndarray
    feat_lon: np.ndarray
    elev: np.ndarray  # per feature, metres

    def weights_pdf(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "feature_id": self.fid.astype("int64"),
                "i": self.wi.astype("int32"),
                "j": self.wj.astype("int32"),
                "wght": self.w,
            }
        )

    def features_pdf(self) -> pd.DataFrame:
        return pd.DataFrame(
            {"feature_id": self.feat_id, "lat": self.feat_lat, "lon": self.feat_lon}
        )

    def elevation_pdf(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "feature_idx": np.arange(N_HRU, dtype="int64"),
                "feature_id": self.feat_id,
                "hru_elev": self.elev,
            }
        )


def make_domain(seed: int) -> Domain:
    """2,462 HRUs on a jittered 50x50 lattice over the grid's interior.
    Each takes its 7-16 nearest cells (random tie-break) with random
    positive weights scaled to a per-HRU sum: 1.0 for most HRUs, drawn
    from [0.82, 1.0) for 15% (partial coverage)."""
    rng = np.random.default_rng([seed, 2])
    side = 50
    span = NI - 2 * MARGIN - 4
    slots = np.sort(rng.choice(side * side, N_HRU, replace=False))
    r, c = np.divmod(slots, side)
    sp = span / side
    ci = np.rint(MARGIN + 2 + (r + rng.uniform(0.2, 0.8, N_HRU)) * sp).astype("i8")
    cj = np.rint(MARGIN + 2 + (c + rng.uniform(0.2, 0.8, N_HRU)) * sp).astype("i8")
    off = np.array([(a, b) for a in range(-3, 4) for b in range(-3, 4)], dtype="i8")
    dist = np.hypot(off[:, 0], off[:, 1])
    n_cells = np.clip(np.rint(rng.normal(11.4, 2.4, N_HRU)), 7, 16).astype("i8")
    targets = np.where(rng.random(N_HRU) < 0.15, rng.uniform(0.82, 1.0, N_HRU), 1.0)
    fids, wis, wjs, ws, lats, lons = [], [], [], [], [], []
    for k in range(N_HRU):
        order = np.argsort(dist + rng.uniform(0, 0.5, len(off)))[: n_cells[k]]
        ii, jj = ci[k] + off[order, 0], cj[k] + off[order, 1]
        raw = rng.uniform(0.3, 1.0, n_cells[k])
        w = raw / raw.sum() * targets[k]
        fids.append(np.full(n_cells[k], k + 1))
        wis.append(ii)
        wjs.append(jj)
        ws.append(w)
        lats.append(float(cell_lat(ii).mean()))
        lons.append(float(cell_lon(jj).mean()))
    feat_id = np.arange(1, N_HRU + 1, dtype="int64")
    elev = 1500 + 1400 * np.sin(ci / 23.0 + rng.uniform(0, 6)) * np.cos(cj / 31.0)
    return Domain(
        fid=np.concatenate(fids),
        wi=np.concatenate(wis),
        wj=np.concatenate(wjs),
        w=np.concatenate(ws),
        feat_id=feat_id,
        feat_lat=np.asarray(lats),
        feat_lon=np.asarray(lons),
        elev=np.round(elev, 1),
    )


def make_fetcher(seed: int, ensemble: bool):
    """Slice fetcher for ``sources.ingest``: evaluates the field over the
    task's (time window, cell tile), all 48 members when ``ensemble``.
    Emits GRID_SCHEMA rows in (time, [ens,] i, j) order, missing as NULL."""
    phases = var_phases(seed)
    start = START

    def fetch(task: dict) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        d0 = (task["t0"] - start).days
        d1 = (task["t1"] - start).days
        days = np.arange(d0, d1 + 1)
        ens = np.arange(N_ENS) if ensemble else np.array([-1])
        ii = np.arange(task["i0"], task["i1"] + 1)
        jj = np.arange(task["j0"], task["j1"] + 1)
        D, E, I, J = np.meshgrid(days, ens, ii, jj, indexing="ij")
        D, E, I, J = D.ravel(), E.ravel(), I.ravel(), J.ravel()
        value = field(task["var"], phases[task["var"]], D, I, J, E)
        return pd.DataFrame(
            {
                "var": task["var"],
                "ens": E.astype("int32"),
                "time": pd.to_datetime(D, unit="D", origin=pd.Timestamp(start)),
                "i": I.astype("int32"),
                "j": J.astype("int32"),
                "lat": cell_lat(I),
                "lon": cell_lon(J),
                "value": pd.array(value, dtype="Float64"),
            }
        )

    return fetch
