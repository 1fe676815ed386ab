"""Seeded weather grids for the job workloads.

The field model is ``sources/gridgen.py``'s own: its table functions
read the grid axes from ``grid_coords()`` and the seed and run length
from the module constants ``SEED`` and ``N_HOURS``. ``grid()`` swaps
those three for the duration of a call, so every formula, seeded null
and mask rule is gridgen's, evaluated over another domain, resolution,
run length or seed. At the fixture's domain with seed 42 the tables are
gridgen's fixture tables exactly (pinned in ``tests/test_gridsynth.py``).
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from w4h_etl_container_spark.sources import gridgen


@dataclass(frozen=True)
class Domain:
    """A lat/lon grid: ``lat`` is (south, north); ``lon`` is a list of
    (west, east) ranges, both ends inclusive, in degrees east 0..360."""

    lat: tuple[float, float]
    lon: tuple[tuple[float, float], ...]
    res: float
    n_hours: int = gridgen.N_HOURS

    def axes(self) -> tuple[np.ndarray, np.ndarray]:
        step = self.res
        lat = np.arange(self.lat[0], self.lat[1] + step / 2, step)
        lon = np.concatenate([np.arange(w, e + step / 2, step) for w, e in self.lon])
        return lat, lon

    @property
    def cell_hours(self) -> int:
        lat, lon = self.axes()
        return len(lat) * len(lon) * self.n_hours


#: The golden fixture: lat −10..10, lon 0..20 ∪ 350..359.5, 0.5°, 49 h.
FIXTURE = Domain(lat=(-10.0, 10.0), lon=((0.0, 20.0), (350.0, 359.5)), res=0.5)

#: The whole globe at 2°: 91 × 180 cells × 49 h = 802,620 cell-hours.
GLOBAL_2DEG = Domain(lat=(-90.0, 90.0), lon=((0.0, 358.0),), res=2.0)


@contextlib.contextmanager
def grid(domain: Domain, seed: int):
    """Point gridgen's axes, run length and seed at ``domain``/``seed``."""
    lat, lon = domain.axes()
    ts = pd.date_range(gridgen.T0, periods=domain.n_hours, freq="1h")
    saved = gridgen.grid_coords, gridgen.SEED, gridgen.N_HOURS
    gridgen.grid_coords = lambda: (lat, lon, ts)
    gridgen.SEED, gridgen.N_HOURS = seed, domain.n_hours
    try:
        yield
    finally:
        gridgen.grid_coords, gridgen.SEED, gridgen.N_HOURS = saved


TABLES = ("gfs_run", "gfs_run_prev", "near_land", "status", "source_listing")


def tables(domain: Domain, seed: int) -> dict[str, pd.DataFrame]:
    """Every Family-2 table over ``domain``, seeded by ``seed``."""
    with grid(domain, seed):
        return {name: getattr(gridgen, name)() for name in TABLES}


def write(domain: Domain, seed: int, out_dir: str) -> dict[str, pd.DataFrame]:
    """Write the tables as ``<out_dir>/<name>.parquet`` (the layout
    ``run_job`` reads) and return them for the output checks."""
    os.makedirs(out_dir, exist_ok=True)
    out = tables(domain, seed)
    for name, df in out.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out
