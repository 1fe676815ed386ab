"""The job workloads: ``run_job`` cycles over a seeded grid.

``job_fixture`` uses the golden fixture's domain and resolution;
``job_global`` the whole globe at 2°. Both use gridgen's field model.
Every cycle gets a fresh work directory, so no cycle is skipped as
"source unchanged". Warm-up is one checked cycle on the measured grid,
which compiles the plans and kernels; ``job_global``, whose cycles fail,
warms up on a small grid instead.

The check decodes every served ``tempTimesEncoded`` and compares it with
a NumpyBackend rendering of derive + prefer-new merge, within the 0.1 °C
packing quantum, and requires ``n_docs`` and the chart dates to repeat
across cycles.
"""

from __future__ import annotations

import fnmatch
import glob
import json
import os
import shutil
import statistics

import numpy as np
import pandas as pd

import gridsynth
from w4h_etl_container_spark import kernels as K
from w4h_etl_container_spark.functions.exprbackend import NumpyBackend
from w4h_etl_container_spark.pipeline import job as job_mod

#: ``run_forecast``'s default retention cutoff for the previous snapshot.
EARLIEST = pd.Timestamp("2026-07-31T19:00:00")
#: Packing quantum of the serving encoding, °C.
QUANTUM = 0.1
#: ``job_global``'s warm-up grid: 3 × 5 cells at 2°, across the lon 0 seam.
WARM = gridsynth.Domain(lat=(-2.0, 2.0), lon=((0.0, 4.0), (356.0, 358.0)), res=2.0)


def expected_served(t: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """(id, offset, utci, wbgt) of every served cell-hour, sorted, from
    numpy renderings of the kernels and a pandas prefer-new merge."""
    B = NumpyBackend()
    run = t["gfs_run"]
    ts = pd.to_datetime(run["ts"])
    doy = ts.dt.dayofyear.to_numpy(dtype=np.float64)
    hour = ts.dt.hour.to_numpy(dtype=np.float64) - 0.5
    col = {c: run[c].to_numpy() for c in run.columns if c != "ts"}
    cossza = K.cos_solar_zenith_angle(B, col["lat"], col["lon"], doy, hour)
    dni = K.erbs(B, np.nan_to_num(col["dswrfsfc"], nan=0.0), cossza, doy)["dni"]
    mrt = K.mean_radiant_temperature_k(
        B, col["dswrfsfc"], col["uswrfsfc"], col["dlwrfsfc"], col["ulwrfsfc"], dni, cossza
    )
    wind = K.wind_speed(B, col["ugrd10m"], col["vgrd10m"])
    new = pd.DataFrame({
        "lat": col["lat"], "lon": col["lon"], "ts": run["ts"],
        "utci": K.utci_c(B, col["tmp2m"], wind, mrt, col["dpt2m"]),
        "wbgt": K.wbgt_c(B, col["tmp2m"], mrt, wind, col["dpt2m"]),
    })
    prev = t["gfs_run_prev"]
    prev = prev[prev["ts"] >= EARLIEST]
    m = new.merge(prev, on=["lat", "lon", "ts"], how="outer", suffixes=("_n", "_o"))
    for c in ("utci", "wbgt"):
        m[c] = m[f"{c}_n"].where(m[f"{c}_n"].notna(), m[f"{c}_o"])
    m = m[m["utci"].notna() & m["wbgt"].notna()]
    offset = (m["ts"] - m["ts"].min()) // pd.Timedelta(hours=1)
    near = t["near_land"]
    near = near[near["near_land"]][["lat", "lon"]]
    m = m.assign(offset=offset.astype("int64")).merge(near, on=["lat", "lon"])
    ids = [f"{a:.2f},{b:.2f}" for a, b in zip(m["lat"], m["lon"])]
    out = pd.DataFrame({"id": ids, "offset": m["offset"].to_numpy(),
                        "utci": m["utci"].to_numpy(), "wbgt": m["wbgt"].to_numpy()})
    return out.sort_values(["id", "offset"], ignore_index=True)


def read_served(serving_dir: str) -> tuple[int, pd.DataFrame]:
    """Documents in the serving sink, and their decoded cell-hours in
    stored order."""
    ids, encs = [], []
    for path in sorted(glob.glob(os.path.join(serving_dir, "part-*.jsonl"))):
        with open(path) as f:
            for line in f:
                d = json.loads(line)
                ids.append(d["_id"])
                encs.append(d["tempTimesEncoded"])
    enc = np.concatenate([np.asarray(e, dtype=np.float64) for e in encs]) if encs else np.empty(0)
    B = NumpyBackend()
    decoded = pd.DataFrame({
        "id": np.repeat(ids, [len(e) for e in encs]),
        "offset": K.decode_offset_hours(B, enc).astype("int64"),
        "utci": K.decode_utci(B, enc),
        "wbgt": K.decode_wbgt_c(B, enc),
    })
    return len(ids), decoded


def check_served(out: dict, serving_dir: str, expected: pd.DataFrame) -> list[str]:
    n_docs, got = read_served(serving_dir)
    problems = []
    if n_docs != out["n_docs"]:
        problems.append(f"n_docs {out['n_docs']} but {n_docs} documents in the sink")
    in_order = got.groupby("id", sort=False)["offset"].apply(lambda s: s.is_monotonic_increasing).all()
    if not in_order:
        problems.append("a document's hours are not in time order")
    got = got.sort_values(["id", "offset"], ignore_index=True)
    if len(got) != len(expected) or not (
        got["id"].equals(expected["id"]) and got["offset"].equals(expected["offset"])
    ):
        problems.append(f"served cell-hours {len(got)} differ from the {len(expected)} expected")
        return problems
    for c in ("utci", "wbgt"):
        err = np.abs(got[c].to_numpy() - expected[c].to_numpy())
        bad = int((err > QUANTUM + 1e-9).sum())
        if bad:
            problems.append(f"{bad} {c} values off by more than {QUANTUM} (max {err.max():.3f})")
    return problems


def dir_stats(path: str, pattern: str = "*") -> tuple[int, float]:
    """(file count, MB) under ``path`` of files matching ``pattern``."""
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if fnmatch.fnmatch(f, pattern):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / 1e6


class JobWorkload:
    def __init__(self, ctx, global_grid: bool):
        self.ctx = ctx
        self.domain = gridsynth.GLOBAL_2DEG if global_grid else gridsynth.FIXTURE
        self.global_grid = global_grid
        self.reference = None  # (n_docs, charts, dates) of the first good cycle

    def prepare(self) -> None:
        """Write the seeded grid and render the expected serving payload."""
        self.grid_dir = self.ctx.mkdtemp("grid-")
        self.expected = expected_served(gridsynth.write(self.domain, self.ctx.seed, self.grid_dir))

    def setup(self, rec) -> None:
        self.prepare()
        if self.global_grid:
            warm_dir = self.ctx.mkdtemp("warm-grid-")
            gridsynth.write(WARM, self.ctx.seed, warm_dir)
            self._cycle(rec, warm_dir, check=None)
        else:
            self.cycle(rec)

    def cycle(self, rec) -> None:
        self._cycle(rec, self.grid_dir, check=self.check)

    def _cycle(self, rec, grid_dir: str, check) -> None:
        work = self.ctx.mkdtemp("work-")
        try:
            ok, out, row = rec.op(
                "job.cycle",
                lambda: job_mod.run_job(self.ctx.spark, grid_dir, work),
                check=(lambda out: check(out, work)) if check else None,
            )
            if row is not None:
                row.update(self.layer_metrics(out, work))
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def check(self, out: dict, work: str) -> list[str]:
        if "skipped" in out:
            return [f"cycle skipped: {out['skipped']}"]
        problems = check_served(out, os.path.join(work, "serving"), self.expected)
        seen = (out["n_docs"], out["charts"], tuple(out["dates"]))
        if self.reference is None:
            self.reference = seen
        elif seen != self.reference:
            problems.append(f"(n_docs, charts, dates) {seen} differs from {self.reference}")
        return problems

    def layer_metrics(self, out: dict, work: str) -> dict[str, float]:
        tracer = self.ctx.tracer
        spans = tracer.op_spans(tracer.last_op)
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)

        def wall(name):
            return sum(s.wall for s in by_name.get(name, []))

        def subtree_jobs(name):
            roots = {s.id for s in by_name.get(name, [])}
            ids, jobs = set(roots), set()
            for s in spans:  # spans are in start order, parents first
                if s.id in ids or s.parent in ids:
                    ids.add(s.id)
                    jobs.update(s.jobs)
            return sorted(jobs)

        serve_jobs = subtree_jobs("serve")
        snap_files, snap_mb = dir_stats(os.path.join(work, "snapshot"), "*.parquet")
        _, serve_mb = dir_stats(os.path.join(work, "serving"), "*.jsonl")
        collected = 0
        for path in glob.glob(os.path.join(work, "charts", "*.npz")):
            with np.load(path) as z:
                collected += len(z["lat"])
        state = [s for s in spans if s.layer == "state"]
        return {
            "job.discover_s": wall("job.discover"),
            "forecast.build_s": wall("forecast.build"),
            "snapshot.write_s": wall("snapshot.write"),
            "snapshot.mb": snap_mb,
            "snapshot.files": snap_files,
            "serve.s": wall("serve"),
            "serve.jobs": len(serve_jobs),
            "serve.shuffle_write_mb": tracer.stage_totals(serve_jobs)["shuffle_write_mb"],
            "serve.docs": out["n_docs"],
            "serve.mb_written": serve_mb,
            "charts.extremes_build_s": wall("charts.extremes_build"),
            "charts.render_s": wall("charts.render"),
            "charts.collected_rows": collected,
            "state.ops": len(state),
            "state.s": sum(s.wall for s in state),
        }

    def report(self, rec) -> dict:
        cycles = rec.samples.get("cycle", [])
        if not cycles:
            return {}
        c = statistics.median(cycles)
        return {
            "job.cycle_s": (c, "s"),
            "job.cell_hours_per_s": (self.domain.cell_hours / c, "1/s"),
        }
