"""Entry point 3 — charting (reference ``main.py:341-443``; SURVEY §3
lifecycle 3): cyclic-point seam → HAA key-shift → completeness gates →
daily high/low grids → driver-side render.

Everything up to the render is one distributed plan; only the final
per-date aggregated grid (≈1 row per cell per date) crosses to the
driver — the single intentional driver-side step (SURVEY §2.1 SNK-3).
matplotlib isn't in this container, so the render step degrades to a
deterministic .npz artifact behind an import-try; the figure-reuse
optimization of the reference (``main.py:421-423``) belongs to that
driver-side renderer, not the engine.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from w4h_etl_container_spark.operators.shift import hour_angle_shift


def cyclic_point_union(df: DataFrame, lon_col: str = "lon") -> DataFrame:
    """SET-2 (reference ``main.py:345-350``): every lon 0 row is emitted
    twice, as itself and relabeled lon=360, so contour charts wrap.

    The seam is a generator (``explode`` of ``[lon, 360]`` on lon 0 rows,
    ``[lon]`` elsewhere), not a Union with a filtered copy: a Union puts
    two branches over the input, and Catalyst pushes every later
    semi-join and aggregate into both, which doubles the scans and
    shuffles of the chart plan. The generator keeps one branch and the
    same rows."""
    lon = F.col(lon_col)
    seam = F.when(lon == 0.0, F.array(lon, F.lit(360.0))).otherwise(F.array(lon))
    return df.withColumn(lon_col, F.explode(seam))


def daily_extremes(df: DataFrame, value_col: str = "utci", min_hours: int = 24) -> DataFrame:
    """WIN-1 → FLT-2 → AGG-4 → AGG-1 (reference ``main.py:361-408``):
    local-solar-time relabeling, drop any timestep with a null anywhere,
    keep dates with ≥ ``min_hours`` distinct hours, then per-cell daily
    max/min.

    Both gates come from ONE aggregate per ``haa_ts``: its null flag is
    FLT-2 (``operators.gates.drop_incomplete_timesteps``), and since a
    row's hour and date are functions of its ``haa_ts`` alone, the
    distinct hours of a date's clean rows are the distinct hours of its
    clean timesteps, so AGG-4 (``operators.gates.qualifying_periods``)
    is a window over that small table. The surviving timesteps are
    broadcast as one semi-join, so the plan reads its input twice: once
    for the gate aggregate, once for the daily extremes."""
    shifted = hour_angle_shift(df)
    timesteps = (
        shifted.groupBy("haa_ts")
        .agg(F.max(F.col(value_col).isNull().cast("int")).alias("has_null"))
        .where(F.col("has_null") == 0)
    )
    n_hours = F.size(
        F.collect_set(F.date_trunc("HOUR", F.col("haa_ts"))).over(
            Window.partitionBy(F.to_date("haa_ts"))
        )
    )
    good = timesteps.select("haa_ts", n_hours.alias("n_hours")).where(
        F.col("n_hours") >= min_hours
    )
    gated = shifted.join(F.broadcast(good), "haa_ts", "left_semi")
    return gated.groupBy("lat", "lon", F.to_date("haa_ts").alias("haa_date")).agg(
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
    )


# The reference's fixed UTCI contour scale (``main.py:369-382``): 10 heat
# colors over 9 level boundaries [°C] — every chart uses the same scale so
# dates are visually comparable (not per-chart autoscaling).
UTCI_COLORS = [
    "#004adb", "#306cde", "#468de0", "#5aadde", "#75cdd6",
    "#b3e8b6", "#ffde98", "#fcad6e", "#f27946", "#e43a20",
]
UTCI_LEVELS = [-40.0, -27.0, -13.0, 0.0, 9.0, 26.0, 32.0, 38.0, 46.0]


def level_bins(values: np.ndarray) -> np.ndarray:
    """Color-band index (0..len(UTCI_COLORS)-1) per value under the fixed
    scale — the render's level assignment, testable without matplotlib."""
    return np.digitize(values, UTCI_LEVELS)


def coastline_segments(
    mask: np.ndarray, lats: np.ndarray, lons: np.ndarray
) -> np.ndarray:
    """Land/sea boundary polyline segments from a 0/1 mask grid — the
    cartopy-free replacement for the reference's coastline feature
    (``main.py:384-391``): the engine already ingests the reference's
    near-land mask natively (sources/hdf5.py), and the mask's own
    land/sea transitions ARE the coastline at grid resolution.

    Returns an (n, 4) array of (x0, y0, x1, y1) segments placed on the
    midlines between adjacent cells whose mask values differ. Pure
    vectorized numpy (no per-cell Python loop), testable without
    matplotlib.

    Preconditions (asserted): ``lats``/``lons`` are monotonic axis
    vectors matching ``mask``'s row/column order — segment midlines are
    computed from NEIGHBOR coordinates, so shuffled axes would draw
    segments at wrong positions silently. Edge behavior (documented, by
    design): at grid borders (i=0 or max) the clamped neighbor is the
    edge cell itself, so border segments span half a cell — harmless
    for interior coastlines; callers needing full-length border
    segments should pad the axes by one cell."""
    mask = np.asarray(mask)
    lats = np.asarray(lats, dtype=float)
    lons = np.asarray(lons, dtype=float)
    if mask.shape != (len(lats), len(lons)):
        raise ValueError(
            f"mask shape {mask.shape} != (len(lats), len(lons)) = "
            f"({len(lats)}, {len(lons)})"
        )
    for name, ax in (("lats", lats), ("lons", lons)):
        d = np.diff(ax)
        if len(d) and not ((d > 0).all() or (d < 0).all()):
            raise ValueError(f"{name} must be strictly monotonic")
    segs = []
    # vertical boundary between horizontally-adjacent cells (i, j)/(i, j+1):
    # a segment along the lon midline spanning the cell's lat extent
    dj = np.argwhere(mask[:, 1:] != mask[:, :-1])
    if dj.size:
        i, j = dj[:, 0], dj[:, 1]
        x = (lons[j] + lons[j + 1]) / 2.0
        y0 = lats[np.maximum(i - 1, 0)] / 2.0 + lats[i] / 2.0
        y1 = lats[np.minimum(i + 1, len(lats) - 1)] / 2.0 + lats[i] / 2.0
        segs.append(np.column_stack([x, y0, x, y1]))
    # horizontal boundary between vertically-adjacent cells (i, j)/(i+1, j)
    di = np.argwhere(mask[1:, :] != mask[:-1, :])
    if di.size:
        i, j = di[:, 0], di[:, 1]
        y = (lats[i] + lats[i + 1]) / 2.0
        x0 = lons[np.maximum(j - 1, 0)] / 2.0 + lons[j] / 2.0
        x1 = lons[np.minimum(j + 1, len(lons) - 1)] / 2.0 + lons[j] / 2.0
        segs.append(np.column_stack([x0, y, x1, y]))
    if not segs:
        return np.empty((0, 4))
    return np.concatenate(segs, axis=0)


def render_charts(
    daily: DataFrame,
    out_dir: str,
    coast: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> list[str]:
    """SNK-3: collect the per-date grids (the one deliberate driver-side
    hop) and render with the reference's fixed 10-color/9-level scale.

    With matplotlib present → contour PNGs (2 per date, highs and lows)
    on ONE reused figure: contour collections are removed after each save
    instead of rebuilding figure + axes per chart (the reference's
    explicit speedup, ``main.py:421-423``). Without matplotlib →
    deterministic .npz grids carrying the same fixed-scale band
    assignment so the artifact chain stays testable.

    ``coast`` is an optional (mask_2d, lats, lons) triple — typically
    the reference's near-land mask pivoted to a grid — rendered as the
    coastline layer the reference gets from cartopy (``main.py:
    384-391``): drawn ONCE per figure (it survives the per-chart
    contour removal) with matplotlib, embedded as ``coast_segments``
    in every .npz artifact otherwise."""
    os.makedirs(out_dir, exist_ok=True)
    coast_segs = (
        coastline_segments(coast[0], coast[1], coast[2]) if coast is not None else None
    )
    pdf = daily.toPandas().sort_values(["haa_date", "lat", "lon"])
    artifacts: list[str] = []
    try:
        import matplotlib  # noqa: F401

        have_mpl = True
    except ImportError:
        have_mpl = False

    fig = None
    if have_mpl:
        import matplotlib.pyplot as plt

        fig = plt.figure(figsize=(20, 20), dpi=100)
        ax = fig.add_subplot(1, 1, 1)
        ax.set_frame_on(False)
        if coast_segs is not None and len(coast_segs):
            from matplotlib.collections import LineCollection

            # drawn once, reused across every saved chart (not removed
            # with the per-date contour collections)
            ax.add_collection(
                LineCollection(
                    coast_segs.reshape(-1, 2, 2), colors="black", linewidths=0.5
                )
            )

    for d, grp in pdf.groupby("haa_date"):
        if have_mpl:
            for kind in ("high", "low"):
                piv = grp.pivot_table(index="lat", columns="lon", values=kind)
                cs = ax.contourf(
                    piv.columns, piv.index, piv.values, levels=UTCI_LEVELS, colors=UTCI_COLORS,
                    extend="both",
                )
                path = os.path.join(out_dir, f"{d}_{kind}.png")
                fig.savefig(path, pad_inches=0, bbox_inches="tight")
                # figure reuse: drop only the plotted contours (reference
                # main.py:421-423) — no per-chart figure/axes rebuild
                cs.remove()
                artifacts.append(path)
        else:
            path = os.path.join(out_dir, f"{d}.npz")
            np.savez_compressed(
                path,
                lat=grp["lat"].to_numpy(),
                lon=grp["lon"].to_numpy(),
                high=grp["high"].to_numpy(),
                low=grp["low"].to_numpy(),
                high_band=level_bins(grp["high"].to_numpy()),
                low_band=level_bins(grp["low"].to_numpy()),
                levels=np.array(UTCI_LEVELS),
                coast_segments=(
                    coast_segs if coast_segs is not None else np.empty((0, 4))
                ),
            )
            artifacts.append(path)
    if fig is not None:
        import matplotlib.pyplot as plt

        plt.close(fig)
    return artifacts
