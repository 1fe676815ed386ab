"""Entry point 1 — forecast derivation (reference ``main.py:30-250``;
SURVEY §3 lifecycle 1).

One declarative Catalyst plan replaces the reference's staged
load/compute/drop choreography: scan (pruned/pushed) → native-Column
kernel chain → prefer-new merge with the previous snapshot. The
reference's per-variable ``load()`` + ``drop_vars`` memory management
(``main.py:110-205``) has no analog — lazy evaluation, dead-column
elimination and spill do it (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from w4h_etl_container_spark import kernels as K
from w4h_etl_container_spark.functions.exprbackend import SparkBackend
from w4h_etl_container_spark.operators.merge import combine_first, retention_clip

SOURCE_VARS = [
    "tmp2m", "ugrd10m", "vgrd10m", "dpt2m",
    "dswrfsfc", "dlwrfsfc", "uswrfsfc", "ulwrfsfc",
]  # the reference's 8 selected GFS variables (main.py:83-92)


def select_run_window(df: DataFrame, bbox: tuple[float, float, float, float] | None = None) -> DataFrame:
    """PRJ-1..3: project the 8 source variables, optional lat/lon bounding
    box (the reference's LIMITS env, ``main.py:25,98-100``). All predicates
    reach the parquet scan."""
    out = df.select("lat", "lon", "ts", *SOURCE_VARS)
    if bbox is not None:
        s, n, w, e = bbox
        out = out.where(F.col("lat").between(s, n) & F.col("lon").between(w, e))
    return out


def derive_thermal_indices(df: DataFrame) -> DataFrame:
    """The kernel chain (UDF-1..5 + SF-1..3) as one Column pipeline:
    cossza → erbs(dni) → MRT → wind → UTCI, WBGT. Everything whole-stage
    codegen; Catalyst CSEs shared radiation subexpressions (the
    reference computed and dropped them by hand, ``main.py:151-172``)."""
    from w4h_etl_container_spark.functions.exprbackend import apply_lets

    B = SparkBackend()
    doy = F.dayofyear("ts").cast("double")
    cossza = B.let(
        "cossza",
        K.cos_solar_zenith_angle(
            B, F.col("lat"), F.col("lon"), doy, F.hour("ts").cast("double") - F.lit(0.5)
        ),
    )
    erbs = K.erbs(B, F.coalesce(F.col("dswrfsfc"), F.lit(0.0)), cossza, doy)
    dni = B.let("dni", erbs["dni"])
    mrt = B.let(
        "mrt_k",
        K.mean_radiant_temperature_k(
            B,
            F.col("dswrfsfc"),
            F.col("uswrfsfc"),
            F.col("dlwrfsfc"),
            F.col("ulwrfsfc"),
            dni,
            cossza,
        ),
    )
    # correct wind magnitude — reference's hypot(u, u) bug documented at SF-2
    wind = B.let("wind", K.wind_speed(B, F.col("ugrd10m"), F.col("vgrd10m")))
    utci = K.utci_c(B, F.col("tmp2m"), wind, mrt, F.col("dpt2m"))
    wbgt = K.wbgt_c(B, F.col("tmp2m"), mrt, wind, F.col("dpt2m"))
    return apply_lets(df, B).select(
        "lat", "lon", "ts", utci.alias("utci"), wbgt.alias("wbgt")
    )


def merge_with_previous(new: DataFrame, prev: DataFrame, earliest_necessary: str) -> DataFrame:
    """FLT-3 + JOIN-2 (reference ``main.py:219-250``): clip the previous
    snapshot to the retention window, then prefer-new merge on the grid
    key. The new run's null cells (source gaps) fall back to the old
    snapshot — xarray ``combine_first`` semantics, per value column."""
    prev_clipped = retention_clip(prev, "ts", earliest_necessary)
    return combine_first(new, prev_clipped, keys=["lat", "lon", "ts"], value_cols=["utci", "wbgt"])


def run_forecast(
    spark: SparkSession,
    grid_dir: str,
    earliest_necessary: str = "2026-07-31T19:00:00",
) -> DataFrame:
    """The full entry-point-1 plan over the Family-2 fixtures."""
    run = spark.read.parquet(f"{grid_dir}/gfs_run.parquet")
    prev = spark.read.parquet(f"{grid_dir}/gfs_run_prev.parquet")
    new = derive_thermal_indices(select_run_window(run))
    return merge_with_previous(new, prev, earliest_necessary)


def write_snapshot(df: DataFrame, path: str) -> None:
    """SNK-2 (reference ``to_netcdf`` + GCS upload, ``main.py:331-336``):
    the snapshot is a parquet table partitioned by run date — at 100 TB
    the partitioning is what makes the next cycle's FLT-3 clip free.

    It is also the job's one materialization of the forecast: ``run_job``
    writes it first, so the kernel chain executes once, in this write,
    and serve and charts read the snapshot back (without ``snap_date``)
    and plan over a columnar scan instead of the kernel tree."""
    df.withColumn("snap_date", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "snap_date"
    ).parquet(path)
