"""The full ETL job — the engine's rendering of the reference's ``main()``
control flow (``main.py:30-453``): lock → discover latest source → skip if
unchanged → forecast derive + merge, written as the snapshot → serving
upsert over the snapshot → commit source → charts over the snapshot →
chart-registry upkeep → unlock.

The source is committed only once both the upsert and the snapshot are
written, so a cycle that fails before then is retried by the next one
instead of being skipped as "source unchanged". Nothing is cached in
the session: serve and charts read the snapshot back, so a failed cycle
leaves no cached relation behind.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from w4h_etl_container_spark.pipeline import alerts
from w4h_etl_container_spark.pipeline import charts as charts_mod
from w4h_etl_container_spark.pipeline import forecast as forecast_mod
from w4h_etl_container_spark.pipeline import serve as serve_mod
from w4h_etl_container_spark.pipeline.state import StateStore


def discover_latest_source(spark: SparkSession, grid_dir: str) -> str:
    """SRC-1/AGG-3/SF-8 (reference scrape + regex + arg-max,
    ``main.py:41-62``): the run key is *parsed out of the href itself*
    (``gfs(\\d{8})`` date + trailing ``(\\d{2})z`` cycle — the reference's
    regexes at ``main.py:44,55``), then the latest run is
    ``max_by(url, key)``. (The HTTP directory scrape that produces the
    listing rows is an ingestion concern outside the engine.)"""
    listing = spark.read.parquet(f"{grid_dir}/source_listing.parquet")
    run_key = (
        F.regexp_extract("url", r"gfs(\d{8})", 1).cast("long") * 100
        + F.regexp_extract("url", r"_(\d{2})z$", 1).cast("long")
    )
    row = listing.agg(F.max_by("url", run_key).alias("url")).collect()[0]
    return row["url"]


def run_job(spark: SparkSession, grid_dir: str, work_dir: str) -> dict:
    """One job cycle. Returns a small result summary (what the reference
    logs through its stage Timer, ``utils.py:94-111``)."""
    state = StateStore(os.path.join(work_dir, "status.json"))
    alerts.configure_log(os.path.join(work_dir, "alerts.jsonl"))
    if not state.try_lock():  # STR-2 (main.py:33-35)
        return {"skipped": "locked"}
    try:
        source = discover_latest_source(spark, grid_dir)
        if source == state.latest_source():  # STR-1 (main.py:64-66)
            return {"skipped": "source unchanged", "source": source}

        # the kernel chain runs once, in the snapshot write
        snapshot = os.path.join(work_dir, "snapshot")
        forecast_mod.write_snapshot(forecast_mod.run_forecast(spark, grid_dir), snapshot)
        merged = spark.read.parquet(snapshot).drop("snap_date")

        n_docs = serve_mod.run_serve(spark, merged, grid_dir, os.path.join(work_dir, "serving"))
        state.commit_source(source)  # only after the upsert (main.py:326) and the snapshot

        daily = charts_mod.daily_extremes(
            charts_mod.cyclic_point_union(merged.select("lat", "lon", "ts", "utci"))
        )
        artifacts = charts_mod.render_charts(daily, os.path.join(work_dir, "charts"))
        dates = sorted({os.path.basename(a).split(".")[0].split("_")[0] for a in artifacts})
        for d in dates:
            state.register_chart(d, f"{d}_{source[-3:]}")
        if dates:
            state.expire_charts(min(dates))  # STR-4 (main.py:353-359)
        return {"source": source, "n_docs": n_docs, "charts": len(artifacts), "dates": dates}
    except Exception as e:
        # the reference SMS-alerts then raises (utils.py:15-30,
        # main.py:48-49); the engine fans out to registered sinks + the
        # durable alert log, then re-raises — the lock still releases.
        alerts.alert(f"etl job failed: {type(e).__name__}: {e}", context={"stage": "run_job"})
        raise
    finally:
        state.unlock()  # the reference's `finally` (main.py:447-448)
