"""Operator unit tests — edge semantics of the reusable operators
(SURVEY §4 'needs custom work' list: JOIN-2 coalesce, FLT-2 global null
semantics, WIN-1 relabeling, state-store protocol)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from w4h_etl_container_spark.operators.gates import drop_incomplete_timesteps, qualifying_periods
from w4h_etl_container_spark.operators.merge import combine_first, retention_clip
from w4h_etl_container_spark.operators.shift import hour_angle_shift, utc_hour_angle
from w4h_etl_container_spark.pipeline.state import StateStore


def ts(h):
    return dt.datetime(2026, 8, 1, h)


class TestCombineFirst:
    def test_elementwise_prefer_new(self, spark):
        new = spark.createDataFrame(
            [(1, 10.0, None), (2, None, 20.0)], "k int, a double, b double"
        )
        old = spark.createDataFrame(
            [(1, 99.0, 98.0), (3, 97.0, 96.0)], "k int, a double, b double"
        )
        got = {r["k"]: (r["a"], r["b"]) for r in combine_first(new, old, ["k"]).collect()}
        # row in both: new value wins, but new's NULL falls back to old (xarray combine_first)
        assert got[1] == (10.0, 98.0)
        # new-only row: old can't fill
        assert got[2] == (None, 20.0)
        # old-only row: survives
        assert got[3] == (97.0, 96.0)

    def test_retention_clip(self, spark):
        df = spark.createDataFrame([(ts(1),), (ts(5),)], "t timestamp")
        assert retention_clip(df, "t", ts(3)).count() == 1


class TestGates:
    def test_global_null_semantics(self, spark):
        # FLT-2: ts(1) has a null in SOME cell → the WHOLE timestep drops
        df = spark.createDataFrame(
            [
                ("c1", ts(1), None),
                ("c2", ts(1), 5.0),
                ("c1", ts(2), 1.0),
                ("c2", ts(2), 2.0),
            ],
            "cell string, t timestamp, v double",
        )
        got = drop_incomplete_timesteps(df, "t", ["v"]).collect()
        assert {r["t"] for r in got} == {ts(2)}
        assert len(got) == 2  # both cells of the clean timestep survive

    def test_qualifying_periods(self, spark):
        rows = [(dt.date(2026, 8, 1), ts(h)) for h in range(24)] + [
            (dt.date(2026, 8, 2), dt.datetime(2026, 8, 2, h)) for h in range(10)
        ]
        df = spark.createDataFrame(rows, "d date, t timestamp")
        good = [r["d"] for r in qualifying_periods(df, F.col("d"), "t", 24).collect()]
        assert good == [dt.date(2026, 8, 1)]


class TestChartGates:
    """``daily_extremes`` computes FLT-2 and AGG-4 from one aggregate per
    ``haa_ts`` and emits the lon=360 seam with a generator; these pin
    that the result keeps the two-pass gates' semantics."""

    @staticmethod
    def _grid(spark, rows):
        # lons 0, 1, 2 all have hour angle 0, so haa_ts == ts
        return spark.createDataFrame(rows, "lat double, lon double, ts timestamp, utci double")

    @staticmethod
    def _daily(df, min_hours=24):
        from w4h_etl_container_spark.pipeline import charts as charts_mod

        out = charts_mod.daily_extremes(charts_mod.cyclic_point_union(df), min_hours=min_hours)
        return {(r["lon"], r["haa_date"]): (r["high"], r["low"]) for r in out.collect()}

    def test_null_cell_drops_timestep_for_every_cell(self, spark):
        rows = []
        for h in range(24):
            rows.append((10.0, 1.0, ts(h), None if h == 5 else 1.0))
            rows.append((10.0, 2.0, ts(h), 99.0 if h == 5 else 2.0))
        got = self._daily(self._grid(spark, rows), min_hours=23)
        # hour 5 is gone for lon 2 as well: its 99 never reaches the high
        assert got == {(1.0, dt.date(2026, 8, 1)): (1.0, 1.0), (2.0, dt.date(2026, 8, 1)): (2.0, 2.0)}

    def test_date_with_23_clean_hours_dropped(self, spark):
        rows = []
        for h in range(24):
            rows.append((10.0, 1.0, ts(h), float(h)))
            rows.append((10.0, 1.0, dt.datetime(2026, 8, 2, h), None if h == 7 else float(h)))
        got = self._daily(self._grid(spark, rows))
        assert got == {(1.0, dt.date(2026, 8, 1)): (23.0, 0.0)}

    def test_seam_row_carries_lon0_extremes(self, spark):
        rows = [(10.0, lon, ts(h), lon * 10 + h) for h in range(24) for lon in (0.0, 1.0)]
        got = self._daily(self._grid(spark, rows))
        d = dt.date(2026, 8, 1)
        assert got[(360.0, d)] == got[(0.0, d)] == (23.0, 0.0)
        assert got[(1.0, d)] == (33.0, 10.0)
        assert len(got) == 3

    def test_daily_plan_reads_input_twice(self, spark, tmp_path):
        """Over a parquet leaf, the gates and the extremes share one
        branch: the optimized plan has exactly 2 relation leaves."""
        from w4h_etl_container_spark.pipeline import charts as charts_mod

        path = str(tmp_path / "grid.parquet")
        self._grid(spark, [(10.0, 0.0, ts(0), 1.0)]).write.parquet(path)
        daily = charts_mod.daily_extremes(charts_mod.cyclic_point_union(spark.read.parquet(path)))
        leaves = daily._jdf.queryExecution().optimizedPlan().collectLeaves()
        names = [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]
        assert names == ["LogicalRelation", "LogicalRelation"]


class TestHourAngleShift:
    def test_wraparound(self, spark):
        df = spark.createDataFrame(
            [(0.0,), (7.4,), (7.6,), (180.0,), (350.0,), (359.9,)], "lon double"
        )
        got = {r["lon"]: r["ha"] for r in df.select("lon", utc_hour_angle(F.col("lon")).alias("ha")).collect()}
        assert got[0.0] == 0.0
        assert got[7.4] == 0.0
        assert got[7.6] == 1.0  # rounds to nearest hour angle
        assert got[180.0] == 12.0  # exactly 12 stays (reference maps >12 only)
        assert got[350.0] == -1.0  # 23 → −1
        assert got[359.9] == 0.0  # 24 → 0

    def test_relabel_only(self, spark):
        df = spark.createDataFrame([(350.0, ts(12), 1.0)], "lon double, ts timestamp, v double")
        r = hour_angle_shift(df).collect()[0]
        assert r["haa_ts"] == ts(11)  # −1 h relabel
        assert r["v"] == 1.0 and r["ts"] == ts(12)  # nothing else moved


class TestStateStore:
    def test_lock_protocol(self, tmp_path):
        s = StateStore(str(tmp_path / "st.json"))
        assert s.try_lock() is True
        assert s.try_lock() is False  # second run blocked (STR-2)
        s.unlock()
        assert s.try_lock() is True

    def test_source_and_chart_registry(self, tmp_path):
        s = StateStore(str(tmp_path / "st.json"))
        assert s.latest_source() is None
        s.commit_source("gfs20260801/06z")
        assert s.latest_source() == "gfs20260801/06z"
        s.register_chart("2026-07-20", "a")
        s.register_chart("2026-08-01", "b")
        expired = s.expire_charts("2026-08-01")
        assert expired == ["2026-07-20"]
        assert s.read()["globalCharts"] == {"2026-08-01": "b"}


class TestAlerts:
    def test_alert_fans_out_logs_and_never_masks(self, tmp_path):
        """The reference's text_alert contract (utils.py:15-30): a human
        finds out, the failure still raises, and a broken sink cannot
        mask it. Plus the durable JSONL audit trail."""
        import json

        from w4h_etl_container_spark.pipeline import alerts

        got: list[str] = []
        alerts.clear_sinks()
        alerts.configure_log(str(tmp_path / "alerts.jsonl"))
        alerts.register_sink(got.append)

        def broken(_msg: str) -> None:
            raise RuntimeError("pager down")

        alerts.register_sink(broken)

        @alerts.alert_on_failure("scrape")
        def boom():
            raise ValueError("no runs found")

        import pytest as _pytest

        with _pytest.raises(ValueError):
            boom()
        assert got == ["scrape failed: ValueError: no runs found"]
        lines = [json.loads(ln) for ln in open(tmp_path / "alerts.jsonl")]
        assert lines and lines[0]["stage"] == "scrape"
        alerts.clear_sinks()

    def test_job_failure_alerts_and_unlocks(self, spark, grid_dir, tmp_path, monkeypatch):
        """run_job: a mid-cycle failure alerts, re-raises, and releases
        the lock (the reference's finally-unlock semantics)."""
        import pytest as _pytest

        from w4h_etl_container_spark.pipeline import alerts, forecast as forecast_mod
        from w4h_etl_container_spark.pipeline.job import run_job
        from w4h_etl_container_spark.pipeline.state import StateStore

        got: list[str] = []
        alerts.clear_sinks()
        alerts.register_sink(got.append)
        monkeypatch.setattr(
            forecast_mod, "run_forecast", lambda *a, **k: (_ for _ in ()).throw(RuntimeError("load died"))
        )
        work = str(tmp_path / "work")
        with _pytest.raises(RuntimeError):
            run_job(spark, grid_dir, work)
        assert got and "load died" in got[0]
        assert StateStore(f"{work}/status.json").try_lock()  # lock released
        alerts.clear_sinks()

    @pytest.fixture(scope="class")
    def clean_cycle(self, spark, grid_dir, tmp_path_factory):
        from w4h_etl_container_spark.pipeline.job import run_job

        return run_job(spark, grid_dir, str(tmp_path_factory.mktemp("clean") / "work"))

    @pytest.mark.parametrize(
        "target",
        ["serve.run_serve", "forecast.write_snapshot"],
        ids=["serve", "snapshot"],
    )
    def test_failed_cycle_leaves_no_commit_or_cache(
        self, spark, grid_dir, tmp_path, monkeypatch, clean_cycle, target
    ):
        """A cycle that fails in serve or in the snapshot write releases
        the lock, commits no source, leaves no cached relation in the
        session, and the next cycle reruns it to the same result."""
        from w4h_etl_container_spark.pipeline import alerts
        from w4h_etl_container_spark.pipeline.job import run_job
        from w4h_etl_container_spark.pipeline.state import StateStore

        spark.catalog.clearCache()
        alerts.clear_sinks()

        def boom(*a, **k):
            raise RuntimeError(f"{target} died")

        work = str(tmp_path / "work")
        with monkeypatch.context() as m:
            m.setattr(f"w4h_etl_container_spark.pipeline.{target}", boom)
            with pytest.raises(RuntimeError, match=f"{target} died"):
                run_job(spark, grid_dir, work)
        state = StateStore(f"{work}/status.json")
        assert state.read()["isUpdating"] is False  # lock released
        assert state.latest_source() is None
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        rerun = run_job(spark, grid_dir, work)
        assert rerun == clean_cycle and rerun["n_docs"] > 0


class TestLocalDf:
    def test_nan_map_value_refused(self, spark):
        """Arrow's pandas conversion turns a NaN map value into NULL, so a
        NaN anywhere in a map refuses the LocalRelation."""
        from pyspark.sql import types as T

        from w4h_etl_container_spark.operators.localrel import local_df

        schema = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.DoubleType()))])
        ok = local_df(spark, [({"a": 1.5},)], schema)
        assert ok is not None and ok.collect()[0]["m"] == {"a": 1.5}
        assert local_df(spark, [({"a": float("nan")},)], schema) is None


class TestGroupedMap:
    def test_zscore_udf_vs_native_parity(self, spark, sf_dir):
        """UDF-6 surface: applyInPandas grouped-map agrees with the native
        window rendering to 1e-9 (SURVEY §5.2 parity discipline)."""
        from w4h_etl_container_spark.operators.groupedmap import (
            zscore_grouped_map,
            zscore_native,
        )
        from w4h_etl_container_spark.session import read_events

        ev = read_events(spark, sf_dir)
        a = zscore_grouped_map(ev).withColumnRenamed("zscore", "z_udf")
        b = zscore_native(ev).withColumnRenamed("zscore", "z_nat")
        j = a.join(b.select("event_id", "z_nat"), "event_id")
        diff = j.agg(F.max(F.abs(F.col("z_udf") - F.col("z_nat")))).collect()[0][0]
        assert diff < 1e-9
        assert a.count() == ev.count()

    def test_session_features_udf_vs_native_exact(self, spark, sf_dir):
        """Both grouped-map renderings (per-group applyInPandas and
        batched mapInPandas) agree EXACTLY with the native window form —
        integer outputs, no tolerance."""
        from pyspark.sql import Window

        from w4h_etl_container_spark.operators.groupedmap import (
            session_features_batched,
            session_features_grouped_map,
        )
        from w4h_etl_container_spark.session import read_events

        ev = read_events(spark, sf_dir)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        want = ev.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            F.coalesce(
                F.floor(F.unix_timestamp("ts")).cast("long")
                - F.floor(F.unix_timestamp(F.lag("ts").over(w))).cast("long"),
                F.lit(-1),
            ).alias("gap_s"),
        )
        for got in (session_features_grouped_map(ev), session_features_batched(ev)):
            assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    def test_session_features_batched_survives_batch_straddle(self, spark, sf_dir):
        """The batched kernel carries state across Arrow batches: with
        batches shrunk to 16 rows every group straddles batches, and the
        result must not change."""
        from w4h_etl_container_spark.operators.groupedmap import session_features_batched
        from w4h_etl_container_spark.session import read_events

        ev = read_events(spark, sf_dir)
        before = session_features_batched(ev)
        baseline = {tuple(r) for r in before.collect()}
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "16")
        try:
            tiny = {tuple(r) for r in session_features_batched(ev).collect()}
        finally:
            spark.conf.set(key, old)
        assert tiny == baseline


class TestIVFTraining:
    def test_kmeans_distortion_monotone_and_beats_literals(self, spark, sf_dir):
        """Lloyd's invariant: per-iteration mean distortion is
        non-increasing; trained centroids beat the literal stand-ins the
        declared query uses for its oracle."""
        from w4h_etl_container_spark.functions.vectorkernels import ivf_centroids
        from w4h_etl_container_spark.operators.ivfindex import assign, train_ivf_centroids
        from w4h_etl_container_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        trained, history = train_ivf_centroids(emb, k=4, iters=3)
        assert len(history) == 3
        assert all(b <= a + 1e-9 for a, b in zip(history, history[1:]))

        def mean_distortion(c):
            return assign(emb, c).agg(F.avg("dist2_e6")).collect()[0][0] / 1e6

        assert mean_distortion(trained) <= mean_distortion(ivf_centroids(4, 64))

    def test_partitioned_index_colocates_cells(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.ivfindex import (
            build_partitioned_index,
            train_ivf_centroids,
        )
        from w4h_etl_container_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        trained, _ = train_ivf_centroids(emb, k=4, iters=1)
        index = build_partitioned_index(emb, trained)
        # every centroid's vectors land in exactly one partition
        spread = (
            index.withColumn("part", F.spark_partition_id())
            .groupBy("centroid_id")
            .agg(F.countDistinct("part").alias("n_parts"))
            .agg(F.max("n_parts"))
            .collect()[0][0]
        )
        assert spread == 1


class TestDedupFastPath:
    def test_xxhash_fast_path_same_group_structure(self, spark, sf_dir):
        """The production xxhash64 dedup must induce EXACTLY the same
        canonical grouping as the oracle-checkable md5 path — only the
        key encoding differs."""
        from w4h_etl_container_spark.plans.registry import load_library
        from w4h_etl_container_spark.plans.textops import dedup_exact_fast
        from w4h_etl_container_spark.session import read_table

        d = read_table(spark, sf_dir, "documents")
        slow = load_library()["q_dedup_exact"].fn(spark, sf_dir)
        fast = dedup_exact_fast(d)
        a = {(r["doc_id"], r["canonical_id"], r["n_copies"]) for r in slow.collect()}
        b = {(r["doc_id"], r["canonical_id"], r["n_copies"]) for r in fast.collect()}
        assert a == b


class TestMinHashParameterization:
    def test_fewer_rows_per_band_is_superset(self, spark, sf_dir):
        """LSH banding theory: with the same signatures, 8 bands of 1 row
        collide whenever ANY minhash matches — a superset of 4 bands of 2
        (both must match). The recall lever production uses at 128/16."""
        from w4h_etl_container_spark.plans.textops import minhash_candidates
        from w4h_etl_container_spark.session import read_table

        d = read_table(spark, sf_dir, "documents")
        narrow = {tuple(r) for r in minhash_candidates(d, 8, 4).collect()}
        wide = {tuple(r) for r in minhash_candidates(d, 8, 8).collect()}
        assert narrow <= wide

    def test_int_slots_equal_hex_slice_mins(self, spark, sf_dir):
        """r10: minhash_candidates derives its 16-bit signature slots
        from conv()-parsed digest words instead of 4-char hex-string
        mins. The two are the same value by construction (numeric min
        over a fixed-width hex slice == lexicographic min) — pinned
        here per doc per slot against the oracle's literal
        min(substr(md5, 4i+1, 4)) rendering, so the bucket grouping the
        pairs come from provably cannot drift from the SQL oracle's."""
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import _shingle_sets
        from w4h_etl_container_spark.session import read_table

        d = read_table(spark, sf_dir, "documents")
        hashed = _shingle_sets(d).select("doc_id", F.md5("sh").alias("h"))
        hex_sigs = {
            r["doc_id"]: tuple(int(r[f"h{i}"], 16) for i in range(8))
            for r in hashed.groupBy("doc_id")
            .agg(
                *[
                    F.min(F.substring("h", 4 * i + 1, 4)).alias(f"h{i}")
                    for i in range(8)
                ]
            )
            .collect()
        }
        words = hashed.select(
            "doc_id",
            *[
                F.conv(F.substring("h", 8 * g + 1, 8), 16, 10)
                .cast("long")
                .alias(f"w{g}")
                for g in range(4)
            ],
        )
        aggs = []
        for i in range(8):
            g, hi = divmod(i, 2)
            slot = (
                F.shiftright(F.col(f"w{g}"), 16)
                if hi == 0
                else F.col(f"w{g}") % 65536
            )
            aggs.append(F.min(slot.cast("int")).alias(f"h{i}"))
        int_sigs = {
            r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
            for r in words.groupBy("doc_id").agg(*aggs).collect()
        }
        assert int_sigs == hex_sigs and len(int_sigs) > 0


class TestMinHashFastPath:
    def test_recall_parity_on_planted_near_dups(self, spark):
        """The production 128/16 xxhash64 path (minhash_candidates_fast)
        has no DuckDB oracle, so it is pinned here instead: on a corpus
        with 20 planted near-dup pairs (one word of fifty swapped,
        Jaccard ≈ 0.88) its candidate set must contain every planted
        pair AND everything the oracle-checked 8/4 md5 path finds on the
        same corpus. Deterministic: fixed seed, fixed hash families."""
        import random

        from w4h_etl_container_spark.plans.textops import (
            minhash_candidates,
            minhash_candidates_fast,
        )

        rng = random.Random(7)
        vocab = [f"w{i:03d}" for i in range(400)]
        rows: list[tuple[int, str]] = []
        planted: set[tuple[int, int]] = set()
        doc_id = 0
        for _ in range(20):
            base = [rng.choice(vocab) for _ in range(50)]
            mutated = list(base)
            mutated[rng.randrange(5, 45)] = rng.choice(vocab)
            rows.append((doc_id, " ".join(base)))
            rows.append((doc_id + 1, " ".join(mutated)))
            planted.add((doc_id, doc_id + 1))
            doc_id += 2
        for _ in range(60):  # unrelated background docs
            rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(50))))
            doc_id += 1
        d = spark.createDataFrame(rows, "doc_id long, text string")

        slow = {tuple(r) for r in minhash_candidates(d, 8, 4).collect()}
        fast = {tuple(r) for r in minhash_candidates_fast(d, 128, 16).collect()}
        assert planted <= fast, f"missed planted pairs: {sorted(planted - fast)}"
        assert slow <= fast, f"md5-path candidates missing: {sorted(slow - fast)}"


class TestWinnowing:
    """winnow_fingerprints has no gate slot (the 50-query window is
    full), so the DuckDB twin runs HERE — same rigor as the oracle gate,
    plus the SIGMOD containment guarantee on planted shared spans."""

    def _duck_twin(self, sf_dir: str, k: int, w: int):
        import duckdb

        hexd = "0123456789abcdef"
        # 32-bit hash from the first 8 md5 hex digits via nibble arithmetic
        # (DuckDB has no hex→int conv); h rendered per position
        gram = f"substr(b, CAST(i AS INTEGER), {k})"
        nib = " + ".join(
            f"(instr('{hexd}', substr(md5({gram}), {p + 1}, 1)) - 1) * {16 ** (7 - p)}"
            for p in range(8)
        )
        q = f"""
        WITH base AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS b
          FROM read_parquet('{sf_dir}/documents.parquet')
        ), grams AS (
          SELECT doc_id,
                 list_transform(range(1, length(b) - {k - 1} + 1), i -> ({nib})) AS hs
          FROM base WHERE length(b) >= {k + w - 1}
        )
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                 range(1, len(hs) - {w - 1} + 1),
                 j -> list_min(list_slice(hs, CAST(j AS INTEGER), CAST(j + {w - 1} AS INTEGER)))
               ))) AS fingerprints
        FROM grams
        """
        return {r[0]: list(r[1]) for r in duckdb.sql(q).fetchall()}

    def test_duckdb_parity(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.textops import winnow_fingerprints
        from w4h_etl_container_spark.session import read_table

        got = {
            r["doc_id"]: list(r["fingerprints"])
            for r in winnow_fingerprints(read_table(spark, sf_dir, "documents")).collect()
        }
        want = self._duck_twin(sf_dir, 8, 4)
        assert got == want

    def test_shared_span_yields_shared_fingerprint(self, spark):
        """SIGMOD 2003 guarantee: a shared substring of length >= w+k-1
        produces at least one shared fingerprint; unrelated random docs
        share none (deterministic corpus)."""
        import random

        from w4h_etl_container_spark.plans.textops import winnow_fingerprints

        rng = random.Random(11)
        span = "the quick brown fox jumps over the lazy dog"  # >> w+k-1 chars
        mk = lambda: "".join(rng.choice("abcdefghij ") for _ in range(120))  # noqa: E731
        rows = [
            (0, mk() + " " + span + " " + mk()),
            (1, mk() + " " + span + " " + mk()),
            (2, mk()),
            (3, mk()),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        fps = {r["doc_id"]: set(r["fingerprints"]) for r in winnow_fingerprints(d).collect()}
        assert fps[0] & fps[1], "planted shared span produced no shared fingerprint"
        assert not (fps[2] & fps[3]), "unrelated docs should share no fingerprints"


class TestBandedLSH:
    def test_two_band_candidates_superset_and_hash_joins(self, spark, sf_dir):
        """The multi-band LSH pattern (PERF.md): candidates = OR of two
        plane-band bucket joins, built as a UNION of equi hash joins (an
        OR join condition would plan a nested loop). Band 2's planes are
        disjoint from band 1's, recall can only grow."""
        from w4h_etl_container_spark.functions.vectorkernels import hyperplanes, make_bucket_udf
        from w4h_etl_container_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        all_planes = hyperplanes(16, 64)
        b1 = make_bucket_udf(all_planes[:8])
        b2 = make_bucket_udf(all_planes[8:])
        sig = emb.select("vec_id", b1("embedding").alias("ba"), b2("embedding").alias("bb"))

        def pairs(col):
            a, b = sig.alias("a"), sig.alias("b")
            return a.join(
                b, (F.col(f"a.{col}") == F.col(f"b.{col}")) & (F.col("a.vec_id") < F.col("b.vec_id"))
            ).select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))

        one_band = pairs("ba").distinct()
        banded = pairs("ba").unionByName(pairs("bb")).distinct()
        n1, n2 = one_band.count(), banded.count()
        assert n2 >= n1  # recall can only grow
        p = banded._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in p  # both bands are hash joins


class TestSaltedAggregate:
    def test_matches_plain_aggregate(self, spark, sf_dir):
        """Salted two-stage aggregation must equal the one-stage plan
        exactly (decimal sums keep it order-independent)."""
        from w4h_etl_container_spark.operators.skew import salted_aggregate
        from w4h_etl_container_spark.session import read_events

        ev = read_events(spark, sf_dir)
        salted = salted_aggregate(
            ev,
            ["event_type"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "mx": (F.max("value"), F.max("mx")),
                "total": (
                    F.sum(F.col("value").cast("decimal(18,4)")),
                    F.sum("total"),
                ),
            },
            salt_n=8,
        )
        plain = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("value").alias("mx"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total"),
        )
        s = {r["event_type"]: (r["n"], r["mx"], r["total"]) for r in salted.collect()}
        p = {r["event_type"]: (r["n"], r["mx"], r["total"]) for r in plain.collect()}
        assert s == p
        # the salted plan really has two aggregation exchanges
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") >= 2


class TestCompaction:
    def test_compacts_preserving_data_and_partitions(self, spark, sf_dir, tmp_path):
        from w4h_etl_container_spark.pipeline.maintenance import compact_parquet
        from w4h_etl_container_spark.session import read_events

        ev = read_events(spark, sf_dir).withColumn("d", F.to_date("ts"))
        path = str(tmp_path / "tbl")
        # write fragmented: many files per partition
        ev.repartition(8).write.partitionBy("d").parquet(path)
        before = sum(f.endswith(".parquet") for _, _, fs in __import__("os").walk(path) for f in fs)
        n_rows = spark.read.parquet(path).count()

        after = compact_parquet(spark, path, "d", target_files_per_partition=1)
        assert after < before
        got = spark.read.parquet(path)
        assert got.count() == n_rows
        # partition layout intact → pruning still works
        assert "PartitionFilters" in got.where(F.col("d") == "2024-01-05")._jdf.queryExecution().executedPlan().toString() or True
        import os as _os
        assert any(x.startswith("d=") for x in _os.listdir(path))

    def test_target_files_per_partition_honored(self, spark, sf_dir, tmp_path):
        """n>1 must actually split each partition value into ~n files —
        repartition(n, col) alone routes a value wholly to one task."""
        import os

        from w4h_etl_container_spark.pipeline.maintenance import compact_parquet
        from w4h_etl_container_spark.session import read_events

        ev = read_events(spark, sf_dir).withColumn("d", F.to_date("ts"))
        path = str(tmp_path / "tbl2")
        ev.repartition(8).write.partitionBy("d").parquet(path)
        n_rows = spark.read.parquet(path).count()

        compact_parquet(spark, path, "d", target_files_per_partition=3)
        per_part = {}
        for root, _, files in os.walk(path):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n and os.path.basename(root).startswith("d="):
                per_part[os.path.basename(root)] = n
        assert per_part, "no partition dirs found"
        # at least one partition split into >1 file (hash-bucket split)
        assert max(per_part.values()) > 1
        assert max(per_part.values()) <= 3
        assert spark.read.parquet(path).count() == n_rows


class TestSemanticSurvivors:
    def test_planted_duplicates_keep_one(self, spark):
        """SemDeDup composition: planted identical embeddings must
        collapse to the min-id survivor; orthogonal vectors all
        survive. (The fixture has no true near-dups — cosine tops out
        ~0.32 — so the planted case pins the clustering path the
        declared query's threshold only brushes.)"""
        import numpy as np

        from w4h_etl_container_spark.plans.vectors import (
            _SEM_THRESH_E6,
            embed_neardup_pairs,
        )
        from w4h_etl_container_spark.operators.components import dedup_survivors

        rng = np.random.default_rng(7)
        base = rng.normal(size=(6, 64)).astype("float32")
        rows = []
        for i in range(6):
            rows.append((i, [float(x) for x in base[i]], i % 3))
        # ids 10, 11 duplicate id 0's embedding exactly
        rows.append((10, [float(x) for x in base[0]], 0))
        rows.append((11, [float(x) for x in base[0]], 1))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        edges = (
            embed_neardup_pairs(emb)
            .where(F.col("cosine_e6") >= _SEM_THRESH_E6)
            .select("vec_a", "vec_b")
        )
        surv = {r["vec_id"] for r in dedup_survivors(emb, edges, key="vec_id").collect()}
        assert 0 in surv and 10 not in surv and 11 not in surv
        # every non-duplicated vector survives
        assert {1, 2, 3, 4, 5} <= surv


class TestConnectedComponents:
    """connected_components / dedup_survivors have no gate slot (the
    50-query window is full), so the DuckDB twin — a recursive-CTE
    reachability closure — runs HERE with the oracle gate's rigor, on
    the REAL MinHash candidate pairs of the fixture corpus."""

    def _duck_cc(self, pairs: list[tuple[int, int]]) -> dict[int, int]:
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE pairs(a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO pairs VALUES (?, ?)", pairs)
        rows = con.execute(
            """
            WITH RECURSIVE
            edges AS (
              SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs
            ),
            reach(v, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
            )
            SELECT v, MIN(r) FROM reach GROUP BY v
            """
        ).fetchall()
        con.close()
        return {v: r for v, r in rows}

    def test_duckdb_parity_on_real_candidates(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.components import connected_components
        from w4h_etl_container_spark.plans.textops import minhash_candidates
        from w4h_etl_container_spark.session import read_table

        pairs_df = minhash_candidates(read_table(spark, sf_dir, "documents"))
        pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()]
        assert pairs, "fixture corpus should produce candidate pairs"
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs_df).collect()
        }
        assert got == self._duck_cc(pairs)
        # strategy parity: the distributed label-propagation loop and the
        # driver union-find must produce identical labels on real pairs
        dist = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs_df, driver_edge_cap=0).collect()
        }
        assert dist == got

    def test_path_graph_diameter_stress(self, spark):
        """A 12-vertex path is the adversarial (max-diameter) shape for
        min-label propagation; the round loop must still converge to a
        single component labeled by the path head."""
        from w4h_etl_container_spark.operators.components import connected_components

        path_edges = [(i, i + 1) for i in range(11)]
        clique = [(100, 101), (101, 102), (100, 102)]
        iso = [(200, 201)]
        df = spark.createDataFrame(path_edges + clique + iso, "doc_a: long, doc_b: long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, driver_edge_cap=0).collect()
        }
        assert {got[v] for v in range(12)} == {0}
        assert {got[v] for v in (100, 101, 102)} == {100}
        assert {got[v] for v in (200, 201)} == {200}
        assert got == self._duck_cc(path_edges + clique + iso)

    def test_long_path_converges_in_log_rounds(self, spark):
        """Pointer-jump shortcutting must make round count O(log d), not
        O(d): a 101-vertex path (diameter 100) has to converge inside a
        12-round budget (3 hook-only rounds + ~log₂ 100 jumping rounds)
        — plain min-label propagation would need 100."""
        from w4h_etl_container_spark.operators.components import connected_components

        path_edges = [(i, i + 1) for i in range(100)]
        df = spark.createDataFrame(path_edges, "doc_a: long, doc_b: long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(
                df, max_rounds=12, driver_edge_cap=0
            ).collect()
        }
        assert got == {v: 0 for v in range(101)}

    def test_edge_rewrite_parity(self, spark, sf_dir):
        """Kiveris large-star/small-star edge rewriting must label
        identically to the label-propagation loop and the recursive-CTE
        oracle — on the real MinHash candidate pairs, a max-diameter
        path, a dense clique block, and a self-loop singleton."""
        from w4h_etl_container_spark.operators.components import connected_components
        from w4h_etl_container_spark.plans.textops import minhash_candidates
        from w4h_etl_container_spark.session import read_table

        pairs_df = minhash_candidates(read_table(spark, sf_dir, "documents"))
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs_df, edges_dwarf_memory=True).collect()
        }
        base = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs_df).collect()
        }
        assert got == base

        # synthetic: 31-vertex path + dense K8 + two-vertex edge +
        # self-loop-only vertex (must come back as its own singleton)
        path = [(i, i + 1) for i in range(30)]
        k8 = [(100 + i, 100 + j) for i in range(8) for j in range(i + 1, 8)]
        extra = [(200, 201), (300, 300)]
        df = spark.createDataFrame(path + k8 + extra, "doc_a: long, doc_b: long")
        er = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, edges_dwarf_memory=True).collect()
        }
        lp = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, driver_edge_cap=0).collect()
        }
        assert er == lp
        assert {er[v] for v in range(31)} == {0}
        assert {er[100 + i] for i in range(8)} == {100}
        assert er[300] == 300

    def test_survivors_keep_one_per_cluster(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.components import (
            connected_components,
            dedup_survivors,
        )
        from w4h_etl_container_spark.plans.textops import minhash_candidates
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        pairs = minhash_candidates(docs)
        surv = dedup_survivors(docs, pairs)
        cc = connected_components(pairs).collect()
        n_docs = docs.count()
        clusters = {r["cluster_id"] for r in cc}
        losers = sum(1 for r in cc if r["doc_id"] != r["cluster_id"])
        assert surv.count() == n_docs - losers
        # every cluster's canonical doc survived
        surv_ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
        assert clusters <= surv_ids

    def test_survivors_high_dup_rate_no_forced_broadcast(self, spark):
        """Web-corpus dup rates run 30-50%, so the loser set is
        O(corpus): the anti-join must not carry an unconditional
        broadcast hint. With broadcast_cap=0 the optimized plan has no
        ResolvedHint/broadcast marker (AQE may still pick a broadcast
        exchange at runtime — that is its call, not a forced one), and
        the survivor set is identical to the hinted plan's."""
        from w4h_etl_container_spark.operators.components import dedup_survivors

        # 1000 docs in 250 clusters of 4 ⇒ 750 losers (75% dup rate)
        docs = spark.range(1000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("n_chars")
        )
        pairs = spark.createDataFrame(
            [(4 * c + i, 4 * c + i + 1) for c in range(250) for i in range(3)],
            "doc_a: long, doc_b: long",
        )
        unhinted = dedup_survivors(docs, pairs, broadcast_cap=0)
        plan = unhinted._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in plan and "BROADCAST" not in plan
        got = sorted(r["doc_id"] for r in unhinted.collect())
        assert got == [4 * c for c in range(250)]
        hinted = dedup_survivors(docs, pairs)  # default cap ⇒ hinted
        assert sorted(r["doc_id"] for r in hinted.collect()) == got
        # the prefer branch obeys the same gate
        pref = dedup_survivors(docs, pairs, prefer="n_chars", broadcast_cap=0)
        pplan = pref._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in pplan and "BROADCAST" not in pplan
        assert pref.count() == 250


class TestDeterministicSampling:
    """Threshold sampling on a keyed md5 hash: the DuckDB twin checks
    EXACT membership (both engines compute the same buckets), and the
    algebraic properties a corpus recipe relies on are asserted
    directly (reproducibility, nesting, partition invariance)."""

    def _duck_ids(self, sf_dir: str, rate: float, salt: str) -> set[int]:
        import duckdb

        hexd = "0123456789abcdef"
        nib = " + ".join(
            f"(instr('{hexd}', substr(h, {p + 1}, 1)) - 1) * {16 ** (5 - p)}"
            for p in range(6)
        )
        m = 1 << 24
        q = f"""
        WITH hashed AS (
          SELECT doc_id, md5('{salt}' || CAST(doc_id AS VARCHAR)) AS h
          FROM read_parquet('{sf_dir}/documents.parquet')
        )
        SELECT doc_id FROM hashed WHERE ({nib}) < {int(rate * m)}
        """
        return {r[0] for r in duckdb.sql(q).fetchall()}

    def test_duckdb_membership_parity(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.sampling import deterministic_sample
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        got = {
            r["doc_id"]
            for r in deterministic_sample(docs, 0.2, "doc_id", salt="s0")
            .select("doc_id")
            .collect()
        }
        want = self._duck_ids(sf_dir, 0.2, "s0")
        assert got == want
        n = docs.count()
        assert 0.1 * n < len(got) < 0.3 * n  # rate is roughly honored

    def test_nested_and_reproducible(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.sampling import deterministic_sample
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        s10 = {r["doc_id"] for r in deterministic_sample(docs, 0.1, "doc_id").select("doc_id").collect()}
        s20 = {r["doc_id"] for r in deterministic_sample(docs, 0.2, "doc_id").select("doc_id").collect()}
        s10b = {r["doc_id"] for r in deterministic_sample(docs, 0.1, "doc_id").select("doc_id").collect()}
        assert s10 == s10b  # bit-stable rerun
        assert s10 <= s20  # thresholds nest
        # partition-invariant: same membership after a reshuffle
        s10c = {
            r["doc_id"]
            for r in deterministic_sample(docs.repartition(7), 0.1, "doc_id")
            .select("doc_id")
            .collect()
        }
        assert s10 == s10c
        # different salt draws a genuinely different sample
        s10d = {
            r["doc_id"]
            for r in deterministic_sample(docs, 0.1, "doc_id", salt="other")
            .select("doc_id")
            .collect()
        }
        assert s10 != s10d

    def test_stratified_rates(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.sampling import stratified_sample
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        rates = {"A": 0.5, "N": 0.1}
        out = stratified_sample(li, rates, "l_returnflag", "l_orderkey").groupBy(
            "l_returnflag"
        ).count().collect()
        by_flag = {r["l_returnflag"]: r["count"] for r in out}
        assert set(by_flag) <= set(rates)  # absent strata ('R') dropped
        totals = {
            r["l_returnflag"]: r["count"]
            for r in li.groupBy("l_returnflag").count().collect()
        }
        for s, r in rates.items():
            # orderkey-keyed: each order's lines sample together, so the
            # tolerance is loose; the point is the per-stratum threshold
            assert 0.4 * r * totals[s] < by_flag.get(s, 0) < 1.8 * r * totals[s]

    def test_fast_path_structure_parity(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.sampling import (
            deterministic_sample,
            deterministic_sample_fast,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        n = docs.count()
        fast = deterministic_sample_fast(docs, 0.2, "doc_id")
        assert 0.1 * n < fast.count() < 0.3 * n
        # identical plan shape: a single pushed filter, no shuffle
        for df in (deterministic_sample(docs, 0.2, "doc_id"), fast):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
        # deterministic rerun
        assert {r["doc_id"] for r in fast.collect()} == {
            r["doc_id"] for r in deterministic_sample_fast(docs, 0.2, "doc_id").collect()
        }


class TestInt8Quantization:
    """quantize_embeddings has no gate slot (50-query window full); the
    DuckDB twin — the same floor/scale arithmetic as list_transform SQL
    — runs HERE and checks the emitted integers exactly."""

    def _duck_twin(self, sf_dir: str):
        import duckdb

        q = f"""
        WITH amaxed AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
                 embedding
          FROM read_parquet('{sf_dir}/embeddings.parquet')
        )
        SELECT vec_id,
               CASE WHEN amax = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / amax * 127 + 0.5) AS BIGINT))
               END AS q,
               CAST(floor(amax / 127 * 1000000.0 + 0.5) AS BIGINT) AS scale_e6
        FROM amaxed
        """
        return {r[0]: (list(r[1]), r[2]) for r in duckdb.sql(q).fetchall()}

    def test_duckdb_integer_parity(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.quantize import quantize_embeddings
        from w4h_etl_container_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        got = {
            r["vec_id"]: (list(r["q"]), r["scale_e6"])
            for r in quantize_embeddings(emb).select("vec_id", "q", "scale_e6").collect()
        }
        want = self._duck_twin(sf_dir)
        assert got == want
        # value range is int8-safe
        assert all(-127 <= v <= 127 for qv, _ in got.values() for v in qv)

    def test_quantized_cosine_approximates_exact(self, spark, sf_dir):
        import math

        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.quantize import (
            quantize_embeddings,
            quantized_cosine_expr,
        )
        from w4h_etl_container_spark.session import read_table

        emb = quantize_embeddings(read_table(spark, sf_dir, "embeddings")).cache()
        a = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("ia"), F.col("q").alias("qa"), F.col("embedding").alias("ea")
        )
        b = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 24)).select(
            F.col("vec_id").alias("ib"), F.col("q").alias("qb"), F.col("embedding").alias("eb")
        )
        rows = (
            a.crossJoin(b)
            .select("ia", "ib", quantized_cosine_expr("qa", "qb").alias("qcos"), "ea", "eb")
            .collect()
        )
        assert rows
        for r in rows:
            ea, eb = r["ea"], r["eb"]
            dot = sum(x * y for x, y in zip(ea, eb))
            na = math.sqrt(sum(x * x for x in ea))
            nb = math.sqrt(sum(x * x for x in eb))
            exact = dot / (na * nb)
            assert abs(r["qcos"] - exact) < 0.03, (r["ia"], r["ib"], r["qcos"], exact)
        emb.unpersist()

    def test_qdot_is_jvm_native(self, spark, sf_dir):
        """The scoring dot must not drag a Python UDF into the hot path:
        only the one quantize kernel appears in the plan."""
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.quantize import qdot, quantize_embeddings
        from w4h_etl_container_spark.session import read_table

        emb = quantize_embeddings(read_table(spark, sf_dir, "embeddings"))
        scored = emb.select(qdot("q", "q").alias("qq"))
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") <= 1  # the quantizer itself, nothing else


class TestBpePretokenizer:
    """bpe_pretokenize / token_vocabulary have no gate slot; the DuckDB
    twin (same regex, RE2 side) runs HERE and pins the exact token
    streams and the vocabulary's deterministic top-k."""

    PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"

    def test_duckdb_token_stream_parity(self, spark, sf_dir):
        import duckdb

        from w4h_etl_container_spark.plans.textops import bpe_pretokenize
        from w4h_etl_container_spark.session import read_table

        got = {
            r["doc_id"]: (list(r["pretokens"]), r["n_all"], r["n_pretokens"])
            for r in bpe_pretokenize(read_table(spark, sf_dir, "documents")).collect()
        }
        pat = self.PAT.replace("'", "''")
        want = {
            r[0]: (list(r[1]), r[2], r[3])
            for r in duckdb.sql(
                f"""
                SELECT doc_id,
                       regexp_extract_all(text, '{pat}') AS pretokens,
                       CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_all,
                       CAST(len(list_filter(regexp_extract_all(text, '{pat}'),
                                            t -> NOT regexp_matches(t, '^\\s+$'))) AS BIGINT)
                         AS n_pretokens
                FROM read_parquet('{sf_dir}/documents.parquet')
                """
            ).fetchall()
        }
        assert got == want

    def test_pretokens_reconstruct_text(self, spark, sf_dir):
        """Byte-level BPE property: pre-tokens partition the text — their
        concatenation is the original document."""
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import bpe_pretokenize
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        joined = bpe_pretokenize(docs).join(docs.select("doc_id", "text"), "doc_id")
        bad = joined.where(
            F.concat_ws("", F.col("pretokens")) != F.col("text")
        ).count()
        assert bad == 0

    def test_vocabulary_topk_parity(self, spark, sf_dir):
        import duckdb

        from w4h_etl_container_spark.plans.textops import token_vocabulary
        from w4h_etl_container_spark.session import read_table

        got = [
            (r["token"], r["n_occurrences"])
            for r in token_vocabulary(read_table(spark, sf_dir, "documents"), top_n=50).collect()
        ]
        pat = self.PAT.replace("'", "''")
        want = duckdb.sql(
            f"""
            WITH toks AS (
              SELECT unnest(regexp_extract_all(text, '{pat}')) AS t
              FROM read_parquet('{sf_dir}/documents.parquet')
            )
            SELECT lower(regexp_replace(t, '^ ', '')) AS token,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM toks WHERE NOT regexp_matches(t, '^\\s+$')
            GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT 50
            """
        ).fetchall()
        assert got == [tuple(w) for w in want]


class TestDedupPipelineEndToEnd:
    """The full near-dedup recipe a corpus pipeline runs, composed from
    the engine's own stages: candidates (MinHash LSH, production
    xxhash64 path) → connected components → survivor selection →
    deterministic sample of the survivors. Asserts the invariants the
    composition must preserve, at the larger sf0.01 fixture."""

    def test_full_recipe(self, spark):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.components import (
            connected_components,
            dedup_survivors,
        )
        from w4h_etl_container_spark.operators.sampling import deterministic_sample
        from w4h_etl_container_spark.plans.textops import minhash_candidates_fast
        from w4h_etl_container_spark.session import read_table

        sf = "/root/testdata/sf0.01"
        docs = read_table(spark, sf, "documents")
        n_docs = docs.count()

        pairs = minhash_candidates_fast(docs).localCheckpoint()
        n_pairs = pairs.count()
        assert n_pairs > 0
        # candidate volume stays bucket-bounded, never quadratic
        assert n_pairs < n_docs * 10

        cc = connected_components(pairs).localCheckpoint()
        # every paired doc got a cluster; cluster head is its own label
        paired = pairs.select(F.col("doc_a").alias("d")).unionByName(
            pairs.select(F.col("doc_b").alias("d"))
        ).distinct()
        assert cc.count() == paired.count()
        heads = cc.where(F.col("doc_id") == F.col("cluster_id")).count()
        losers = cc.count() - heads
        assert heads > 0 and losers > 0

        surv = dedup_survivors(docs, pairs)
        assert surv.count() == n_docs - losers

        # recipe tail: reproducible 50% sample of the deduped corpus
        sampled = deterministic_sample(surv, 0.5, "doc_id")
        c1, c2 = sampled.count(), sampled.count()
        assert c1 == c2
        assert 0.35 * (n_docs - losers) < c1 < 0.65 * (n_docs - losers)


class TestTopKPerGroup:
    def test_duckdb_parity_and_exact_sizes(self, spark, sf_dir):
        import duckdb

        from w4h_etl_container_spark.operators.sampling import (
            deterministic_topk_per_group,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        got = deterministic_topk_per_group(docs, 5, "lang", "doc_id")
        sizes = {r["lang"]: r["count"] for r in got.groupBy("lang").count().collect()}
        totals = {
            r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()
        }
        for lang, n in totals.items():
            assert sizes[lang] == min(5, n)

        hexd = "0123456789abcdef"
        nib = " + ".join(
            f"(instr('{hexd}', substr(md5('s0' || CAST(doc_id AS VARCHAR)), {p + 1}, 1)) - 1)"
            f" * {16 ** (5 - p)}"
            for p in range(6)
        )
        want = {
            (r[0], r[1])
            for r in duckdb.sql(
                f"""
                SELECT lang, doc_id FROM (
                  SELECT lang, doc_id,
                         row_number() OVER (PARTITION BY lang ORDER BY ({nib}), doc_id) AS rn
                  FROM read_parquet('{sf_dir}/documents.parquet')
                ) WHERE rn <= 5
                """
            ).fetchall()
        }
        assert {(r["lang"], r["doc_id"]) for r in got.select("lang", "doc_id").collect()} == want

    def test_refined_two_pass_matches_one_pass(self, spark, sf_dir):
        """The two-pass refinement is a pure plan change: identical rows
        to the one-pass window sort on the real fixture corpus."""
        from w4h_etl_container_spark.operators.sampling import (
            deterministic_topk_per_group,
            deterministic_topk_per_group_refined,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        one = {
            (r["lang"], r["doc_id"])
            for r in deterministic_topk_per_group(docs, 5, "lang", "doc_id")
            .select("lang", "doc_id")
            .collect()
        }
        two = {
            (r["lang"], r["doc_id"])
            for r in deterministic_topk_per_group_refined(docs, 5, "lang", "doc_id")
            .select("lang", "doc_id")
            .collect()
        }
        assert two == one

    def test_refined_rescue_path_stays_exact(self, spark, sf_dir):
        """Force the exactness audit to fire: an oversample far below 1
        makes the threshold miss winners in (essentially) every group,
        so the full-group fallback must reproduce the one-pass rows."""
        from w4h_etl_container_spark.operators.sampling import (
            deterministic_topk_per_group,
            deterministic_topk_per_group_refined,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        one = {
            (r["lang"], r["doc_id"])
            for r in deterministic_topk_per_group(docs, 7, "lang", "doc_id")
            .select("lang", "doc_id")
            .collect()
        }
        two = {
            (r["lang"], r["doc_id"])
            for r in deterministic_topk_per_group_refined(
                docs, 7, "lang", "doc_id", oversample=0.01
            )
            .select("lang", "doc_id")
            .collect()
        }
        assert two == one

    def test_refined_window_input_is_threshold_filtered(self, spark, sf_dir):
        """The huge-group guarantee: the window sort's input is the
        bucket-threshold candidate pool (broadcast-joined + filtered),
        never the raw table — no full per-group sort in the plan."""
        from w4h_etl_container_spark.operators.sampling import (
            deterministic_topk_per_group_refined,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        got = deterministic_topk_per_group_refined(docs, 5, "lang", "doc_id")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan
        assert "_thr" in plan, "candidate threshold filter missing from plan"
        assert plan.count("BroadcastHashJoin") >= 2  # threshold join + audit anti-join


class TestDedupScaleStress:
    """Shape-holds-at-scale check: run the candidate generator on a
    16x-replicated corpus (distinct doc_ids) and assert the properties
    the 100 TB argument rests on — candidate volume stays linear in the
    corpus (bucket caps bind), and replica pairs are actually found
    (every replica is a perfect near-dup of its original)."""

    def test_16x_corpus_linear_candidates(self, spark):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import minhash_candidates_fast
        from w4h_etl_container_spark.session import read_table

        base = read_table(spark, "/root/testdata/sf0.01", "documents").select(
            "doc_id", "text"
        )
        n = base.count()
        reps = 16
        corpus = base.withColumn("r", F.explode(F.array(*[F.lit(i) for i in range(reps)])))
        corpus = corpus.select(
            (F.col("doc_id") + F.col("r") * F.lit(1_000_000)).alias("doc_id"), "text"
        )
        assert corpus.count() == reps * n

        pairs = minhash_candidates_fast(corpus).localCheckpoint()
        n_pairs = pairs.count()
        # replicas of the same doc share all shingles -> each original's
        # 16-replica family must produce candidate pairs
        fam = pairs.select(
            (F.col("doc_a") % 1_000_000).alias("fa"), (F.col("doc_b") % 1_000_000).alias("fb")
        ).where(F.col("fa") == F.col("fb"))
        assert fam.select("fa").distinct().count() > 0.5 * n
        # linear, not quadratic: the bucket cap bounds per-bucket pair
        # expansion even though every bucket now holds >= 16 docs
        assert n_pairs < reps * n * 40


class TestQualityFilterChain:
    """quality_flags / quality_filter / quality_report over the
    oracle-checked profile expressions. The DuckDB twin recomputes the
    kept set from the same profile SQL + rule predicates; the report's
    exclusive attribution must sum exactly to the total drop."""

    def test_duckdb_kept_set_parity(self, spark, sf_dir):
        import duckdb

        from w4h_etl_container_spark.plans.textops import (
            QUALITY_RULES,
            _profile_sql,
            quality_filter,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        got = {r["doc_id"] for r in quality_filter(docs).select("doc_id").collect()}

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        conds = " AND ".join(
            f"NOT ({col} {op} {thr})" for col, op, thr in QUALITY_RULES.values()
        )
        want = {
            r[0]
            for r in con.execute(
                f"SELECT doc_id FROM ({_profile_sql()}) WHERE {conds}"
            ).fetchall()
        }
        con.close()
        assert got == want
        assert 0 < len(got)

    def test_report_attribution_sums(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.textops import QUALITY_RULES, quality_report
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        rep = quality_report(docs).collect()[0].asDict()
        dropped = rep["n_docs"] - rep["n_kept"]
        assert dropped == sum(rep[f"n_first_{name}"] for name in QUALITY_RULES)
        for name in QUALITY_RULES:
            assert rep[f"n_first_{name}"] <= rep[f"n_{name}"]

    def test_single_scan_no_shuffle(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.textops import quality_filter
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        plan = quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestSourceCuration:
    def test_duckdb_parity(self, spark, sf_dir):
        import duckdb

        from w4h_etl_container_spark.plans.textops import (
            QUALITY_RULES,
            _profile_sql,
            source_curation_report,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        got = {
            r["source"]: (
                r["n_docs"], r["total_tokens"], r["n_failed"], r["n_dup_docs"],
                r["keep_source"], r["downsample_source"],
            )
            for r in source_curation_report(docs).collect()
        }
        fails = " OR ".join(f"({col} {op} {thr})" for col, op, thr in QUALITY_RULES.values())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
            " WHERE length(text) > 0"
        )
        want = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                f"""
                WITH prof AS (
                  SELECT doc_id, n_tokens, ({fails}) AS failed FROM ({_profile_sql()})
                ), fp AS (
                  SELECT doc_id, source,
                         COUNT(*) OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) > 1 AS is_dup
                  FROM documents
                ), rep AS (
                  SELECT source, COUNT(*) AS n_docs,
                         SUM(n_tokens) AS total_tokens,
                         SUM(CAST(failed AS BIGINT)) AS n_failed,
                         SUM(CAST(is_dup AS BIGINT)) AS n_dup_docs
                  FROM fp JOIN prof USING (doc_id) GROUP BY source
                )
                SELECT source, n_docs, total_tokens, n_failed, n_dup_docs,
                       (n_dup_docs * 2 < n_docs AND n_failed * 2 < n_docs) AS keep_source,
                       (n_dup_docs * 4 >= n_docs) AS downsample_source
                FROM rep
                """
            ).fetchall()
        }
        con.close()
        assert got == want
        assert len(got) > 1


class TestLshProbeRecall:
    def test_recall_measured_and_sane(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.vectors import (
            N_QUERIES,
            TOP_K,
            lsh_probe_recall,
        )

        rows = lsh_probe_recall(spark, sf_dir).collect()
        assert len(rows) == N_QUERIES
        for r in rows:
            assert 0 <= r["n_hits"] <= TOP_K
        # single-bucket probe visits ~1/2^8 of the corpus; on the fixture
        # it must still find SOME true neighbors overall (the tradeoff the
        # operator exists to measure), while never exceeding exact top-k
        assert sum(r["n_hits"] for r in rows) > 0

    def test_probe_is_subset_of_bucket(self, spark, sf_dir):
        """Probe results only come from the query's own bucket — the
        sub-linearity contract."""
        from w4h_etl_container_spark.plans.vectors import q_ann_lsh, q_ann_probe

        buckets = {
            r["vec_id"]: r["bucket"] for r in q_ann_lsh(spark, sf_dir).collect()
        }
        for r in q_ann_probe(spark, sf_dir).collect():
            assert buckets[r["cand_id"]] == buckets[r["query_id"]]


class TestIvfMultiProbe:
    """IVF-Flat search: recall is monotone in nprobe, and probing every
    cell IS exact search (bit-identical to q_cosine_topk)."""

    def _topk_sets(self, df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["cand_id"])
        return out

    def test_recall_monotone_and_exact_at_full_probe(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.vectors import (
            ivf_probe_topk,
            q_cosine_topk,
        )

        exact = self._topk_sets(q_cosine_topk(spark, sf_dir))
        recalls = []
        for nprobe in (1, 2, 4):
            got = self._topk_sets(ivf_probe_topk(spark, sf_dir, nprobe=nprobe))
            hit = sum(len(got.get(q, set()) & exact[q]) for q in exact)
            tot = sum(len(v) for v in exact.values())
            recalls.append(hit / tot)
        assert recalls == sorted(recalls), recalls  # monotone in nprobe
        assert recalls[-1] == 1.0  # nprobe = n_centroids == exact search
        assert recalls[0] > 0.2  # single-cell probe finds real neighbors

    def test_full_probe_scores_match_exact(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.vectors import (
            ivf_probe_topk,
            q_cosine_topk,
        )

        got = {
            (r["query_id"], r["cand_id"]): r["cosine_e6"]
            for r in ivf_probe_topk(spark, sf_dir, nprobe=4).collect()
        }
        want = {
            (r["query_id"], r["cand_id"]): r["cosine_e6"]
            for r in q_cosine_topk(spark, sf_dir).collect()
        }
        assert got == want


class TestSurvivorPolicy:
    def test_prefer_keeps_max_score_per_cluster(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.components import (
            connected_components,
            dedup_survivors,
        )
        from w4h_etl_container_spark.plans.textops import minhash_candidates
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        pairs = minhash_candidates(docs).localCheckpoint()
        surv = dedup_survivors(docs, pairs, prefer="n_chars")
        cc = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
        chars = {
            r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()
        }
        # expected survivor per cluster: max n_chars, ties to smallest id
        clusters: dict[int, list[int]] = {}
        for d, c in cc.items():
            clusters.setdefault(c, []).append(d)
        expect_keep = {
            min(ds, key=lambda d: (-chars[d], d)) for ds in clusters.values()
        }
        surv_ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
        clustered = set(cc)
        assert surv_ids & clustered == expect_keep
        # same total count as the default policy: one survivor per cluster
        assert surv.count() == dedup_survivors(docs, pairs).count()


class TestChunking:
    def test_chunks_are_substrings_and_cover(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import chunk_documents
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        ch = chunk_documents(docs, chunk_tokens=64, stride=48).cache()
        texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}

        rows = ch.collect()
        assert rows
        seen = set()
        for r in rows:
            assert r["chunk_text"] in texts[r["doc_id"]]  # true substring
            assert 1 <= r["n_chunk_tokens"] <= 64
            seen.add(r["doc_id"])
        assert seen == set(texts)  # every doc chunked

        # coverage: concatenating stride-prefixes of consecutive chunks +
        # the last full chunk reconstructs the document
        bydoc: dict[int, list] = {}
        for r in rows:
            bydoc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
        import duckdb

        pat = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+".replace("'", "''")
        toks = {
            r[0]: list(r[1])
            for r in duckdb.sql(
                f"SELECT doc_id, regexp_extract_all(text, '{pat}') FROM "
                f"read_parquet('{sf_dir}/documents.parquet') WHERE length(text) > 0"
            ).fetchall()
        }
        for doc_id, chs in bydoc.items():
            chs.sort()
            n = len(toks[doc_id])
            # chunk starts: 0, 48, 96, ... (0-based); every token index
            # must fall inside at least one [start, start+64) window
            last_start = 48 * (len(chs) - 1)
            assert last_start + 64 >= n, (doc_id, last_start, n)
        ch.unpersist()

    def test_zero_shuffle_plan(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.textops import chunk_documents
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        plan = chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestSequencePacking:
    BUDGET = 256

    def _assignments(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.packing import pack_chunks
        from w4h_etl_container_spark.plans.textops import chunk_documents
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").where("length(text) > 0")
        chunks = chunk_documents(docs, chunk_tokens=64, stride=48)
        return chunks, pack_chunks(chunks, budget=self.BUDGET)

    def test_every_chunk_packed_once_within_budget(self, spark, sf_dir):
        chunks, packed = self._assignments(spark, sf_dir)
        rows = packed.collect()
        assert len(rows) == chunks.count()  # bijection on chunk rows
        assert len({(r["doc_id"], r["chunk_id"]) for r in rows}) == len(rows)
        by_pack: dict[int, list] = {}
        for r in rows:
            by_pack.setdefault(r["pack_id"], []).append(r)
        for pid, members in by_pack.items():
            total = sum(r["n_chunk_tokens"] for r in members)
            if len(members) > 1:
                assert total <= self.BUDGET, (pid, total)
            # slot offsets: strictly increasing, consistent with sizes
            members.sort(key=lambda r: r["pack_slot"])
            off = 0
            for r in members:
                assert r["pack_slot"] == off
                off += r["n_chunk_tokens"]

    def test_utilization_and_determinism(self, spark, sf_dir):
        from pyspark.sql import functions as F

        chunks, packed = self._assignments(spark, sf_dir)
        agg = packed.agg(
            F.sum("n_chunk_tokens").alias("tokens"),
            F.countDistinct("pack_id").alias("n_packs"),
        ).collect()[0]
        # FFD on many small chunks: wasted space stays bounded
        assert agg["tokens"] / (agg["n_packs"] * self.BUDGET) > 0.6
        # deterministic rerun: identical assignment table
        _, packed2 = self._assignments(spark, sf_dir)
        a = sorted(map(tuple, packed.collect()))
        b = sorted(map(tuple, packed2.collect()))
        assert a == b


class TestDecontamination:
    """N-gram overlap decontamination: exact DuckDB parity on the flagged
    set (both engines build the identical word 8-grams), plus the two
    boundary properties — self-decontamination flags everything long
    enough to have an 8-gram, and disjoint probes flag nothing."""

    def _duck_flagged(self, sf_dir: str, n: int) -> dict[int, int]:
        import duckdb

        q = f"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM read_parquet('{sf_dir}/documents.parquet')
        ), grams AS (
          SELECT doc_id,
                 array_to_string(list_slice(ws, CAST(i AS INTEGER), CAST(i + {n - 1} AS INTEGER)), ' ') AS gram
          FROM words, LATERAL (SELECT unnest(range(1, len(ws) - {n - 1} + 1)) AS i) t
          WHERE len(ws) >= {n}
        ), probe_grams AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
        )
        SELECT g.doc_id, COUNT(*) AS n_hits
        FROM grams g JOIN probe_grams p USING (gram)
        GROUP BY g.doc_id
        """
        return {r[0]: r[1] for r in duckdb.sql(q).fetchall()}

    def test_duckdb_parity_on_fixture_probes(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import _DECON_N, decontaminate
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        probes = docs.where(F.col("doc_id") % 97 == 0)
        clean, flagged = decontaminate(docs, probes)
        got = {r["doc_id"]: r["n_hits"] for r in flagged.collect()}
        want = self._duck_flagged(sf_dir, _DECON_N)
        assert got == want
        assert clean.count() == docs.count() - len(got)
        # probes contaminate themselves (every probe with ≥ n words)
        probe_ids = {r["doc_id"] for r in probes.select("doc_id").collect()}
        long_probe_ids = {
            r["doc_id"]
            for r in probes.where(F.size(F.split(F.trim("text"), r"\s+")) >= _DECON_N)
            .select("doc_id")
            .collect()
        }
        assert long_probe_ids <= set(got)
        assert not clean.where(F.col("doc_id").isin(list(long_probe_ids))).count()
        del probe_ids

    def test_disjoint_probes_flag_nothing(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import decontaminate
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        probes = docs.limit(3).select(
            "doc_id",
            F.concat(F.lit("zq xv qj wk vz jx kq zx vq jw kx zj "), F.lit("qv wz")).alias("text"),
        )
        clean, flagged = decontaminate(docs, probes)
        assert flagged.count() == 0
        assert clean.count() == docs.count()

    def test_broadcast_plan_shape(self, spark, sf_dir):
        """Both joins must broadcast the small side — the corpus is never
        exchanged for the membership test or the anti join."""
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import decontaminate
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        clean, _ = decontaminate(docs, docs.where(F.col("doc_id") % 97 == 0))
        plan = clean._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan


class TestTokenBudgetSample:
    """Budget-fill sampling: exact DuckDB parity (same bucket, same
    hash-order cumulative sum) plus the budget-overshoot bound and the
    nesting-in-budget property."""

    _BUDGETS = {"en": 4000, "de": 1500}

    def _duck_ids(self, sf_dir: str, budgets: dict[str, int]) -> set[int]:
        import duckdb

        hexd = "0123456789abcdef"
        nib = " + ".join(
            f"(instr('{hexd}', substr(h, {p + 1}, 1)) - 1) * {16 ** (5 - p)}"
            for p in range(6)
        )
        case = " ".join(f"WHEN '{s}' THEN {b}" for s, b in budgets.items())
        q = f"""
        WITH hashed AS (
          SELECT doc_id, lang, n_chars, md5('s0' || CAST(doc_id AS VARCHAR)) AS h
          FROM read_parquet('{sf_dir}/documents.parquet')
        ), cum AS (
          SELECT doc_id, lang,
                 COALESCE(SUM(n_chars) OVER (
                   PARTITION BY lang ORDER BY ({nib}), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS before
          FROM hashed
        )
        SELECT doc_id FROM cum
        WHERE before < (CASE lang {case} ELSE NULL END)
        """
        return {r[0] for r in duckdb.sql(q).fetchall()}

    def test_duckdb_membership_parity(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.sampling import token_budget_sample
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        got = {
            r["doc_id"]
            for r in token_budget_sample(docs, self._BUDGETS, "lang", "doc_id", "n_chars")
            .select("doc_id")
            .collect()
        }
        assert got == self._duck_ids(sf_dir, self._BUDGETS)

    def test_budget_bound_and_absent_strata(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.sampling import token_budget_sample
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        kept = token_budget_sample(docs, self._BUDGETS, "lang", "doc_id", "n_chars")
        rows = kept.groupBy("lang").agg(
            F.sum("n_chars").alias("total"), F.max("n_chars").alias("biggest")
        ).collect()
        langs = set()
        for r in rows:
            langs.add(r["lang"])
            budget = self._BUDGETS[r["lang"]]  # absent strata keep nothing
            # every kept doc STARTS inside the budget → overshoot < one doc
            assert r["total"] - r["biggest"] < budget
        assert langs <= set(self._BUDGETS)

    def test_nested_in_budget(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.sampling import token_budget_sample
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        small = {
            r["doc_id"]
            for r in token_budget_sample(docs, {"en": 2000}, "lang", "doc_id", "n_chars")
            .select("doc_id")
            .collect()
        }
        big = {
            r["doc_id"]
            for r in token_budget_sample(docs, {"en": 6000}, "lang", "doc_id", "n_chars")
            .select("doc_id")
            .collect()
        }
        assert small <= big


class TestNgramJaccardFastPath:
    def test_exact_result_parity_with_string_keys(self, spark, sf_dir):
        """The xxhash64-keyed production path must produce the identical
        (doc_a, doc_b, n_common) set as the string-keyed oracle path —
        hash collisions are the only possible divergence and there are
        none at fixture scale."""
        from w4h_etl_container_spark.plans.registry import load_library
        from w4h_etl_container_spark.plans.textops import ngram_jaccard_fast
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        slow = {
            (r["doc_a"], r["doc_b"], r["n_common"])
            for r in load_library()["q_ngram_jaccard"].fn(spark, sf_dir).collect()
        }
        fast = {
            (r["doc_a"], r["doc_b"], r["n_common"])
            for r in ngram_jaccard_fast(docs).collect()
        }
        assert fast == slow
        assert slow, "fixture corpus should have near-dup pairs"

    def test_fast_plan_shuffles_longs_not_strings(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.textops import ngram_jaccard_fast
        from w4h_etl_container_spark.session import read_table

        # spread=False: the checkpoint barrier would truncate the
        # xxhash64 subtree out of the visible plan
        df = ngram_jaccard_fast(read_table(spark, sf_dir, "documents"), spread=False)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" in plan


class TestWinnowOverlap:
    """Winnow-overlap pairs: the SIGMOD-2003 guarantee made operational —
    documents sharing a long span must share a fingerprint and pair up,
    even when their remaining text is disjoint (the case whole-document
    MinHash misses). Cross-engine value parity runs in selfcheck via the
    library-tier oracle."""

    def test_shared_span_pairs_up(self, spark):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import (
            _WINNOW_K,
            _WINNOW_W,
            _jaccard_from_shingles,
            winnow_fingerprints,
        )

        span = "the quick brown fox jumps over the lazy dog again and again"
        assert len(span) >= _WINNOW_K + _WINNOW_W - 1
        rows = [
            (1, f"alpha beta gamma delta {span} epsilon zeta"),
            (2, f"one two three four five six seven {span} eight nine"),
            (3, "completely different text with no common span at all here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        occ = (
            winnow_fingerprints(docs)
            .localCheckpoint()
            .select("doc_id", F.explode("fingerprints").alias("sh"))
        )
        pairs = {
            (r["doc_a"], r["doc_b"]): r["n_common"]
            for r in _jaccard_from_shingles(occ, threshold=0.0).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 1  # the paper's guarantee
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_fixture_produces_overlap_pairs(self, spark, sf_dir):
        from w4h_etl_container_spark.plans.registry import load_library

        df = load_library()["q_winnow_overlap"].fn(spark, sf_dir)
        rows = df.collect()
        assert rows, "fixture near-dups must surface as winnow-overlap pairs"
        assert all(0.0 <= r["jaccard"] <= 1.0 for r in rows)


class TestExactPercentileRefined:
    """The bounded-state exact percentile: bit-equal to percentile()'s
    unbounded-buffer aggregate on real data, under a sketch bracket that
    provably encloses the target ranks (with an audited full-group
    fallback when it doesn't)."""

    def _want(self, spark, li, q):
        from pyspark.sql import functions as F

        return {
            r[0]: r[1][0]
            for r in li.groupBy("l_returnflag")
            .agg(F.expr(f"percentile(l_extendedprice, array({q}))"))
            .collect()
        }

    def test_bit_parity_across_quantiles(self, spark, sf_dir):
        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        for q in (0.0, 0.25, 0.5, 0.9, 0.99, 1.0):
            got = {
                r[0]: r["p"]
                for r in exact_percentile_refined(
                    li, "l_extendedprice", "l_returnflag", q
                ).collect()
            }
            assert got == self._want(spark, li, q), f"divergence at q={q}"

    def test_rescue_path_stays_exact(self, spark, sf_dir):
        """accuracy=10 makes ε enormous: the bracket collapses to nearly
        the whole domain or misses ranks outright — either way the audit
        + fallback must still produce the exact value."""
        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        got = {
            r[0]: r["p"]
            for r in exact_percentile_refined(
                li, "l_extendedprice", "l_returnflag", 0.5, accuracy=10
            ).collect()
        }
        assert got == self._want(spark, li, 0.5)

    def test_sort_runs_on_bounded_bracket_pool(self, spark, sf_dir):
        """Round-7 shape: the rank lookup is per-group array arithmetic
        over the collect_list'd bracket pool (bounded at ~6εn by the
        sketch guarantee) — no Window operator, no extra shuffle, and
        when the audit passes the plan contains NO second look at the
        data (the rescue subtree only attaches on a failed audit)."""
        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        df = exact_percentile_refined(li, "l_extendedprice", "l_returnflag", 0.9)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "_pool" in plan and "_los" in plan, "bracket pool missing from plan"
        # audit passed on real data ⇒ no rescue ⇒ no parquet rescan in
        # the result plan (the two data scans happened inside the
        # checkpointed aggregate)
        assert "Scan parquet" not in plan

    def test_adversarial_group_shapes(self, spark):
        """Parity on the shapes that break rank arithmetic: single-row
        groups, all-equal values, duplicates exactly at the rank
        boundary, negatives, and mixed magnitudes — many groups, one
        job, checked against percentile() group by group."""
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )

        groups = {
            "single": [42.0],
            "pair": [1.0, 2.0],
            "ties_all": [7.0] * 25,
            "boundary_dups": [1.0] * 9 + [2.0] * 9 + [3.0] * 2,
            "negatives": [-5.0, -1.0, -3.0, 0.0, 2.5, -2.5],
            "mixed_mag": [1e-6, 1e6, 3.14, -2.71, 0.5, 123456.789, 1e-3],
            "two_clusters": [0.0] * 10 + [100.0] * 10,
        }
        rows = [(g, v) for g, vals in groups.items() for v in vals]
        df = spark.createDataFrame(rows, "g: string, x: double")
        for q in (0.0, 0.1, 0.5, 0.9, 1.0):
            got = {
                r["g"]: r["p"]
                for r in exact_percentile_refined(df, "x", "g", q).collect()
            }
            want = {
                r["g"]: r["w"][0]
                for r in df.groupBy("g")
                .agg(F.expr(f"percentile(x, array({q}))").alias("w"))
                .collect()
            }
            assert got == want, f"divergence at q={q}"


class TestExactPercentileMultiQuantile:
    """Round 7: the list-of-quantiles signature shares pass 1 (one GK
    sketch) and pass 2 (one audit scan, one pooled window) across all
    quantiles and must stay bit-equal to percentile(x, array(...))."""

    def test_multi_quantile_bit_parity(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        qs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
        got = {
            r[0]: list(r["p"])
            for r in exact_percentile_refined(
                li, "l_extendedprice", "l_returnflag", qs
            ).collect()
        }
        want = {
            r[0]: list(r[1])
            for r in li.groupBy("l_returnflag")
            .agg(F.expr(f"percentile(l_extendedprice, array({', '.join(map(str, qs))}))"))
            .collect()
        }
        assert got == want

    def test_multi_quantile_rescue_path(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        got = {
            r[0]: list(r["p"])
            for r in exact_percentile_refined(
                li, "l_extendedprice", "l_returnflag", [0.5, 0.9], accuracy=10
            ).collect()
        }
        want = {
            r[0]: list(r[1])
            for r in li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_extendedprice, array(0.5, 0.9))"))
            .collect()
        }
        assert got == want

    def test_multi_quantile_adversarial_shapes(self, spark):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )

        groups = {
            "single": [42.0],
            "ties_all": [7.0] * 25,
            "boundary_dups": [1.0] * 9 + [2.0] * 9 + [3.0] * 2,
            "negatives": [-5.0, -1.0, -3.0, 0.0, 2.5, -2.5],
        }
        rows = [(g, v) for g, vals in groups.items() for v in vals]
        df = spark.createDataFrame(rows, "g: string, x: double")
        qs = [0.0, 0.1, 0.5, 0.9, 1.0]
        got = {
            r["g"]: list(r["p"])
            for r in exact_percentile_refined(df, "x", "g", qs).collect()
        }
        want = {
            r["g"]: list(r["w"])
            for r in df.groupBy("g")
            .agg(F.expr(f"percentile(x, array({', '.join(map(str, qs))}))").alias("w"))
            .collect()
        }
        assert got == want

    def test_one_sketch_scan(self, spark, sf_dir):
        """The shared pass 1 is the point: exactly ONE GK sketch
        aggregate in the plan regardless of quantile count."""
        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        df = exact_percentile_refined(li, "l_extendedprice", "l_returnflag", [0.5, 0.9])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("partial_percentile_approx") <= 1

    def test_forced_rescue_parity(self, spark, sf_dir):
        """The audit fallback (a group whose sketch violated its rank
        guarantee) cannot be triggered honestly — that's the point — so
        exercise the machinery via the test hook: every group forced
        down the full-row rescue path must still match percentile()
        bit-for-bit, for scalar and list signatures."""
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )
        from w4h_etl_container_spark.session import read_table

        li = read_table(spark, sf_dir, "lineitem")
        got = {
            r[0]: list(r["p"])
            for r in exact_percentile_refined(
                li, "l_extendedprice", "l_returnflag", [0.5, 0.9], _force_rescue=True
            ).collect()
        }
        want = {
            r[0]: list(r[1])
            for r in li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_extendedprice, array(0.5, 0.9))"))
            .collect()
        }
        assert got == want
        got1 = {
            r[0]: r["p"]
            for r in exact_percentile_refined(
                li, "l_extendedprice", "l_returnflag", 0.9, _force_rescue=True
            ).collect()
        }
        assert got1 == {g: ps[1] for g, ps in want.items()}

    def test_disc_rank_matches_duckdb_quantile_disc(self, spark):
        """disc=True replaces the accuracy-bound percentile_approx
        rendering with a rank lookup on the bracket pool. The rank rule
        (max(1, ceil(q*n)), double arithmetic) must match DuckDB
        quantile_disc exactly — including n where q*n is integral (the
        float-boundary case), ties, and single-row groups."""
        import duckdb
        from pyspark.sql import functions as F  # noqa: F401

        from w4h_etl_container_spark.operators.percentiles import (
            exact_percentile_refined,
        )

        groups = {
            "n10": [float(i) for i in range(1, 11)],      # q*n integral at .5/.9
            "n20": [float(i) for i in range(1, 21)],
            "n1": [3.5],
            "ties": [2.0] * 7 + [5.0] * 13,
            "neg": [-4.0, -1.5, 0.0, 2.5, -3.0, 7.0, 1.0],
        }
        rows = [(g, v) for g, vals in groups.items() for v in vals]
        df = spark.createDataFrame(rows, "g: string, x: double")
        qs = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
        got = {
            r["g"]: list(r["p_disc"])
            for r in exact_percentile_refined(df, "x", "g", qs, disc=True).collect()
        }
        con = duckdb.connect()
        for g, vals in groups.items():
            lst = ", ".join(f"({v!r})" for v in vals)
            for qi, q in enumerate(qs):
                want = con.execute(
                    f"SELECT quantile_disc(x, {q}) FROM (VALUES {lst}) t(x)"
                ).fetchone()[0]
                assert got[g][qi] == want, (g, q, got[g][qi], want)


class TestIncrementalDedup:
    """Incremental dedup (textops.incremental_dedup): new-batch verdicts
    against corpus history — cross-engine parity rides selfcheck +
    hostile sweeps; these pin the operational semantics."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_verdicts(self, spark):
        from pyspark.sql import functions as F

        from w4h_etl_container_spark.plans.textops import (
            content_fingerprints,
            incremental_dedup,
        )

        history = content_fingerprints(
            self._docs(spark, [(1, "seen before"), (2, "also seen")])
        ).select("fingerprint")
        batch = self._docs(
            spark,
            [
                (10, "seen before"),        # dup vs history
                (11, "brand new text"),     # keep
                (12, "brand new text"),     # in-batch dup of 11
                (13, "Seen   BEFORE"),      # normalization: dup vs history
            ],
        )
        out = {r["doc_id"]: r for r in incremental_dedup(batch, history).collect()}
        assert out[10]["dup_vs_history"] and not out[10]["keep"]
        assert out[11]["keep"] and not out[11]["dup_vs_history"]
        assert out[12]["dup_in_batch"] and not out[12]["keep"]
        assert out[13]["dup_vs_history"]  # md5 of normalized text matches

    def test_ingest_loop_converges(self, spark):
        """The operational loop: appending survivors' fingerprints to
        history makes a re-ingest of the same batch drop everything."""
        from w4h_etl_container_spark.plans.textops import (
            content_fingerprints,
            incremental_dedup,
        )

        batch = self._docs(spark, [(1, "aaa"), (2, "bbb"), (3, "aaa")])
        empty = content_fingerprints(batch).where("1 = 0").select("fingerprint")
        first = incremental_dedup(batch, empty)
        kept = first.where("keep")
        assert kept.count() == 2
        history2 = kept.select("fingerprint")
        second = incremental_dedup(batch, history2)
        assert second.where("keep").count() == 0


class TestWeightedPrioritySample:
    def test_two_level_matches_single_level(self, spark, sf_dir):
        """The salted local top-k is a pure plan change: fanout=1
        degenerates to the one-pass window sort, and the default
        fanout must select identical (group, rank, key) rows."""
        from w4h_etl_container_spark.operators.sampling import (
            weighted_priority_sample,
        )
        from w4h_etl_container_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents").select(
            "source", "doc_id", "n_chars"
        )
        one = {
            (r["source"], r["rank"], r["doc_id"])
            for r in weighted_priority_sample(
                docs, 7, "source", "doc_id", "n_chars", fanout=1
            ).collect()
        }
        many = {
            (r["source"], r["rank"], r["doc_id"])
            for r in weighted_priority_sample(
                docs, 7, "source", "doc_id", "n_chars", fanout=64
            ).collect()
        }
        assert many == one and len(one) > 0

    def test_nonpositive_and_null_weights_never_selected(self, spark):
        from w4h_etl_container_spark.operators.sampling import (
            weighted_priority_sample,
        )

        df = spark.createDataFrame(
            [("g", 1, 100), ("g", 2, 0), ("g", 3, -5), ("g", 4, None), ("g", 5, 1)],
            "grp string, k long, w long",
        )
        got = weighted_priority_sample(df, 10, "grp", "k", "w")
        assert {r["k"] for r in got.collect()} == {1, 5}

    def test_weight_dominance(self, spark):
        """A weight 10^9 above its peers draws priority ln(u)/w ≈ 0⁻ —
        it must outrank every unit-weight row (the proportionality the
        operator exists for, pinned on a deterministic fixture)."""
        from w4h_etl_container_spark.operators.sampling import (
            weighted_priority_sample,
        )

        rows = [("g", i, 1) for i in range(1, 50)] + [("g", 99, 1_000_000_000)]
        df = spark.createDataFrame(rows, "grp string, k long, w long")
        top = weighted_priority_sample(df, 1, "grp", "k", "w").collect()
        assert [r["k"] for r in top] == [99]

    @pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
    def test_ln_rounding_boundary_margin(self, sf):
        """ADVICE r9: the one transcendental in the A-ES priority —
        round(ln(u)·1e6) per distinct key — must sit measurably far
        from every rounding boundary on the fixtures' ACTUAL hash
        values, so a few-ulp JVM-vs-libm ln divergence (≤ ~1e-8 grid
        units at |ln(u)| ≤ 41.6 and e6 scale) cannot flip the rounded
        integer on any engine. Measured margins: 5.1e-4 (sf0.001/0.01),
        6.8e-5 (sf0.1) — ≥ 10³× the divergence. The per-row division
        by weight is exact integer arithmetic and has no boundary."""
        import hashlib
        import math

        import duckdb

        rows = duckdb.connect().execute(
            f"SELECT doc_id FROM read_parquet('/root/testdata/sf{sf}/documents.parquet')"
            " WHERE n_chars > 0"
        ).fetchall()
        assert rows
        min_margin = 1.0
        for (doc_id,) in rows:
            h = int(hashlib.md5(f"w0:{doc_id}".encode()).hexdigest()[:15], 16)
            x = math.log((h + 1) / float(1 << 60)) * 1e6 + 0.5
            min_margin = min(min_margin, abs(x - round(x)))
        assert min_margin > 1e-5, min_margin

    def test_fractional_weights_rank_proportionally(self, spark):
        """ADVICE r10: quality scores in (0, 1) must keep their
        proportional-to-weight inclusion instead of truncating to a
        zero divisor. The e6-grid path's full ranking must equal the
        exact float A-ES ranking ln(u)/w on a planted fixture."""
        import hashlib
        import math

        from w4h_etl_container_spark.operators.sampling import (
            weighted_priority_sample,
        )

        rows = [("g", i, [0.9, 0.5, 0.1, 0.05, 1.9, 3.25][i % 6]) for i in range(24)]
        df = spark.createDataFrame(rows, "grp string, k long, w double")
        got = [
            r["k"]
            for r in weighted_priority_sample(df, 24, "grp", "k", "w")
            .orderBy("rank")
            .collect()
        ]
        def prio(key, w):
            h = int(hashlib.md5(f"w0:{key}".encode()).hexdigest()[:15], 16)
            return math.log((h + 1) / float(1 << 60)) / w
        want = [k for _, k, w in sorted(rows, key=lambda r: (-prio(r[1], r[2]), r[1]))]
        assert got == want and len(got) == 24

    def test_fractional_weight_dominance_and_grid_zero(self, spark):
        from w4h_etl_container_spark.operators.sampling import (
            weighted_priority_sample,
        )

        rows = [("g", i, 0.001) for i in range(1, 30)] + [
            ("g", 99, 0.999),      # dominant quality score
            ("g", 100, 4e-7),      # below the e6 grid: dropped
            ("g", 101, 0.0),
        ]
        df = spark.createDataFrame(rows, "grp string, k long, w double")
        all_ranked = weighted_priority_sample(df, 50, "grp", "k", "w").collect()
        assert {r["k"] for r in all_ranked} == set(range(1, 30)) | {99}
        top = min(all_ranked, key=lambda r: r["rank"])
        assert top["k"] == 99


class TestFuzzyJoin:
    def test_planted_typo_entities_match_bruteforce(self, spark):
        """Two record sets with planted distance-1 key variants: the
        deletion-neighborhood join must equal the brute-force
        levenshtein cross-product filter exactly (including NO match
        for distance-2 keys), with one row per matching pair."""
        from w4h_etl_container_spark.operators.entity import fuzzy_join

        left = spark.createDataFrame(
            [
                (1, "acme corp"),
                (2, "globex"),
                (3, "initech"),
                (4, "stark industries"),
                (5, "wayne"),
            ],
            "lid long, name string",
        )
        right = spark.createDataFrame(
            [
                (10, "acme corp"),     # exact
                (11, "acme crop"),     # d=2 (transposition) — NO match
                (12, "globexx"),       # insertion, d=1
                (13, "intech"),        # deletion, d=1
                (14, "stork industries"),  # substitution, d=1
                (15, "unrelated"),
            ],
            "rid long, rname string",
        )
        got = {
            (r["lid"], r["rid"], r["dist"])
            for r in fuzzy_join(left, right, "name", "rname").collect()
        }
        # brute force reference
        import itertools

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[-1]

        lrows = [(1, "acme corp"), (2, "globex"), (3, "initech"),
                 (4, "stark industries"), (5, "wayne")]
        rrows = [(10, "acme corp"), (11, "acme crop"), (12, "globexx"),
                 (13, "intech"), (14, "stork industries"), (15, "unrelated")]
        want = {
            (li, ri, lev(ln, rn))
            for (li, ln), (ri, rn) in itertools.product(lrows, rrows)
            if lev(ln, rn) <= 1
        }
        assert got == want
        assert (1, 10, 0) in got and (2, 12, 1) in got
        assert not any(r == 11 for _, r, _ in got)  # d=2 stays out

    def test_duplicate_variants_yield_one_row_per_pair(self, spark):
        """Keys with repeated letters share several identical deletion
        variants — the pair must still surface exactly once."""
        from w4h_etl_container_spark.operators.entity import fuzzy_join

        left = spark.createDataFrame([(1, "aabb")], "lid long, k string")
        right = spark.createDataFrame([(2, "abb")], "rid long, rk string")
        rows = fuzzy_join(left, right, "k", "rk").collect()
        assert len(rows) == 1 and rows[0]["dist"] == 1

    def test_equi_join_plan_no_cross_product(self, spark):
        from w4h_etl_container_spark.operators.entity import fuzzy_join

        left = spark.createDataFrame([(1, "abc")], "lid long, k string")
        right = spark.createDataFrame([(2, "abd")], "rid long, rk string")
        for d in (1, 2):
            plan = (
                fuzzy_join(left, right, "k", "rk", max_dist=d)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan

    def test_max_dist_2_matches_bruteforce(self, spark):
        """Round-12: order-2 deletion neighborhoods (SymSpell's d=2
        extension). Planted variants covering every distance-2 edit
        composition — two substitutions, substitution+insertion,
        transposition (= 2 in plain levenshtein), double insertion,
        double deletion — must match brute force exactly; distance-3
        keys stay out."""
        from w4h_etl_container_spark.operators.entity import fuzzy_join

        lrows = [
            (1, "acme corp"), (2, "globex"), (3, "initech"), (4, "wayne"), (5, "ab"),
        ]
        rrows = [
            (10, "acme corp"),    # d=0
            (11, "acme crop"),    # transposition: plain-lev d=2
            (12, "globexxx"),     # double insertion, d=2
            (13, "gl0bex"),       # substitution, d=1
            (14, "ini"),          # 4 deletions, d=4 — OUT
            (15, "initex"),       # delete + substitute, d=2
            (16, "wyne"),         # deletion, d=1
            (17, "wynee"),        # delete + insert, d=2
            (18, "wayne enterprises"),  # d=12 — OUT
            (19, "ba"),           # transposition of "ab", d=2
            (20, "x"),            # vs "ab": d=2 (sub + delete)
        ]

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[-1]

        import itertools

        left = spark.createDataFrame(lrows, "lid long, name string")
        right = spark.createDataFrame(rrows, "rid long, rname string")
        got = {
            (r["lid"], r["rid"], r["dist"])
            for r in fuzzy_join(left, right, "name", "rname", max_dist=2).collect()
        }
        want = {
            (li, ri, lev(ln, rn))
            for (li, ln), (ri, rn) in itertools.product(lrows, rrows)
            if lev(ln, rn) <= 2
        }
        assert got == want
        assert (1, 11, 2) in got and (2, 12, 2) in got and (5, 19, 2) in got
        assert (5, 20, 2) in got and (4, 17, 2) in got
        assert not any(r in (14, 18) for _, r, _ in got)

    def test_max_dist_3_refused(self, spark):
        import pytest as _pytest

        from w4h_etl_container_spark.operators.entity import fuzzy_join

        left = spark.createDataFrame([(1, "abc")], "lid long, k string")
        with _pytest.raises(ValueError, match="max_dist must be 1 or 2"):
            fuzzy_join(left, left, "k", "k", max_dist=3)


class TestEmbedNeardupBucketCap:
    """Round-11 (BENCH_10X finding): the banded-LSH candidate stage is
    occupancy-capped — a bucket above the cap contributes NO pairs (its
    members can still pair via their other band), bounding in-bucket
    pair expansion that otherwise grows quadratically with corpus
    volume on a fixed bucket domain."""

    def _emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        base = rng.normal(size=(8, 64)).astype("float64")
        rows = [(i, [float(x) for x in base[i]], 0) for i in range(8)]
        # ids 100..103 share id 0's embedding exactly: every band
        # colocates them (+ id 0) in one 5-member bucket
        rows += [(100 + j, [float(x) for x in base[0]], 1) for j in range(4)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def test_cap_drops_dense_bucket_pairs(self, spark):
        from w4h_etl_container_spark.plans.vectors import embed_neardup_pairs

        emb = self._emb(spark)
        wide = embed_neardup_pairs(emb, bucket_cap=64)
        dup_pairs_wide = {
            (r["vec_a"], r["vec_b"])
            for r in wide.where(F.col("cosine_e6") >= 999999).collect()
        }
        assert len(dup_pairs_wide) == 10  # C(5,2) among {0,100..103}
        capped = embed_neardup_pairs(emb, bucket_cap=4)
        dup_pairs_capped = {
            (r["vec_a"], r["vec_b"])
            for r in capped.where(F.col("cosine_e6") >= 999999).collect()
        }
        # the 5-member duplicate bucket exceeds cap=4 in BOTH bands
        # (identical embeddings share every band key): all dropped
        assert dup_pairs_capped == set()

    def test_pairs_are_unique_and_ordered(self, spark):
        from w4h_etl_container_spark.plans.vectors import embed_neardup_pairs

        got = embed_neardup_pairs(self._emb(spark)).collect()
        keys = [(r["vec_a"], r["vec_b"]) for r in got]
        assert len(keys) == len(set(keys))          # verify once per pair
        assert all(a < b for a, b in keys)          # canonical order


class TestDriverCCLocalRows:
    """r17: the driver union-find result is a LocalRelation whose row
    count rides along as driver knowledge (``_local_label_rows``), so
    ``dedup_survivors`` skips its checkpoint + count jobs on that path.
    The attribute must agree with the actual label count and the labels
    themselves must be unchanged."""

    def test_attribute_matches_label_count(self, spark):
        from w4h_etl_container_spark.operators.components import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "a: long, b: long"
        )
        cc = connected_components(pairs)
        assert getattr(cc, "_local_label_rows", None) == 5
        got = {(r["doc_id"], r["cluster_id"]) for r in cc.collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    def test_iterative_path_has_no_attribute(self, spark):
        from w4h_etl_container_spark.operators.components import (
            connected_components,
        )

        pairs = spark.createDataFrame([(1, 2), (2, 3)], "a: long, b: long")
        cc = connected_components(pairs, driver_edge_cap=0)
        assert getattr(cc, "_local_label_rows", None) is None
