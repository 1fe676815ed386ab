"""The lakehouse workload: the repo's own commit cycle, ``q_mtable_mv``,
plus a trickle of the same commits on a long-lived table.

Every size comes from ``q_mtable_mv`` (plans/lakehouse.py), the gate
query that builds an mtable from ``customer``, puts a count/sum/avg/
min/max-by-nation view over it, and makes one merge-on-read
``mtable_merge(deletes=)`` commit followed by ``mv_refresh``:

* the input is a seeded ``customer`` table of ``CUSTOMERS`` rows, the
  gate fixture's sf0.1 size, with TPC-H's shape: 25 nations and account
  balances uniform in [-999.99, 9999.99], two decimals. It is written
  as parquet, so the query's own builder reads it;
* the base table is ``(ckey, g, bal)`` with ``bal`` in cents, created
  with ``repartition(4, "ckey")``, and the view has the query's
  aggregates;
* one commit updates 1 in 53 live keys (``bal + 700``), inserts 1 in
  211 (a copy of a live row with ``bal = 9900``) and deletes 1 in 89
  of the rest, in one MOR merge. Where the query picks keys by modulus,
  the seed picks them here, so successive commits touch fresh keys.

One cycle is the query itself, run through its registry builder and
checked against its DuckDB oracle, then ``ROUNDS`` rounds on the
long-lived table of one commit, one latest-version read (count and sum)
and one ``mv_refresh``, then one ``mtable_compact``: so the compaction's
cost is spread over the rounds it serves. A pandas model of the applied
batches checks every read and, after each refresh, the whole view.
"""

from __future__ import annotations

import io
import os
import statistics

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gateload import load_selfcheck, oracle_hash
from spans import layer_self_s
from w4h_etl_container_spark.pipeline import mtable, mview

CUSTOMERS = 15_000
NATIONS = 25
UPDATE_EVERY, INSERT_EVERY, DELETE_EVERY = 53, 211, 89
UPDATE_ADD, INSERT_BAL = 700.0, 9900.0
ROUNDS = 2
QUERY = "q_mtable_mv"
VIEW_AGGS = {
    "n": ("count", "*"),
    "sb": ("sum", "bal"),
    "ab": ("avg", "bal"),
    "mnb": ("min", "bal"),
    "mxb": ("max", "bal"),
}


def files_under(path: str) -> dict[str, int]:
    """Path -> bytes of every file under ``path``, checksum sidecars and
    success markers left out."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f == "_SUCCESS":
                continue
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def seeded_customer(rng: np.random.Generator) -> pd.DataFrame:
    """The columns of ``customer`` that ``q_mtable_mv`` reads."""
    return pd.DataFrame({
        "c_custkey": np.arange(CUSTOMERS, dtype="int64"),
        "c_nationkey": rng.integers(0, NATIONS, CUSTOMERS).astype("int32"),
        "c_acctbal": rng.integers(-99_999, 1_000_000, CUSTOMERS) / 100.0,
    })


class LakeWorkload:
    def __init__(self, ctx):
        from w4h_etl_container_spark.plans.registry import load_all

        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        q = load_all()[QUERY]
        self.query = ctx.tracer.wrap(q.fn, f"plans.{QUERY}", "plans")
        self.query_sql = q.sql

    def setup(self, rec) -> None:
        import duckdb

        spark = self.ctx.spark
        self.sf_dir = self.ctx.mkdtemp("customer-")
        cust = seeded_customer(self.rng)
        path = os.path.join(self.sf_dir, "customer.parquet")
        cust.to_parquet(path, index=False)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}')")
        self.oracle = oracle_hash(con, self.query_sql)
        con.close()

        d = self.ctx.mkdtemp("lake-")
        self.table, self.view = os.path.join(d, "table"), os.path.join(d, "view")
        self.model = pd.DataFrame({
            "ckey": cust["c_custkey"],
            "g": cust["c_nationkey"],
            "bal": np.round(cust["c_acctbal"] * 100),
        })
        self.next_key = CUSTOMERS
        base = spark.read.parquet(path).select(
            F.col("c_custkey").alias("ckey"),
            F.col("c_nationkey").alias("g"),
            F.round(F.col("c_acctbal").cast("double") * 100).alias("bal"),
        )
        mtable.mtable_create(spark, base.repartition(4, "ckey"), self.table)
        mview.mv_create(spark, self.view, self.table, group_by="g", aggs=VIEW_AGGS, key="ckey")
        self.cycle(rec, rounds=1)  # warm-up: every op once

    # -- one cycle ---------------------------------------------------------
    def cycle(self, rec, rounds: int = ROUNDS) -> None:
        self._query(rec)
        for _ in range(rounds):
            self._round(rec)
        spark = self.ctx.spark
        _, _, row = rec.op("lake.compact", lambda: mtable.mtable_compact(spark, self.table))
        if row is not None:
            row["mtable.compact_s"] = self._span_wall("mtable.compact")

    def _query(self, rec) -> None:
        """``q_mtable_mv`` through its registry builder, collected."""
        selfcheck = load_selfcheck()

        def run():
            df = self.query(self.ctx.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        def check(out):
            got = selfcheck.canon_hash(*out)
            return [] if got == self.oracle else [f"{QUERY}: hash {got}, oracle {self.oracle}"]

        _, _, row = rec.op("lake.query", run, check=check)
        if row is not None:
            row["plans.build_s"] = layer_self_s(self.ctx.tracer, self.ctx.tracer.last_op, "plans")

    def _round(self, rec) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        m = self.model
        n = len(m)
        pick = self.rng.permutation(m["ckey"].to_numpy())
        upd_keys = pick[: n // UPDATE_EVERY]
        del_keys = pick[n // UPDATE_EVERY: n // UPDATE_EVERY + n // DELETE_EVERY]
        upd = m[m["ckey"].isin(upd_keys)].assign(bal=lambda d: d["bal"] + UPDATE_ADD)
        src = m.iloc[self.rng.choice(n, n // INSERT_EVERY, replace=False)]
        ins = pd.DataFrame({
            "ckey": np.arange(self.next_key, self.next_key + len(src), dtype="int64"),
            "g": src["g"].to_numpy(),
            "bal": INSERT_BAL,
        })
        batch = pd.concat([upd, ins], ignore_index=True)
        dels = pd.DataFrame({"ckey": del_keys.astype("int64")})

        def commit():
            return mtable.mtable_merge(
                spark, self.table, spark.createDataFrame(batch), key="ckey",
                deletes=spark.createDataFrame(dels), mode="mor",
            )

        before = files_under(self.table) if tracer.enabled else None
        ok, man, row = rec.op("lake.commit", commit)
        if ok:
            self.next_key += len(ins)
            kept = m[~m["ckey"].isin(upd_keys) & ~m["ckey"].isin(del_keys)]
            self.model = pd.concat([kept, batch], ignore_index=True)
            self._commit_metrics(row, before, man, batch, dels)

        def read():
            df = mtable.mtable_read(spark, self.table)
            with tracer.span("spark.read_agg", "spark"):
                got = df.agg(F.count(F.lit(1)).alias("n"), F.sum("bal").alias("s")).collect()[0]
            return df, got

        ok, out, row = rec.op("lake.read", read, check=self.check_read)
        if row is not None:
            # Merge-on-read: the read scans every live data file and
            # anti-joins every deletion-vector file the manifest lists.
            man = mtable.read_manifest(self.table)
            dvs = {f for fs in (man.get("dv") or {}).values() for f in fs}
            row["mtable.read_files_frac"] = (len(out[0].inputFiles()) + len(dvs)) / len(man["files"])

        ok, rep, row = rec.op(
            "lake.refresh", lambda: mview.mv_refresh(spark, self.view), check=self.check_view
        )
        if row is not None:
            touched = rep.get("groups_upserted", 0) + rep.get("groups_deleted", 0)
            row["mview.refresh_jobs"] = self._jobs()
            row["mview.recompute_frac"] = rep.get("groups_recomputed", 0) / touched if touched else 0.0

    # -- checks --------------------------------------------------------------
    def check_read(self, out) -> list[str]:
        _, got = out
        want_n, want_s = len(self.model), float(self.model["bal"].sum())
        if got["n"] != want_n or got["s"] != want_s:
            return [f"read count/sum {got['n']}/{got['s']}, model {want_n}/{want_s}"]
        return []

    def check_view(self, rep) -> list[str]:
        cols = ["g", *VIEW_AGGS]
        got = mview.mv_read(self.ctx.spark, self.view).toPandas()
        got = got.sort_values("g", ignore_index=True)[cols].astype("float64")
        want = (
            self.model.groupby("g")["bal"]
            .agg(n="count", sb="sum", ab="mean", mnb="min", mxb="max").reset_index()
            .sort_values("g", ignore_index=True)[cols].astype("float64")
        )
        if got.shape == want.shape and np.allclose(got.to_numpy(), want.to_numpy(), rtol=1e-12, atol=0):
            return []
        diff = got.merge(want, on="g", how="outer", suffixes=("_view", "_model"))
        return [f"view differs from the model: {diff.head(3).to_dict('records')}"]

    # -- per-layer metrics -----------------------------------------------------
    def _spans(self):
        return self.ctx.tracer.op_spans(self.ctx.tracer.last_op)

    def _span_wall(self, name: str) -> float:
        return sum(s.wall for s in self._spans() if s.name == name)

    def _jobs(self) -> int:
        return len({j for s in self._spans() for j in s.jobs})

    def _commit_metrics(self, row, before, man, batch: pd.DataFrame, dels: pd.DataFrame) -> None:
        if row is None:
            return
        after = files_under(self.table)
        new = {p: n for p, n in after.items() if p not in before}
        meta = [p for p in new if f"{os.sep}_manifests{os.sep}" in p]
        written = 0
        for df in (batch, dels):
            buf = io.BytesIO()
            df.to_parquet(buf, index=False)
            written += buf.getbuffer().nbytes
        row["mtable.merge_s"] = self._span_wall("mtable.merge")
        row["mtable.jobs_per_commit"] = self._jobs()
        row["mtable.files_written_per_commit"] = len(new) - len(meta)
        row["mtable.manifest_kb"] = sum(new[p] for p in meta) / 1e3
        row["mtable.live_files"] = len(man["files"])
        row["mtable.write_amp"] = sum(new.values()) / written

    def report(self, rec) -> dict:
        s = rec.samples

        def p50(kind):
            xs = s.get(kind, [])
            return statistics.median(xs) if xs else None

        return {
            "lake.query_p50_s": (p50("lake.query"), "s"),
            "lake.commit_p50_s": (p50("lake.commit"), "s"),
            "lake.read_p50_s": (p50("lake.read"), "s"),
            "lake.refresh_p50_s": (p50("lake.refresh"), "s"),
        }
