"""The gate workload: the 50 ``load_all()`` queries, one at a time
through the noop sink, over an existing fixture directory.

The warm-up pass collects every query and compares its canonical hash
with the DuckDB oracle, using ``tools/selfcheck.py``'s canonicalisation;
a mismatch is a failed op. Each timed cycle is one pass in an order
drawn from the seed.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

from spans import layer_self_s

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def quantile_with_tail(xs: list[float], q: float, min_beyond: int = 10):
    """The q-quantile, or None unless at least ``min_beyond`` samples lie
    above it."""
    if not xs:
        return None
    v = statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]
    return v if sum(x > v for x in xs) >= min_beyond else None


def load_selfcheck():
    """``tools/selfcheck.py``, the oracle gate's canonicalisation."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    import selfcheck

    return selfcheck


def oracle_hash(con, sql: str) -> str:
    """The DuckDB side of selfcheck's comparison: materialise through
    pandas, narrow DATE columns back to dates, canonical hash."""
    selfcheck = load_selfcheck()

    rel = con.sql(sql)
    cols = rel.columns
    is_date = [str(t) == "DATE" for t in rel.types]
    rows = [
        tuple(
            selfcheck._from_pandas(v).date()
            if is_date[i] and v is not None and v == v and hasattr(v, "date")
            else selfcheck._from_pandas(v)
            for i, v in enumerate(row)
        )
        for row in rel.df().itertuples(index=False, name=None)
    ]
    return selfcheck.canon_hash(cols, rows)


class GateWorkload:
    def __init__(self, ctx):
        from w4h_etl_container_spark.plans.registry import load_all

        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.queries = {
            name: (ctx.tracer.wrap(q.fn, f"plans.{name}", "plans"), q.sql)
            for name, q in sorted(load_all().items())
        }
        self.passes: list[float] = []

    def setup(self, rec) -> None:
        import duckdb

        selfcheck = load_selfcheck()

        con = duckdb.connect()
        for t in selfcheck.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.sf_dir}/{t}.parquet')")
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        for name, (build, sql) in self.queries.items():
            def run(build=build):
                df = build(spark, sf)
                return df.columns, [tuple(r) for r in df.collect()]

            def check(out, sql=sql, name=name):
                if sql is None:
                    return []
                got, want = selfcheck.canon_hash(*out), oracle_hash(con, sql)
                return [] if got == want else [f"{name}: hash {got}, oracle {want}"]

            rec.op(f"gate.{name}", run, check=check)
        con.close()

    def cycle(self, rec) -> None:
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        tracer = self.ctx.tracer
        names = list(self.queries)
        ok_pass = True
        t0 = time.perf_counter()
        for i in self.rng.permutation(len(names)):
            build, _ = self.queries[names[i]]

            def run(build=build):
                df = build(spark, sf)
                with tracer.span("spark.noop_sink", "spark"):
                    df.write.format("noop").mode("overwrite").save()

            ok, _, row = rec.op("gate.query", run)
            ok_pass &= ok
            if row is not None:
                row["plans.build_s"] = layer_self_s(tracer, tracer.last_op, "plans")
        if ok_pass and rec.timed and not tracer.enabled:
            self.passes.append(time.perf_counter() - t0)

    def report(self, rec) -> dict:
        qs = rec.samples.get("gate.query", [])
        return {
            "gate.query_p50_s": (statistics.median(qs) if qs else None, "s"),
            "gate.query_p90_s": (quantile_with_tail(qs, 0.9), "s"),
            "gate.pass_s": (statistics.median(self.passes) if self.passes else None, "s"),
        }
