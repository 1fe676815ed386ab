"""Driver-held rows as TRUE LocalRelations (r18).

``spark.createDataFrame(list_of_rows, schema)`` parallelizes into a
LogicalRDD — every downstream broadcast build or collect then runs a
(defaultParallelism-task) Spark job over it, and the optimizer treats
it as an opaque scan. The pandas+Arrow path instead lands under
``spark.sql.execution.arrow.pyspark.enabled`` +
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB default) as
a genuine LocalRelation: broadcast builds collect driver-side with zero
Spark jobs, projections/filters over it constant-fold
(ConvertToLocalRelation), and Catalyst plans a leaf instead of an RDD
scan. Control-plane code that has ALREADY collected a bounded row set
(merge planners, union-find labels, MV commit batches) uses these
helpers to hand the rows back without re-entering the cluster."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def is_local_rel(df: DataFrame) -> bool:
    """True when ``df`` optimizes to a bare LocalRelation — a frame the
    driver already holds in full. Persisting such a frame is
    counterproductive (the cache registration turns later job-free
    collects/broadcast builds into InMemoryRelation materialization
    jobs), so commit-path persist() calls skip it. ``optimizedPlan`` is
    a cached lazy val on the JVM side: for a real DAG this does no work
    the first action would not do anyway."""
    try:
        return (
            df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LocalRelation"
        )
    except Exception:
        return False


def local_df(spark: SparkSession, rows, schema: T.StructType) -> DataFrame | None:
    """Rows (tuples/Rows, positionally matching ``schema``) → a TRUE
    LocalRelation frame, or ``None`` when the conversion cannot be done
    safely (callers keep their distributed frame — correctness never
    depends on this). Columns convert through dtype=object pandas
    Series so None/ints/Decimals/arrays survive untouched; callers pass
    values collected from a frame with this exact schema, so types
    match by construction."""
    def _has_nan(v) -> bool:
        # pandas/Arrow treat a float NaN as MISSING — the conversion
        # would silently turn it into NULL, and Spark's join semantics
        # differ (NaN equi-matches NaN; NULL matches nothing). A NaN
        # anywhere in the rows refuses the conversion; the caller's
        # distributed frame keeps the exact semantics. (pinned by
        # TestMtablePartitionNanValue — a NaN partition delete.)
        if isinstance(v, float):
            return v != v
        if isinstance(v, (list, tuple)):
            return any(_has_nan(x) for x in v)
        if isinstance(v, dict):  # map columns collect as dicts
            return any(_has_nan(k) or _has_nan(x) for k, x in v.items())
        return False

    try:
        import pandas as pd

        names = [f.name for f in schema.fields]
        if any(_has_nan(v) for r in rows for v in r):
            return None
        if not rows:
            # the Arrow path needs at least one batch — a one-row
            # all-None frame folded through limit(0) lands as an EMPTY
            # LocalRelation (ConvertToLocalRelation evaluates the limit)
            pdf = pd.DataFrame(
                {n: pd.Series([None], dtype="object") for n in names},
                columns=names,
            )
            df = spark.createDataFrame(pdf, schema).limit(0)
            return df if is_local_rel(df) else None
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in rows], dtype="object")
                for i, n in enumerate(names)
            },
            columns=names,
        )
        df = spark.createDataFrame(pdf, schema)
        # verify on the LOGICAL plan (the Arrow local-relation path
        # lands there directly; an RDD fallback lands as LogicalRDD) —
        # ~1 ms, vs ~15 ms for an optimizedPlan round (r18)
        if (
            df._jdf.queryExecution().logical().getClass().getSimpleName()
            == "LocalRelation"
        ):
            return df
        return None
    except Exception:
        return None
