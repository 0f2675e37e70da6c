"""Round-14 swapped-out reference plans — NOT registered, NOT
imported by any catalog module (as proto_r13.py).

r14 status: the a8_mmd cache swap LANDED in the live row
(plans/catalog_analytics.py) — the three pairwise-kernel aggregates
now share the two cached <= |events|/97 subsample frames instead of
re-expanding an un-cached filter per consumer (six full events scans
at runtime for a 1 % subsample; event_id % 97 is not a pushable
predicate, so every scan read the whole file; sf1 cold 3.12 ->
1.39 s).  This module keeps the PRE-SWAP uncached plan
(`a8_mmd_uncached` below) verbatim, so the equality pin in
tests/test_r14_prototypes.py compares two genuinely different
physical plans — the same evidence standard as proto_r13's
`*_window` archives — instead of a plan against itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import _t


def a8_mmd_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 registered a8_mmd plan, verbatim: deterministic
    event_id % 97 subsample with NO cache on the x / y frames, so the
    kxx / kyy / kxy aggregates each re-expand both sides — six full
    events scans.  Kept as the genuine-different-plan pin partner for
    the cached live row."""
    ev = _t(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_id") % 97 == 0)
    x = sub.filter(F.col("event_type") == "click").select(F.col("value").alias("xv"))
    y = sub.filter(F.col("event_type") == "purchase").select(F.col("value").alias("yv"))

    def k(a, b):
        return F.exp(-((a - b) * (a - b)) / F.lit(200.0))

    kxx = x.crossJoin(x.select(F.col("xv").alias("xv2"))).agg(F.avg(k(F.col("xv"), F.col("xv2"))).alias("v"))
    kyy = y.crossJoin(y.select(F.col("yv").alias("yv2"))).agg(F.avg(k(F.col("yv"), F.col("yv2"))).alias("v"))
    kxy = x.crossJoin(y).agg(F.avg(k(F.col("xv"), F.col("yv"))).alias("v"))
    return (
        kxx.select(F.col("v").alias("kxx"))
        .crossJoin(kyy.select(F.col("v").alias("kyy")))
        .crossJoin(kxy.select(F.col("v").alias("kxy")))
        .select((F.round(F.col("kxx") + F.col("kyy") - 2 * F.col("kxy"), 6) + F.lit(0.0)).alias("mmd2"))
    )
