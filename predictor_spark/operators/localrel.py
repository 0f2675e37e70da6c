"""The bounded driver-side finish, in one home: every driver-side step
stays O(model), not O(data).  A plan collects one aggregate that is
bounded by design (``collect_bounded``, the only row fetch under
``plans/``, ``operators/`` and ``streaming/``), finishes on the driver
(``spark_round`` where Spark's rounding must be replayed), and re-enters
the result as a local relation (``local_df``).

``local_df`` builds ONE slice.  ``spark.createDataFrame(rows)``
parallelizes into ``defaultParallelism`` slices of a Python RDD, and
every action then pays one task and one Python-worker round-trip per
slice: measured at local[32], a 1-row frame cost ~0.58 s per noop
materialization against ~0.03 s in one slice.  The rows are the same
pickled values and keep their order; the only layout difference is one
partition instead of N, which matters ONLY to a float aggregation's
partial-sum grouping (every caller either selects/joins per row or
aggregates exact integers/decimals).
"""

from __future__ import annotations

import decimal

from pyspark.sql import DataFrame, SparkSession

# from the schema: a global aggregate (no groupBy) or a limit(1) is one row
ONE_ROW = 1


def collect_bounded(df: DataFrame, max_rows: int, what: str) -> list:
    """``df.collect()`` that fetches at most ``max_rows + 1`` rows and
    raises ``ValueError`` naming ``what`` and the bound past it.

    It launches the same Spark jobs as ``.collect()``: a plain
    ``limit(n).collect()`` is Spark's incremental take (a second job
    when the first partition holds fewer than n rows), so the limited
    plan is read in one pass through ``.rdd``."""
    rows = df.limit(max_rows + 1).rdd.collect()
    if len(rows) > max_rows:
        raise ValueError(f"{what}: more than {max_rows} rows; the input "
                         "no longer fits its bounded driver-side finish")
    return rows


def spark_round(x: float, dp: int) -> float:
    """EXACTLY Spark's ``round(double, dp)``: Spark routes doubles
    through scala BigDecimal(d) == java BigDecimal.valueOf(d), i.e. the
    SHORTEST decimal representation (Double.toString), then setScale
    HALF_UP.  Python's repr() is the same shortest round-trip decimal,
    so Decimal(repr(x)) reproduces the digit string Spark rounds —
    empirically pinned: round(lit(0.12345649999999999), 6) = 0.123457
    on Spark 4.1 and here (an exact-binary Decimal(x) would give
    0.123456)."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-dp), rounding=decimal.ROUND_HALF_UP))


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ONE-slice frame.

    ``rows``: a list (empty lists fall back to the plain path, which
    handles the no-partition edge).  ``schema``: DDL string or
    StructType, exactly as createDataFrame takes it.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
