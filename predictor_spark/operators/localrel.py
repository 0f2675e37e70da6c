"""The bounded driver-side finish, in one home: every driver-side step
stays O(model), not O(data).  A plan collects one aggregate that is
bounded by design (``collect_bounded``, the only row fetch under
``plans/``, ``operators/`` and ``streaming/``; ``fetch_bounded`` is its
non-raising form for a caller with a distributed path past the bound),
finishes on the driver (``spark_round`` where Spark's rounding must be
replayed), and re-enters the result as a local relation (``local_df``,
the only way driver-side rows re-enter Spark).

``local_df`` checks and converts the rows on the driver and hands Spark
one ``pyarrow.Table``, so no action over the frame starts a Python
worker.  Up to ``spark.sql.execution.arrow.localRelationThreshold``
bytes of Arrow batches (``session.get_spark`` sets 256 KiB, ~8k rows of
four columns) it plans as a JVM ``LocalTableScan``, whose collect runs
no job; past it Spark ships the batches as an RDD, one partition per
``maxRecordsPerBatch`` rows.  Build plus one join-aggregate action at
local[4] on a 4-core VM, medians of 7 interleaved runs, for 47 / 20k /
100k / 300k / 1M rows of four columns: 0.27 / 0.33 / 0.83 / 1.61 /
5.53 s, against 0.35 / 0.40 / 0.97 / 1.66 / 5.16 s (quartiles 4.92-5.44)
for the one-slice Python RDD it replaced.  A float aggregate over the
frame may sum partials from several partitions, so every caller either
selects/joins per row, aggregates exact integers/decimals or rounds.
"""

from __future__ import annotations

import decimal

from pyspark.sql import DataFrame, SparkSession, types as T

# from the schema: a global aggregate (no groupBy) or a limit(1) is one row
ONE_ROW = 1


def fetch_bounded(df: DataFrame, max_rows: int) -> list:
    """Up to ``max_rows + 1`` rows of ``df``; more than ``max_rows``
    tells the caller the input is past its bound.

    It launches the same Spark jobs as ``.collect()``: a plain
    ``limit(n).collect()`` is Spark's incremental take (a second job
    when the first partition holds fewer than n rows), so the limited
    plan is read in one pass through ``.rdd``.  A frame that is itself
    a local relation (``isLocal()``) is limited and collected on the
    driver, with no job, as its ``.collect()`` is."""
    if df.isLocal():
        return df.limit(max_rows + 1).collect()
    return df.limit(max_rows + 1).rdd.collect()


def collect_bounded(df: DataFrame, max_rows: int, what: str) -> list:
    """``df.collect()`` that fetches at most ``max_rows + 1`` rows
    (:func:`fetch_bounded`) and raises ``ValueError`` naming ``what``
    and the bound past it."""
    rows = fetch_bounded(df, max_rows)
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
    """``spark.createDataFrame(rows, schema)`` built from one
    ``pyarrow.Table``.  ``rows``: tuples, lists, dicts or ``Row``s;
    ``schema``: DDL string or StructType.  Each row passes
    createDataFrame's type verifier (a bad value raises here) and its
    ``toInternal`` conversion (a naive datetime reads in the process's
    local zone), both on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    verify = T._make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*internal)) or [()] * len(schema.fields)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema), schema)
