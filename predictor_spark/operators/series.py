"""Per-series numpy fan-out over Arrow — the one home for operators whose
work is a pure-numpy function of one series' rows in time order
(operators/stl.py, operators/prophet_like.py, operators/spectral.py).

Execution: an explicit hash repartition on the series key (one shuffle,
parallelism pinned to the worker count — groupBy alone lets AQE coalesce
the narrow shuffle to ~1 partition and serialize every series in one
worker), then ``groupBy(series).applyInArrow``. Each group arrives as a
``pyarrow.Table``; its columns become numpy arrays sorted by the time
column, the numpy ``core`` runs on them, and its columns go back as a
``pyarrow.Table``. No pandas frame is built on either side: the cost of
the boundary is the Arrow stream itself, not a per-group DataFrame round
trip (SCALING.md, "The Python boundary").

Memory: one group at a time, as with applyInPandas — a series must fit
in one Python worker.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

#: ``core(arrays) -> (rows, out)``: ``arrays`` maps each input column to
#: its numpy array in time order; ``rows`` indexes the sorted rows that
#: are emitted (``slice(None)`` for all of them) and ``out`` maps each
#: computed output column to its values for those rows. Output columns
#: that ``out`` does not name pass through from the input.
Core = Callable[[dict[str, np.ndarray]], tuple[object, dict[str, np.ndarray]]]


def to_numpy(col: pa.ChunkedArray) -> np.ndarray:
    """A column as numpy. A timestamp becomes ``datetime64[us]`` on the
    session's wall clock (Spark labels it with the session time zone), as
    Spark's pandas conversion gives it; a null double becomes NaN."""
    if pa.types.is_timestamp(col.type) and col.type.tz:
        col = pc.local_timestamp(col)
    return col.to_numpy()


def per_series(df: DataFrame, series_col: str, ts_col: str, cols: list[str],
               core: Core, schema: str) -> DataFrame:
    """Run ``core`` on every series of ``df`` (keyed by ``series_col``,
    ordered by ``ts_col``, carrying ``cols``) and return its rows in the
    DDL ``schema``. A passed-through timestamp keeps its instant; NaN in
    any double comes back NULL, as from applyInPandas."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from predictor_spark.shiplib import ensure_workers_can_import

    spark = df.sparkSession
    ensure_workers_can_import(spark)
    out_schema = to_arrow_schema(_parse_datatype_string(schema))

    def apply(tbl: pa.Table) -> pa.Table:
        arrays = {c: to_numpy(tbl.column(c)) for c in tbl.column_names}
        # the quicksort argsort pandas' sort_values runs: tied timestamps
        # order as a pandas replay of the core orders them
        order = np.argsort(arrays[ts_col], kind="quicksort")
        rows, out = core({c: a[order] for c, a in arrays.items()})
        picked = order[rows]
        return pa.Table.from_arrays([
            pa.array(out[f.name] if f.name in out
                     else tbl.column(f.name).to_numpy()[picked],
                     f.type, from_pandas=True)
            for f in out_schema], schema=out_schema)

    n_parts = spark.sparkContext.defaultParallelism
    return (
        df.select(series_col, ts_col, *cols)
        .repartition(n_parts, series_col)
        .groupBy(series_col)
        .applyInArrow(apply, schema)
    )
