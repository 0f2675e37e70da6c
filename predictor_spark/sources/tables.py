"""Parquet table catalog for the driver-generated synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. Parquet scans get predicate pushdown + column
pruning from Catalyst for free — operators downstream must keep their
filters/projections expressible (no opaque UDF wrappers around filters).

Every table read goes through one reader, ``_read_parquet``, which
memoizes the schema Spark infers from the parquet footers: a repeat read
of an unchanged table plans with ``.schema(...)`` and starts no
schema-inference job.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canonical_ts(df: DataFrame, cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Normalize event-time columns to TIMESTAMP (LTZ) across the parquet
    layouts the generator has produced over time:
    - TIMESTAMP(NANOS) read as bigint via nanosAsLong -> floor to micros
      (same truncation DuckDB applies casting TIMESTAMP_NS -> TIMESTAMP);
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TIMESTAMP_NTZ -> cast
      (wall clock interpreted in the session TZ; sessions here run UTC,
      matching DuckDB's naive-timestamp reading bit-for-bit);
    - already TIMESTAMP -> untouched."""
    for field, dtype in df.dtypes:
        if field in cols:
            if dtype == "bigint":
                df = df.withColumn(field, F.timestamp_micros(F.expr(f"{field} div 1000")))
            elif dtype == "timestamp_ntz":
                df = df.withColumn(field, F.col(field).cast("timestamp"))
    return df


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Content fingerprint (mtime+size, recursive for directory parquet) of
    a source table, for keying derived /tmp fixtures: if the parquet at
    sf_dir is regenerated, every cache keyed with this moves, instead of
    silently serving stale chunks while the oracle reads fresh data
    (ADVICE r3)."""
    path = f"{sf_dir}/{name}.parquet"
    parts: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    else:
        st = os.stat(path)
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    return "|".join(parts)


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:12]


def fixture_dir(sf_dir: str, name: str, tag: str) -> str:
    """/tmp directory for the fixture ``tag`` derived from table ``name``
    at ``sf_dir``: ``<fixture key>/<generation>``, where the generation is
    keyed by the table's content fingerprint."""
    gen = _md5(table_fingerprint(sf_dir, name))
    return f"/tmp/predictor_spark_fixtures/{_md5(f'{sf_dir}/{name}/{tag}')}/{gen}"


def new_generation(d: str) -> None:
    """Clear the fixture dir ``d`` (from :func:`fixture_dir`) before it is
    staged, and remove the fixture's other generations: a regenerated
    table leaves no stale copy behind."""
    parent = os.path.dirname(d)
    for old in glob.glob(f"{parent}/*"):
        shutil.rmtree(old, ignore_errors=True)


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
#: the parquet read settings that change the schema Spark infers from a
#: footer; their session values are part of the schema memo's key
_SCHEMA_CONFS = (
    NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def read_nanos_as_long(spark: SparkSession) -> None:
    """Some generators write TIMESTAMP(NANOS) parquet (pandas
    datetime64[ns]), which Spark rejects by default; this lets those
    read as long for canonical_ts to convert."""
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
    except Exception:  # pragma: no cover - immutable conf on some builds
        pass


#: ten tables at a few scales; a rewritten table replaces its own entry,
#: and past the bound the oldest entry goes
MAX_SCHEMAS = 64
#: (absolute path, fingerprint, settings) -> inferred StructType.  It
#: holds metadata only: a memoized DataFrame would hand two reads the
#: same exprIds and break self-joins.  A StructType holds no JVM handle,
#: so one application's entry is valid in the next.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}
_memo_lock = threading.Lock()


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet`` of table ``name`` under nanosAsLong, with
    the schema from the memo when the table and the read settings are
    unchanged.  A path this process cannot stat (a remote store) is
    inferred on every read."""
    read_nanos_as_long(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (os.path.abspath(path), table_fingerprint(sf_dir, name),
               tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _memo_lock:
        # a rewritten table's older generations
        for stale in [k for k in _SCHEMA_MEMO
                      if k[0] == key[0] and k[1] != key[1]]:
            del _SCHEMA_MEMO[stale]
        while len(_SCHEMA_MEMO) >= MAX_SCHEMAS:
            del _SCHEMA_MEMO[next(iter(_SCHEMA_MEMO))]
        _SCHEMA_MEMO[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return canonical_ts(_read_parquet(spark, sf_dir, name))


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """Events table with a time-range predicate that reaches the parquet
    scan. The nanos->micros floor conversion is a projection, so a filter
    on the converted ``ts`` cannot push down (the scan reads every row
    group). But floor(ns/1000) < C  <=>  ns < C*1000, so the equivalent
    predicate on the RAW nanos column pushes into the scan and prunes row
    groups on their int64 min/max stats — the difference between scanning
    a day and scanning 100 TB. Bounds are ``lo <= ts < hi`` (UTC)."""
    from datetime import datetime, timezone

    df = _read_parquet(spark, sf_dir, "events")
    ts_type = dict(df.dtypes).get("ts")

    def ns(bound: str) -> int:
        dt = datetime.fromisoformat(bound).replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000) * 1000

    if ts_type == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
        if lo is not None:
            df = df.filter(F.col("ts") >= ns(lo))
        if hi is not None:
            df = df.filter(F.col("ts") < ns(hi))
    elif ts_type == "timestamp_ntz":
        # filter on the RAW NTZ column with an NTZ literal so the predicate
        # pushes into the scan (row-group pruning on the parquet stats);
        # filtering after the LTZ cast-projection would scan everything
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        if hi is not None:
            df = df.filter(F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
    else:  # plain TIMESTAMP
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            df = df.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
    return canonical_ts(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (so spark.sql can reference them)
    and return the DataFrame dict."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
