"""CSV sources with the reference's exact compat semantics (SURVEY §2.1).

S1 (app/data_handler.py:12-77): optional headers (headerless files get
synthetic col_{i} names), case-insensitive DATE_TIME detection, duplicate
date-column drop, every non-date column coerced to numeric with NaN -> 0,
head-N row limit.

Engine notes:
- NaN->0 is a lossy reference semantic; it is applied only when
  ``compat_fillna=True`` (default True to match S1), otherwise nulls
  survive for explicit handling (SURVEY §7 "What's hard").
- head-N: pandas nrows= takes the FILE head. Spark `.limit(n)` on a CSV
  scan is likewise pushed to the scan (LimitPushDown) and with a single
  input file reads the same leading rows. For multi-file reads the notion
  of "file order" is undefined — callers at scale should filter by key,
  not head-N (kept for compat only).
- S2's split-family loader returns one DataFrame per split plus a stacked
  frame with a `split` literal column — splits are files, never random
  (preprocessor_plugins/helpers.py:13-20).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

#: S2 extension whitelist (preprocessor_plugins/helpers.py:23-57)
ALLOWED_EXTENSIONS = (".csv", ".tsv", ".txt")

SPLIT_KEYS = ("x_train", "y_train", "x_val", "y_val", "x_test", "y_test")


def _find_date_col(cols: list[str]) -> str | None:
    # case-insensitive DATE_TIME detection (app/data_handler.py:39)
    for c in cols:
        if c.lower() == "date_time":
            return c
    return None


def load_csv(
    spark: SparkSession,
    path: str,
    headers: bool = True,
    max_rows: int | None = None,
    compat_fillna: bool = True,
) -> DataFrame:
    """S1 — CSV scan with reference-compat coercions.

    Returns a DataFrame with a ``DATE_TIME`` timestamp column (if present)
    and double columns for everything else.
    """
    sep = "\t" if path.endswith(".tsv") else ","
    df = spark.read.csv(path, header=headers, inferSchema=False, sep=sep)
    if not headers:
        # synthetic col_{i} names (app/data_handler.py:59-60)
        df = df.toDF(*[f"col_{i}" for i in range(len(df.columns))])
    date_col = _find_date_col(df.columns)
    out_cols = []
    seen_date = False
    for c in df.columns:
        if date_col is not None and c.lower() == "date_time":
            if seen_date:
                continue  # drop duplicate date columns (data_handler.py:46-51)
            seen_date = True
            # try_to_timestamp == pd.to_datetime(errors='coerce') under ANSI mode
            out_cols.append(F.try_to_timestamp(F.col(c)).alias("DATE_TIME"))
        else:
            # try_cast == pd.to_numeric(errors='coerce'); ANSI cast would throw
            num = F.col(c).try_cast("double")
            if compat_fillna:
                # ... .fillna(0) (data_handler.py:62-64)
                num = F.coalesce(num, F.lit(0.0))
            out_cols.append(num.alias(c))
    df = df.select(*out_cols)
    if max_rows is not None:
        df = df.limit(int(max_rows))
    return df


def load_split_family(
    spark: SparkSession,
    config: dict,
    headers: bool = True,
    compat_fillna: bool = True,
) -> dict[str, DataFrame]:
    """S2 — load up to 6 split CSVs keyed x_train/.../y_test, honoring
    max_steps_{split} caps and the extension whitelist; auto-recovers a CSV
    path embedded in a mistakenly-passed JSON config
    (preprocessor_plugins/helpers.py:6-86)."""
    out: dict[str, DataFrame] = {}
    for key in SPLIT_KEYS:
        path = config.get(f"{key}_file")
        if not path:
            continue
        path = _auto_recover_path(path)
        if not path.endswith(ALLOWED_EXTENSIONS):
            raise ValueError(f"unsupported extension for {key}: {path}")
        split = key.split("_", 1)[1]  # train/val/test
        cap = config.get(f"max_steps_{split}")
        out[f"{key}_df"] = load_csv(spark, path, headers=headers, max_rows=cap,
                                    compat_fillna=compat_fillna)
    return out


def stack_splits(dfs: dict[str, DataFrame]) -> DataFrame:
    """Union the x_* split frames into one DataFrame with a `split` literal
    column — the engine-native layout (one table, split partition column,
    SURVEY §1.1)."""
    parts = []
    for key, df in dfs.items():
        if not key.startswith("x_"):
            continue
        split = key[2:].replace("_df", "")
        parts.append(df.withColumn("split", F.lit(split)))
    if not parts:
        raise ValueError("no x_* splits to stack")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _auto_recover_path(path: str) -> str:
    """S2 auto-recovery: if ``path`` is actually a JSON config file, pull
    the first *_file entry ending in an allowed extension out of it
    (preprocessor_plugins/helpers.py:23-57)."""
    if not path.endswith(".json") or not os.path.exists(path):
        return path
    try:
        with open(path) as fh:
            blob = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return path
    if isinstance(blob, dict):
        for v in blob.values():
            if isinstance(v, str) and v.endswith(ALLOWED_EXTENSIONS):
                return v
    return path
