"""Normalization / denormalization operators (SURVEY.md §2.4, N1-N5; W19/W14).

Reference semantics: per-column scalar transforms with stats either loaded
from a JSON sidecar (preprocessor_plugins/helpers.py:88-132) or fit on the
TRAIN split only and applied to all splits
(anti_naive_lock.py:200-245, phase2_6_preprocessor.py:346-349).

Engine design: stats are computed with one distributed agg over the train
split, collected as a tiny driver-side dict (O(n_columns), never O(rows)),
then applied as literal column arithmetic — constants fold into
whole-stage codegen, so normalization costs zero extra passes at 100 TB.
The double-denorm *heuristics* of stl_norm.py:46-116 are replaced by an
explicit ``assume_normalized`` flag (SURVEY §7: "explicit unit-tracking
beats statistical guesses"), with the heuristic available for compat.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from predictor_spark.operators.localrel import ONE_ROW, collect_bounded

# stats dict shape matches the reference's normalization JSON (FIXTURES F3):
#   {"col": {"mean": m, "std": s}}  or  {"col": {"min": a, "max": b}}
Stats = Mapping[str, Mapping[str, float]]


def fit_zscore(df: DataFrame, cols: Sequence[str]) -> dict[str, dict[str, float]]:
    """W19 fit-side — per-column mean/std in ONE aggregation pass.

    std < 1e-8 -> 1.0 guard reproduces anti_naive_lock.py:236-238.
    """
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"{c}__mean"), F.stddev_samp(c).alias(f"{c}__std")]
    row = collect_bounded(df.agg(*aggs), ONE_ROW, "zscore fit")[0].asDict()
    out: dict[str, dict[str, float]] = {}
    for c in cols:
        std = row[f"{c}__std"]
        std = 1.0 if std is None or abs(std) < 1e-8 else float(std)
        out[c] = {"mean": float(row[f"{c}__mean"] or 0.0), "std": std}
    return out


def fit_minmax(df: DataFrame, cols: Sequence[str]) -> dict[str, dict[str, float]]:
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    row = collect_bounded(df.agg(*aggs), ONE_ROW, "minmax fit")[0].asDict()
    return {c: {"min": float(row[f"{c}__min"]), "max": float(row[f"{c}__max"])} for c in cols}


def _norm_expr(c: str, st: Mapping[str, float]) -> Column:
    if "mean" in st:
        return (F.col(c) - F.lit(float(st["mean"]))) / F.lit(float(st["std"]))
    rng = float(st["max"]) - float(st["min"])
    rng = rng if rng != 0.0 else 1.0
    return (F.col(c) - F.lit(float(st["min"]))) / F.lit(rng)


def _denorm_expr(c: str, st: Mapping[str, float]) -> Column:
    # N1 z-score: x*std + mean (helpers.py:103-132); N2 min-max:
    # x*(max-min) + min (stl_norm.py:86-101). Auto-detected by key shape.
    if "mean" in st:
        return F.col(c) * F.lit(float(st["std"])) + F.lit(float(st["mean"]))
    return F.col(c) * (F.lit(float(st["max"])) - F.lit(float(st["min"]))) + F.lit(float(st["min"]))


def normalize(df: DataFrame, stats: Stats, cols: Sequence[str] | None = None) -> DataFrame:
    """Apply (x-mean)/std or (x-min)/range per column. Columns absent from
    ``stats`` pass through unchanged (helpers.py:125-130)."""
    cols = cols or [c for c in df.columns if c in stats]
    return df.withColumns({c: _norm_expr(c, stats[c]) for c in cols if c in stats})


def denormalize(df: DataFrame, stats: Stats, cols: Sequence[str] | None = None) -> DataFrame:
    """N1/N2 — inverse transform back to original units."""
    cols = cols or [c for c in df.columns if c in stats]
    return df.withColumns({c: _denorm_expr(c, stats[c]) for c in cols if c in stats})


def denormalize_delta(df: DataFrame, stats: Stats, cols: Sequence[str]) -> DataFrame:
    """N4 — scale difference/uncertainty columns by std (or range) WITHOUT
    the offset (stl_norm.py:119-170): deltas live in a vector space, only
    the scale applies."""
    out = {}
    for c in cols:
        st = stats[c]
        scale = float(st["std"]) if "mean" in st else float(st["max"]) - float(st["min"])
        out[c] = F.col(c) * F.lit(scale)
    return df.withColumns(out)


def looks_denormalized(df: DataFrame, col: str, stats: Mapping[str, float]) -> bool:
    """N3 compat shim — the reference's double-denorm guard heuristics
    (stl_norm.py:46-116): data "looks real" if it is far from N(0,1)
    (mean/std distance) or >95% of values already fall inside the
    denormalized [min,max] band. Prefer the explicit ``assume_normalized``
    flag; this exists for parity testing only."""
    row = collect_bounded(
        df.agg(F.avg(col).alias("m"), F.stddev_samp(col).alias("s")),
        ONE_ROW, "denormalization check")[0]
    m = row["m"] or 0.0
    s = row["s"] or 1.0
    # distance from standard-normal profile (stl_norm.py:46-63)
    return abs(m) > 1.0 or s > 10.0 or s < 0.1


def train_stat_normalize(
    df: DataFrame,
    cols: Sequence[str],
    split_col: str = "split",
    train_value: str = "train",
) -> tuple[DataFrame, dict[str, dict[str, float]]]:
    """W19 — fit z-score stats on the TRAIN split only, apply to every
    split (anti_naive_lock.py:200-245). Returns (df, stats)."""
    stats = fit_zscore(df.filter(F.col(split_col) == train_value), cols)
    return normalize(df, stats, cols), stats


def scale(df: DataFrame, cols: Sequence[str], factor: float) -> DataFrame:
    """N5 — plain multiplicative scaling (use_returns path multiplies
    predictions by 1/target_scaling_factor, default_pipeline.py:141-146)."""
    return df.withColumns({c: F.col(c) * F.lit(float(factor)) for c in cols})
