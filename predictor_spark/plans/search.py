"""Hyperparameter search fan-out — the M4 slice (SURVEY §2.11 / §3.2).

The reference's GA/NEAT optimizers evaluate candidates in subprocesses
(optimizer_plugins/default_optimizer.py:439-571: one process per candidate
for crash/memory isolation, fitness parsed back from JSON). The Spark
analog keeps the driver-side generational loop (inherently sequential
across generations) but evaluates each GENERATION's candidates as
concurrent Spark jobs via a thread pool — executor task isolation replaces
subprocess isolation, and a crashed candidate maps to inf fitness exactly
like the reference.

Fitness mirrors candidate_worker.py:344-359:
    0.4*(train_mae - train_naive) + 0.6*(val_mae - val_naive)
    + penalty: +delta if train_delta > 0, +2*delta if val_delta > 0
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.operators.localrel import ONE_ROW, collect_bounded

# from the schema: the scored frame splits into a val and a holdout slice
_SLICES = 2


def candidate_fitness(train_mae: float, train_naive: float,
                      val_mae: float, val_naive: float) -> float:
    """GA fitness A12 (candidate_worker.py:344-359)."""
    train_delta = train_mae - train_naive
    val_delta = val_mae - val_naive
    fitness = 0.4 * train_delta + 0.6 * val_delta
    if train_delta > 0:
        fitness += train_delta
    if val_delta > 0:
        fitness += 2 * val_delta
    return fitness


@dataclass
class SearchResult:
    best_params: dict
    best_fitness: float
    history: list[dict] = field(default_factory=list)


def evaluate_candidates(
    candidates: Sequence[dict],
    evaluate: Callable[[dict], float],
    max_parallel: int = 8,
) -> list[float]:
    """Evaluate one generation concurrently. Each callable launches its own
    Spark jobs (Spark schedules them FIFO across the shared executors —
    the cluster-level analog of the reference's subprocess pool). A raised
    exception -> inf fitness (default_optimizer.py:560-574 crash rule)."""
    def safe(params: dict) -> float:
        try:
            return float(evaluate(params))
        except Exception:  # noqa: BLE001 - crash isolation, like the reference
            return math.inf

    with ThreadPoolExecutor(max_workers=max_parallel) as pool:
        return list(pool.map(safe, candidates))


def _is_int(lo, hi) -> bool:
    """An integer search dimension: both bounds are ints."""
    return isinstance(lo, int) and isinstance(hi, int)


def _params_key(params: dict) -> str:
    """Canonical identity of a candidate for resume de-duplication."""
    return json.dumps(params, sort_keys=True, default=str)


def save_search_checkpoint(path: str, history: list[dict],
                           best_params: dict, best_fitness: float) -> None:
    """Write the search state as JSON after each generation (reference:
    resume_operations.py save_resume_checkpoint — generation counter,
    population with fitness, optimizer_state best-so-far). Written
    atomically (tmp + rename) so a crash mid-write never corrupts the
    resumable state. Driver-side by design: checkpoints are tiny metadata,
    not data-plane state."""
    state = {
        "generation": len(history),
        "history": history,
        "optimizer_state": {
            "best_params": best_params,
            "best_fitness": None if math.isinf(best_fitness) else best_fitness,
        },
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def load_search_checkpoint(path: str) -> dict | None:
    """Load a checkpoint if present (reference: load_resume_checkpoint).
    Returns None when absent/unreadable — the search then starts fresh,
    matching the reference's fall-through behavior."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def append_meta_log(path: str, entries: list[dict]) -> None:
    """Append one CSV row per evaluated candidate (reference:
    modules/meta_logger.py:57-176 — every candidate logged with params +
    fitness for post-hoc analysis). Header written once; params are
    flattened into sorted columns, fitness last."""
    import csv

    if not entries:
        return
    keys = sorted({k for e in entries for k in e["params"]})
    new_file = not os.path.exists(path)
    with open(path, "a", newline="") as f:
        w = csv.writer(f)
        if new_file:
            w.writerow([*keys, "fitness"])
        for e in entries:
            w.writerow([*[e["params"].get(k, "") for k in keys], e["fitness"]])


def grid_search(
    grid: Sequence[dict],
    evaluate: Callable[[dict], float],
    max_parallel: int = 8,
    patience: int | None = None,
    checkpoint_path: str | None = None,
    meta_log_path: str | None = None,
) -> SearchResult:
    """Deterministic grid/staged search with optional early stopping on
    no-improvement patience (default_optimizer.py:595-715 champion
    tracking) and optional checkpoint/resume: with ``checkpoint_path``,
    state is saved after every generation and already-evaluated candidates
    (matched on canonical params JSON) are skipped on restart — the
    reference's optimization_resume.json contract."""
    best_p: dict = {}
    best_f = math.inf
    history: list[dict] = []
    done: dict[str, float] = {}
    if checkpoint_path:
        state = load_search_checkpoint(checkpoint_path)
        if state:
            history = list(state["history"])
            for h in history:
                done[_params_key(h["params"])] = h["fitness"]
            opt = state.get("optimizer_state") or {}
            if opt.get("best_fitness") is not None:
                best_f = opt["best_fitness"]
                best_p = opt.get("best_params") or {}
    stale = 0
    batch = max(1, max_parallel)
    for i in range(0, len(grid), batch):
        gen = [p for p in grid[i:i + batch] if _params_key(p) not in done]
        if not gen:
            continue
        fits = evaluate_candidates(gen, evaluate, max_parallel)
        gen_entries = []
        for params, fit in zip(gen, fits):
            entry = {"params": params, "fitness": fit}
            history.append(entry)
            gen_entries.append(entry)
            if fit < best_f:
                best_f, best_p, stale = fit, params, 0
            else:
                stale += 1
        if meta_log_path:
            append_meta_log(meta_log_path, gen_entries)
        if checkpoint_path:
            save_search_checkpoint(checkpoint_path, history, best_p, best_f)
        if patience is not None and stale >= patience:
            break
    return SearchResult(best_p, best_f, history)


def ar_lag_search(
    spark: SparkSession,
    df: DataFrame,
    lags: Sequence[int] = (1, 2, 3, 6),
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    train_end: str = "2024-01-22 00:00:00",
    val_end: str = "2024-01-27 00:00:00",
    max_parallel: int = 4,
) -> SearchResult:
    """Concrete search: choose the AR horizon-lag minimizing the reference
    fitness on train/val slices. Each candidate = one AR(1) fit+score
    program (two aggregate passes); candidates run as parallel Spark jobs."""
    from predictor_spark.plans.ar_model import ar1_fit_predict

    df = df.select(series_col, ts_col, value_col).cache()
    df.count()  # materialize once; every candidate reuses the cached input

    def evaluate(params: dict) -> float:
        h = int(params["lag"])
        scored = ar1_fit_predict(df, value_col=value_col, ts_col=ts_col,
                                 series_col=series_col, train_end=train_end, horizon=h)
        scored = scored.withColumn(
            "slice",
            F.when(F.col(ts_col) < F.lit(val_end).cast("timestamp"), "val").otherwise("holdout"),
        )
        t, p, b = F.col(f"target_h{h}"), F.col("pred"), F.col("baseline")
        row = {
            r["slice"]: r
            for r in collect_bounded(scored.groupBy("slice").agg(
                F.avg(F.abs(p - t)).alias("mae"), F.avg(F.abs(b - t)).alias("naive"),
            ), _SLICES, "candidate val/holdout metrics")
        }
        val = row.get("val")
        if val is None:
            return math.inf
        # train metrics: same coefficients scored in-sample
        train_scored = ar1_fit_predict(
            df, value_col=value_col, ts_col=ts_col, series_col=series_col,
            train_end=train_end, horizon=h, eval_on="train",
        )
        tr = collect_bounded(train_scored.agg(
            F.avg(F.abs(F.col("pred") - F.col(f"target_h{h}"))).alias("mae"),
            F.avg(F.abs(F.col("baseline") - F.col(f"target_h{h}"))).alias("naive"),
        ), ONE_ROW, "candidate train metrics")[0]
        tr_mae = tr["mae"] if tr["mae"] is not None else math.inf
        tr_naive = tr["naive"] if tr["naive"] is not None else 0.0
        return candidate_fitness(tr_mae, tr_naive, val["mae"], val["naive"])

    return grid_search([{"lag": int(k)} for k in lags], evaluate, max_parallel=max_parallel)
