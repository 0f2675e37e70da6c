"""Genetic-algorithm evolution operators over a hyperparameter bounds dict
— the engine's analog of the reference's DEAP toolbox registration
(optimizer_plugins/default_optimizer.py:72-88 bounds dict, :1259-1266
cxTwoPoint + per-gene int/Gaussian mutation + tournament-3), re-implemented
clean-room on top of the existing generation fan-out
(plans/search.py:evaluate_candidates — candidates of one generation run as
concurrent Spark jobs; a crashed candidate scores inf).

Spark topology: the generational loop is inherently sequential and lives
on the driver, but it only touches genomes + scalar fitnesses (KBs). ALL
data work happens inside the per-candidate evaluate callables, each a full
Spark program over the cluster. That split is exactly how a 100 TB search
runs: 10s of generations x 10s of candidates, each candidate a distributed
train/score job.

Determinism protocol (one shared numpy Generator, draw order is THE spec —
the pure-Python oracle in tests/test_ga.py replays it independently):
  0. genes are sorted(bounds) keys; int bounds (lo, hi) inclusive, floats
     uniform [lo, hi)
  1. init: per individual, per gene: int -> rng.integers(lo, hi+1),
     float -> rng.uniform(lo, hi)
  2. per generation:
     a. evaluate individuals WITHOUT a valid fitness, in population order
        (repeat genomes are served from a cache, not re-evaluated)
     b. tournament-3 selection of N slots: per slot draw
        rng.integers(0, N, size=3); winner = lowest fitness, ties to the
        earliest aspirant drawn
     c. two-point crossover on pairs (0,1),(2,3),...: if rng.random() <
        cxpb: a = rng.integers(1, size+1), b = rng.integers(1, size);
        if b >= a: b += 1 else swap(a, b); swap genes [a:b] (the DEAP
        cxTwoPoint index law); both children lose their fitness
     d. mutation per individual: if rng.random() < mutpb: per gene: if
        rng.random() < indpb: int -> rng.integers(lo, hi+1); float ->
        clip(g + rng.normal(0, 0.1*(hi-lo)), lo, hi); fitness dropped
  3. champion tracking + optional no-improvement patience, checkpoint and
     meta-log via plans/search.py helpers.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Mapping, Sequence

import numpy as np

import json
import os

from predictor_spark.plans.search import (
    SearchResult,
    _is_int,
    _params_key,
    append_meta_log,
    evaluate_candidates,
    load_search_checkpoint,
)

Bounds = Mapping[str, tuple[float, float]]


def _gene_keys(bounds: Bounds) -> list[str]:
    return sorted(bounds)


def init_population(rng: np.random.Generator, bounds: Bounds, n: int) -> list[list]:
    pop = []
    for _ in range(n):
        ind = []
        for k in _gene_keys(bounds):
            lo, hi = bounds[k]
            ind.append(int(rng.integers(lo, hi + 1)) if _is_int(lo, hi)
                       else float(rng.uniform(lo, hi)))
        pop.append(ind)
    return pop


def tournament_select(rng: np.random.Generator, pop: list[list],
                      fits: list[float], tournsize: int = 3) -> list[list]:
    """N winners of N independent ``tournsize``-way tournaments; each
    winner is a CLONE. Ties go to the earliest-drawn aspirant (strict <)."""
    out = []
    n = len(pop)
    for _ in range(n):
        aspirants = rng.integers(0, n, size=tournsize)
        best = aspirants[0]
        for a in aspirants[1:]:
            if fits[a] < fits[best]:
                best = a
        out.append(list(pop[best]))
    return out


def cx_two_point(rng: np.random.Generator, ind1: list, ind2: list) -> None:
    """In-place two-point crossover, DEAP's index law: cut points in
    [1, size] and [1, size-1], second bumped past the first on collision.
    Single-gene genomes are a no-op (DEAP's cxTwoPoint would raise on
    rng.integers(1, 1); a 1-gene swap is meaningless anyway)."""
    size = len(ind1)
    if size < 2:
        return
    a = int(rng.integers(1, size + 1))
    b = int(rng.integers(1, size))
    if b >= a:
        b += 1
    else:
        a, b = b, a
    ind1[a:b], ind2[a:b] = ind2[a:b], ind1[a:b]


def mutate(rng: np.random.Generator, ind: list, bounds: Bounds,
           indpb: float = 0.3) -> None:
    """Per-gene mutation: ints resample uniformly, floats take a Gaussian
    step with sigma = 10% of the range, clipped to bounds (the reference's
    mutation kernel, default_optimizer.py:1245-1258)."""
    for i, k in enumerate(_gene_keys(bounds)):
        if rng.random() < indpb:
            lo, hi = bounds[k]
            if _is_int(lo, hi):
                ind[i] = int(rng.integers(lo, hi + 1))
            else:
                sigma = 0.1 * (hi - lo)
                ind[i] = float(min(hi, max(lo, ind[i] + rng.normal(0.0, sigma))))


def _to_params(ind: list, bounds: Bounds) -> dict:
    return dict(zip(_gene_keys(bounds), ind))


def ga_search(
    bounds: Bounds,
    evaluate: Callable[[dict], float],
    pop_size: int = 8,
    n_generations: int = 5,
    cxpb: float = 0.5,
    mutpb: float = 0.2,
    indpb: float = 0.3,
    tournsize: int = 3,
    seed: int = 0,
    max_parallel: int = 8,
    patience: int | None = None,
    checkpoint_path: str | None = None,
    meta_log_path: str | None = None,
) -> SearchResult:
    """Seeded generational GA minimizing ``evaluate``; every generation's
    unevaluated candidates fan out as concurrent Spark jobs. history holds
    one entry per generation: population, fitnesses, champion so far.

    ``checkpoint_path`` makes the search RESUMABLE (reference
    resume_operations.py): after every generation the full GA state —
    post-variation population, fitness cache, champion, history, and the
    numpy bit-generator state — is written atomically. A rerun with the
    same checkpoint path continues exactly where the previous process
    stopped, bit-identical to an uninterrupted run (variation runs before
    the checkpoint, so the restored rng replays the same draw order); a
    finished search returns its champion immediately."""
    rng = np.random.default_rng(seed)
    keys = _gene_keys(bounds)
    pop = init_population(rng, bounds, pop_size)
    fits: list[float | None] = [None] * pop_size
    cache: dict[str, float] = {}
    best_p: dict = {}
    best_f = math.inf
    history: list[dict] = []
    stale = 0
    start_gen = 0
    bounds_key = _params_key({k: list(bounds[k]) for k in keys})
    if checkpoint_path:
        ck = load_search_checkpoint(checkpoint_path)
        gs = (ck or {}).get("ga_state")
        if gs and gs.get("bounds_key") == bounds_key and gs.get("seed") == seed:
            pop = [list(ind) for ind in gs["population"]]
            fits = [None if f is None else float(f) for f in gs["fits"]]
            cache = {k: float(v) for k, v in gs["cache"].items()}
            best_p = dict(gs["best_params"])
            best_f = math.inf if gs["best_fitness"] is None else gs["best_fitness"]
            history = gs["history"]
            stale = gs["stale"]
            start_gen = gs["next_gen"]
            rng.bit_generator.state = gs["rng_state"]
            if gs.get("done") or start_gen >= n_generations:
                return SearchResult(best_p, best_f, history)

    def save_state(next_gen: int, done: bool) -> None:
        if not checkpoint_path:
            return
        state = {
            # same outer shape as plans/search.save_search_checkpoint
            "generation": len(history),
            "history": [{"params": e["best_params"],
                         "fitness": e["best_fitness"]} for e in history],
            "optimizer_state": {
                "best_params": best_p,
                "best_fitness": None if math.isinf(best_f) else best_f,
            },
            "ga_state": {
                "bounds_key": bounds_key,
                "seed": seed,
                "population": [list(ind) for ind in pop],
                "fits": [None if f is None or math.isinf(f) else f for f in fits],
                "cache": {k: (1e308 if math.isinf(v) else v)
                          for k, v in cache.items()},
                "best_params": best_p,
                "best_fitness": None if math.isinf(best_f) else best_f,
                "history": history,
                "stale": stale,
                "next_gen": next_gen,
                "done": done,
                "rng_state": rng.bit_generator.state,
            },
        }
        tmp = checkpoint_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, default=str)
        os.replace(tmp, checkpoint_path)

    for gen in range(start_gen, n_generations):
        todo = [i for i, f in enumerate(fits) if f is None]
        fresh = []
        fresh_idx = []
        for i in todo:
            key = _params_key(_to_params(pop[i], bounds))
            if key in cache:
                fits[i] = cache[key]
            else:
                fresh.append(_to_params(pop[i], bounds))
                fresh_idx.append(i)
        if fresh:
            vals = evaluate_candidates(fresh, evaluate, max_parallel)
            for i, params, v in zip(fresh_idx, fresh, vals):
                fits[i] = v
                cache[_params_key(params)] = v
        improved = False
        for i in range(pop_size):
            if fits[i] < best_f:
                best_f, best_p, improved = fits[i], _to_params(pop[i], bounds), True
        stale = 0 if improved else stale + 1
        entry = {
            "generation": gen,
            "population": [dict(zip(keys, ind)) for ind in pop],
            "fitnesses": list(fits),
            "best_fitness": best_f,
            "best_params": dict(best_p),
            "mean_fitness": float(np.mean([f for f in fits if math.isfinite(f)]))
            if any(math.isfinite(f) for f in fits) else math.inf,
        }
        history.append(entry)
        if meta_log_path:
            append_meta_log(meta_log_path, [
                {"params": p, "fitness": f}
                for p, f in zip(entry["population"], fits)
            ])
        if patience is not None and stale >= patience:
            save_state(gen + 1, done=True)
            break
        if gen == n_generations - 1 and not checkpoint_path:
            break
        # --- variation (selection -> crossover -> mutation) ---
        # With a checkpoint, variation runs on EVERY generation (including
        # the last) BEFORE the state is saved, so a resumed run — even one
        # extended to more generations — replays the identical rng draw
        # order as an uninterrupted run.
        pop = tournament_select(rng, pop, fits, tournsize)
        fits = [cache[_params_key(_to_params(ind, bounds))] for ind in pop]
        for i in range(1, pop_size, 2):
            if rng.random() < cxpb:
                cx_two_point(rng, pop[i - 1], pop[i])
                fits[i - 1] = fits[i] = None
        for i in range(pop_size):
            if rng.random() < mutpb:
                mutate(rng, pop[i], bounds, indpb)
                fits[i] = None
        save_state(gen + 1, done=False)
        if gen == n_generations - 1:
            break
    return SearchResult(best_p, best_f, history)
