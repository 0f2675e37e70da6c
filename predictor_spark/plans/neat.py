"""NEAT-style hyperparameter search (parameters-as-genes) — the engine's
analog of the reference's NEAT optimizer plugin
(optimizer_plugins/neat_optimizer.py:93-178 variable-length genomes +
innovation numbers, :221-288 compatibility distance / speciation / fitness
sharing, :290-364 structural + value mutation and fitter-parent crossover,
:948-1015 per-species elitism, survival pool and adjusted-fitness
offspring allocation), re-implemented clean-room on the same Spark
topology as plans/ga.py: the generational loop is driver-side (genomes and
scalar fitnesses only — KBs), every generation's unevaluated genomes fan
out as concurrent Spark jobs via plans/search.evaluate_candidates, a
crashed candidate scores inf, repeat genomes are served from a cache.

Unlike the fixed-length GA, a genome here holds a SUBSET of the bounds
dict: hyperparameters can be organically added/removed (structural
mutation), genomes are grouped into species by structural similarity, and
fitness sharing (raw / species size) protects new structure long enough to
be explored. The evaluate callable therefore receives a PARTIAL params
dict and must supply its own defaults for absent genes.

Determinism protocol (one shared numpy Generator; the draw order below IS
the spec — tests/test_neat.py replays it with an independent pure-Python
oracle):
  0. all_params = sorted(bounds); innovation numbers are assigned on first
     appearance (the initial params therefore get 1..k in sorted order);
     int bounds (lo, hi) are inclusive, floats uniform [lo, hi).
  1. init: per individual, per initial param in given order:
     int -> rng.integers(lo, hi+1), float -> rng.uniform(lo, hi).
  2. evaluate genomes WITHOUT a valid fitness, in population order
     (cache hits by active-params dict are not re-evaluated).
  3. speciate: genomes in population order join the FIRST species (list
     order) whose representative is closer than `threshold` in
     compatibility distance d = c1*|disjoint|/N + c3*mean(|dv|/range) over
     matching innovations (c1=1.0, c3=0.4, N = max gene count); otherwise
     found a new species with themselves as representative. Empty species
     drop; each surviving species then draws a new representative:
     rng.integers(0, size).
  4. fitness sharing: adjusted = raw / species size (inf stays inf).
  5. reproduction, species in list order, members sorted by raw fitness
     (stable, None/inf last): `elitism` best are cloned through; the
     species' offspring quota is round(pop * share) - elitism where
     share = (1/max(sum adjusted, eps)) normalized over species; the
     survival pool is the best max(1, floor(size * survival_rate))
     members. Per offspring:
       a. if pool < 2 or rng.random() < 0.25: clone
          pool[rng.integers(0, len(pool))]
       b. else: if rng.random() < interspecies_rate and >1 species:
          p2 = rng-choice over another species' members (species index
          drawn first, both via rng.integers); else p2 = rng-choice of
          the pool; then p1 = rng-choice of the pool; child = crossover:
          fitter parent's disjoint genes win (tie -> first parent),
          matching innovations in SORTED order inherit from
          rng.integers(0, 2) == 0 -> fitter parent.
       c. mutations, always in this order:
          add    — if rng.random() < add_prob and absent params exist:
                   pick sorted-absent[rng.integers(0, n)], draw its value
                   as in init;
          remove — if rng.random() < remove_prob and genes > min_params:
                   delete sorted-innovations[rng.integers(0, n)];
          values — per gene in sorted innovation order: if rng.random()
                   < mutpb: int -> resample uniformly, float -> value +
                   rng.normal(0, 0.1*range), clipped to bounds.
  6. shortfall vs pop_size is filled with fresh init draws; overshoot is
     truncated. Champion tracking, optional patience, checkpoint and
     meta-log exactly as plans/ga.py.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Mapping

import numpy as np

from predictor_spark.plans.search import (
    SearchResult,
    _is_int,
    _params_key,
    append_meta_log,
    evaluate_candidates,
    save_search_checkpoint,
)

Bounds = Mapping[str, tuple[float, float]]

#: compatibility-distance coefficients (neat_optimizer.py:221: c1 structural,
#: c3 normalized value difference)
C1, C3 = 1.0, 0.4


class Genome:
    """Variable-length genome: innovation -> (param_name, value)."""

    __slots__ = ("genes", "fitness")

    def __init__(self, genes: dict[int, tuple[str, float]] | None = None):
        self.genes: dict[int, tuple[str, float]] = dict(genes or {})
        self.fitness: float | None = None

    def clone(self) -> "Genome":
        g = Genome(self.genes)
        g.fitness = self.fitness
        return g

    def params(self, bounds: Bounds) -> dict:
        """Active params as an evaluation dict; int-bounded genes round."""
        out = {}
        for name, val in self.genes.values():
            lo, hi = bounds[name]
            out[name] = int(round(val)) if _is_int(lo, hi) else float(val)
        return out


def _draw_value(rng: np.random.Generator, lo, hi) -> float:
    if _is_int(lo, hi):
        return float(rng.integers(lo, hi + 1))
    return float(rng.uniform(lo, hi))


class Innovations:
    """Global param -> innovation number registry (first-seen order)."""

    def __init__(self):
        self._map: dict[str, int] = {}

    def of(self, param: str) -> int:
        if param not in self._map:
            self._map[param] = len(self._map) + 1
        return self._map[param]


def init_genome(rng: np.random.Generator, bounds: Bounds,
                initial_params: list[str], innov: Innovations) -> Genome:
    g = Genome()
    for p in initial_params:
        lo, hi = bounds[p]
        g.genes[innov.of(p)] = (p, _draw_value(rng, lo, hi))
    return g


def compatibility(g1: Genome, g2: Genome, bounds: Bounds) -> float:
    """NEAT compatibility distance over parameter genes
    (neat_optimizer.py:221-244)."""
    k1, k2 = set(g1.genes), set(g2.genes)
    matching = k1 & k2
    disjoint = len(k1 ^ k2)
    n = max(len(k1), len(k2), 1)
    if matching:
        diffs = []
        for i in matching:
            name, v1 = g1.genes[i]
            _, v2 = g2.genes[i]
            lo, hi = bounds[name]
            rng_val = (hi - lo) if hi != lo else 1.0
            diffs.append(abs(v1 - v2) / rng_val)
        w = sum(diffs) / len(diffs)
    else:
        w = 0.0
    return C1 * disjoint / n + C3 * w


def speciate(rng: np.random.Generator, population: list[Genome],
             species: list[dict], bounds: Bounds, threshold: float) -> None:
    """Assign genomes to species in place; `species` entries are dicts
    {"id", "representative", "members"} (neat_optimizer.py:247-275)."""
    for sp in species:
        sp["members"] = []
    for g in population:
        placed = False
        for sp in species:
            if compatibility(g, sp["representative"], bounds) < threshold:
                sp["members"].append(g)
                placed = True
                break
        if not placed:
            new_id = max((sp["id"] for sp in species), default=0) + 1
            species.append({"id": new_id, "representative": g.clone(),
                            "members": [g]})
    species[:] = [sp for sp in species if sp["members"]]
    for sp in species:
        idx = int(rng.integers(0, len(sp["members"])))
        sp["representative"] = sp["members"][idx].clone()


def _fit(g: Genome) -> float:
    return g.fitness if g.fitness is not None else math.inf


def crossover(rng: np.random.Generator, p1: Genome, p2: Genome) -> Genome:
    """Fitter parent keeps its disjoint/excess genes; matching genes are
    inherited from a uniformly chosen parent (neat_optimizer.py:342-363).
    Ties (equal or both-unknown fitness) keep the FIRST parent fitter."""
    if _fit(p2) < _fit(p1):
        p1, p2 = p2, p1
    child = Genome()
    common = sorted(set(p1.genes) & set(p2.genes))
    for i in common:
        src = p1 if int(rng.integers(0, 2)) == 0 else p2
        child.genes[i] = src.genes[i]
    for i in set(p1.genes) - set(p2.genes):
        child.genes[i] = p1.genes[i]
    return child


def mutate_add(rng: np.random.Generator, g: Genome, bounds: Bounds,
               innov: Innovations, add_prob: float) -> None:
    if rng.random() >= add_prob:
        return
    active = {name for name, _ in g.genes.values()}
    absent = [p for p in sorted(bounds) if p not in active]
    if not absent:
        return
    p = absent[int(rng.integers(0, len(absent)))]
    lo, hi = bounds[p]
    g.genes[innov.of(p)] = (p, _draw_value(rng, lo, hi))


def mutate_remove(rng: np.random.Generator, g: Genome, min_params: int,
                  remove_prob: float) -> None:
    if rng.random() >= remove_prob or len(g.genes) <= min_params:
        return
    keys = sorted(g.genes)
    del g.genes[keys[int(rng.integers(0, len(keys)))]]


def mutate_values(rng: np.random.Generator, g: Genome, bounds: Bounds,
                  mutpb: float) -> None:
    for i in sorted(g.genes):
        if rng.random() < mutpb:
            name, val = g.genes[i]
            lo, hi = bounds[name]
            if _is_int(lo, hi):
                g.genes[i] = (name, float(rng.integers(lo, hi + 1)))
            else:
                sigma = 0.1 * (hi - lo)
                new = min(float(hi), max(float(lo), val + rng.normal(0.0, sigma)))
                g.genes[i] = (name, float(new))


def neat_search(
    bounds: Bounds,
    evaluate: Callable[[dict], float],
    pop_size: int = 12,
    n_generations: int = 5,
    initial_params: list[str] | None = None,
    threshold: float = 2.0,
    add_prob: float = 0.15,
    remove_prob: float = 0.05,
    mutpb: float = 0.2,
    min_params: int = 1,
    survival_rate: float = 0.5,
    interspecies_rate: float = 0.01,
    elitism: int = 1,
    seed: int = 0,
    max_parallel: int = 8,
    patience: int | None = None,
    checkpoint_path: str | None = None,
    meta_log_path: str | None = None,
) -> SearchResult:
    """Seeded NEAT search minimizing ``evaluate`` (see module docstring for
    the full draw-order spec). history has one entry per generation with
    population params, fitnesses, species count and mean complexity."""
    rng = np.random.default_rng(seed)
    innov = Innovations()
    for p in sorted(bounds):  # stable innovation numbering 1..k
        innov.of(p)
    init_list = initial_params if initial_params is not None else sorted(bounds)[:2]
    population = [init_genome(rng, bounds, init_list, innov)
                  for _ in range(pop_size)]
    species: list[dict] = []
    cache: dict[str, float] = {}
    best_p: dict = {}
    best_f = math.inf
    history: list[dict] = []
    stale = 0
    for gen in range(n_generations):
        # --- evaluate (fan-out, cached, crash -> inf) ---
        fresh, fresh_g = [], []
        for g in population:
            if g.fitness is not None:
                continue
            params = g.params(bounds)
            key = _params_key(params)
            if key in cache:
                g.fitness = cache[key]
            else:
                fresh.append(params)
                fresh_g.append(g)
        if fresh:
            vals = evaluate_candidates(fresh, evaluate, max_parallel)
            for g, params, v in zip(fresh_g, fresh, vals):
                g.fitness = v
                cache[_params_key(params)] = v
        improved = False
        for g in population:
            if _fit(g) < best_f:
                best_f, best_p, improved = _fit(g), g.params(bounds), True
        stale = 0 if improved else stale + 1
        # --- speciation + sharing (for reporting AND reproduction) ---
        speciate(rng, population, species, bounds, threshold)
        finite = [_fit(g) for g in population if math.isfinite(_fit(g))]
        entry = {
            "generation": gen,
            "population": [g.params(bounds) for g in population],
            "fitnesses": [_fit(g) for g in population],
            "best_fitness": best_f,
            "best_params": dict(best_p),
            "mean_fitness": float(np.mean(finite)) if finite else math.inf,
            "n_species": len(species),
            "mean_complexity": float(np.mean([len(g.genes) for g in population])),
        }
        history.append(entry)
        if meta_log_path:
            append_meta_log(meta_log_path, [
                {"params": p, "fitness": f}
                for p, f in zip(entry["population"], entry["fitnesses"])
            ])
        if checkpoint_path:
            save_search_checkpoint(checkpoint_path,
                                   [{"params": e["best_params"],
                                     "fitness": e["best_fitness"]} for e in history],
                                   best_p, best_f)
        if patience is not None and stale >= patience:
            break
        if gen == n_generations - 1:
            break
        # --- reproduction (neat_optimizer.py:948-1015) ---
        adj_sums: list[float | None] = []
        for sp in species:
            finite = [_fit(g) for g in sp["members"] if math.isfinite(_fit(g))]
            # a species whose members ALL crashed (fitness = inf) gets NO
            # share: clamping its adjusted sum to epsilon would hand it an
            # enormous inverse share and starve healthy species
            adj_sums.append(
                max(sum(f / len(sp["members"]) for f in finite), 1e-10)
                if finite else None
            )
        inv = [0.0 if a is None else 1.0 / a for a in adj_sums]
        total_inv = max(sum(inv), 1e-10)
        new_pop: list[Genome] = []
        for sp, sp_inv in zip(species, inv):
            if sp_inv == 0.0:
                continue  # all-inf species: no elites, no offspring; the
                # fill loop below reseeds the freed slots with fresh genomes
            members = sorted(sp["members"], key=_fit)
            for elite in members[:elitism]:
                new_pop.append(elite.clone())
            n_off = max(0, int(round(pop_size * sp_inv / total_inv)) - elitism)
            pool = members[:max(1, int(len(members) * survival_rate))]
            for _ in range(n_off):
                if len(pool) < 2 or rng.random() < 0.25:
                    child = pool[int(rng.integers(0, len(pool)))].clone()
                else:
                    if rng.random() < interspecies_rate and len(species) > 1:
                        others = [s for s in species if s["id"] != sp["id"]]
                        osp = others[int(rng.integers(0, len(others)))]
                        p2 = osp["members"][int(rng.integers(0, len(osp["members"])))]
                    else:
                        p2 = pool[int(rng.integers(0, len(pool)))]
                    p1 = pool[int(rng.integers(0, len(pool)))]
                    child = crossover(rng, p1, p2)
                mutate_add(rng, child, bounds, innov, add_prob)
                mutate_remove(rng, child, min_params, remove_prob)
                mutate_values(rng, child, bounds, mutpb)
                child.fitness = None
                new_pop.append(child)
        while len(new_pop) < pop_size:
            new_pop.append(init_genome(rng, bounds, init_list, innov))
        population = new_pop[:pop_size]
    return SearchResult(best_p, best_f, history)
