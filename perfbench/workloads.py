"""The benchmark's workloads: which catalog rows run, on what input scale.

Each workload stresses a different layer of the engine (see ``why``). Rows
that stage files under a fixed ``/tmp`` path (the streaming rows and the
CSV-source rows) are left out: the benchmark may write only inside its
own checkout.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    rows: tuple[str, ...]
    tables: tuple[str, ...]
    why: str


WORKLOADS = {w.name: w for w in (
    Workload(
        "forecast", 0.01,
        ("flagship_persistence_metrics", "w9_log_returns", "stl_per_series",
         "prophet_like_train_eval"),
        ("events",),
        "the paper's own pipeline shape: event windows and per-series model "
        "fits; time goes to action-side windows and Python workers"),
    Workload(
        "curation", 0.01,
        ("dedup_clusters_star", "bm25_search_topk", "knn_cosine_bruteforce"),
        ("documents", "embeddings"),
        "LLM-data curation rows: near-dup clustering and retrieval; time goes "
        "to eager driver round-trips while the DataFrame is built"),
)}


def pass_orders(rows: tuple[str, ...], seed: int):
    """Endless row orders for successive passes: each a permutation drawn
    from one generator seeded by ``seed``, so a seed fixes every pass."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(rows, len(rows))
