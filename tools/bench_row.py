"""Robust single-row benchmark: min/median of N runs in one warmed session.

Usage: python tools/bench_row.py [-n N] <query> [query ...]

This box's wall-clock wanders 2-3x between sessions (yardstick matmul
0.15-0.38 s across three r14 baseline runs), so single-run full-sweep
comparisons cannot resolve <30% effects. Per-row before/after evidence
therefore uses min-of-N (default 5) in ONE session, bracketed by the
machine yardstick, with plan-shape diffs as the primary evidence.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from predictor_spark.session import get_spark  # noqa: E402


def yardstick() -> float:
    import numpy as np
    rng = np.random.default_rng(0)
    a, b = rng.random((2048, 2048)), rng.random((2048, 2048))
    a @ b
    t0 = time.perf_counter()
    a @ b
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    args = sys.argv[1:]
    n = 5
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_row")
    import __spark_entry__ as entry_mod
    from predictor_spark.sources.tables import TABLES, load_table
    qs = entry_mod.queries()
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(qs["q1_pricing_summary"](spark, sf_dir))
    print(f"yardstick matmul2048: {yardstick()}s")
    for name in names:
        if name not in qs:
            print(f"{name}: not registered", file=sys.stderr)
            continue
        runs = []
        n_jobs = None
        for i in range(n):
            group = f"bench_row_{name}_{i}"
            spark.sparkContext.setJobGroup(group, f"bench_row: {name}")
            t0 = time.perf_counter()
            noop(qs[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
            # deterministic evidence, robust to machine noise: how many
            # Spark jobs one invocation launches (driver round-trips)
            ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            n_jobs = len(ids)
            spark.sparkContext.setJobGroup(None, None)
        runs_sorted = sorted(runs)
        med = runs_sorted[len(runs) // 2]
        print(f"{name}: min={runs_sorted[0]:.3f} med={med:.3f} "
              f"jobs={n_jobs} runs={runs}", flush=True)
    print(f"yardstick matmul2048: {yardstick()}s")


if __name__ == "__main__":
    main()
