"""Run-to-run determinism check — every registered query executed TWICE
in one session (cache cleared between runs) and compared under the same
normalization the oracle gate uses.

This is a different guarantee from tools/check_correctness.py: the
oracle sweep proves Spark == DuckDB for ONE execution; this proves the
Spark side cannot drift BETWEEN executions (the partial-aggregation
summation-order class — floats summed across 32 shuffle partitions add
in whatever order tasks finish, so an unrounded float aggregate can
hash differently run to run even when a single run happens to match the
oracle; see the cube_orders_profile half-cent flake, VERIFICATION_r5
§5b).  Every catalog row is supposed to be immune by construction
(integer-exact sums or in-query rounding); this harness checks that
claim for all of them.

Usage: python tools/determinism_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from predictor_spark.session import get_spark  # noqa: E402
from tools.check_correctness import normalize_pdf  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark("determinism_check")
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        frames = []
        try:
            for _ in range(2):
                frames.append(normalize_pdf(fn(spark, sf_dir).toPandas()))
                spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: error: {e}")
            n_fail += 1
            continue
        a, b = frames
        if a.equals(b):
            print(f"PASS  {name} ({len(a)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            diff = (a != b).any(axis=1)
            print(f"FAIL  {name}: {int(diff.sum())}/{len(a)} rows differ "
                  f"between two executions")
            for i in diff[diff].index[:3]:
                print(f"      run1: {a.loc[i].to_dict()}")
                print(f"      run2: {b.loc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} deterministic, {n_fail} nondeterministic/errored")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
