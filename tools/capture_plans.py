"""Capture .explain("formatted") for named queries into plans/r15/.

Usage: python tools/capture_plans.py <suffix> <query> [query ...]
Writes plans/r15/<query>_<suffix>.txt for each query (suffix: before/after).

Queries whose physical plan depends on driver-side iteration (e.g. a
Lloyd's fit collecting between jobs) still produce a single final-frame
plan — the iteration cost is noted in OPTIMIZATION_r15.md instead.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from predictor_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans")
    import __spark_entry__ as entry_mod
    qs = entry_mod.queries()
    out_dir = os.path.join(ROOT, "plans", "r15")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, {n_exch} Exchange -> {path}")


if __name__ == "__main__":
    main()
