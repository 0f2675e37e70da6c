"""Per-row wall-clock profiler: build time vs run1 vs run2 per query.

Usage: python tools/profile_rows.py <query> [query ...]

Splits each bench row's cost into plan-construction time (the Python
call that builds the DataFrame, incl. any driver-side collects the plan
does eagerly) and two noop-sink materializations (run1 = cold-ish,
run2 = warm plan signal, matching bench.py's min-of-2 methodology).
Warm-up mirrors bench.py (tables + one query) so numbers are comparable.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from predictor_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_rows")
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

    print(f"{'query':<36} {'build':>7} {'run1':>7} {'run2':>7}")
    for name in names:
        if name not in qs:
            print(f"{name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"profile: {name}")
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(df)
        t_run1 = time.perf_counter() - t0
        # fresh build for run2, like bench.py's second invocation
        df2 = qs[name](spark, sf_dir)
        t0 = time.perf_counter()
        noop(df2)
        t_run2 = time.perf_counter() - t0
        print(f"{name:<36} {t_build:7.3f} {t_run1:7.3f} {t_run2:7.3f}",
              flush=True)


if __name__ == "__main__":
    main()
