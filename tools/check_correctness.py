"""Local mimic of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at the
given scale factor, compares row count, sorted column names, and an
order-insensitive value comparison. Exact comparison after in-query
rounding — stricter than any hash the driver could use.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from predictor_spark.session import get_spark  # noqa: E402
from predictor_spark.sources.tables import TABLES  # noqa: E402


def normalize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def norm_cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, (float, np.floating)):
            v = float(v)
            if math.isnan(v):
                return "NULL"
            if v == 0.0 and math.copysign(1.0, v) < 0:
                # signed zero: the driver's value hash sees the sign bit, so
                # the local sweep must too (r3 trading_sim_trades miss)
                return "-0.0"
            # floats render AS floats: the r4 driver reds were int64 4568 vs
            # float64 4568.0, which the old `v == int(v) -> str(int(v))`
            # collapse could never see. Never weaker than the driver's hash.
            return repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(norm_cell(x) for x in v) + "]"
        return str(v)

    out = pdf.apply(lambda col: col.map(norm_cell))
    rows = sorted(tuple(r) for r in out.itertuples(index=False, name=None))
    return pd.DataFrame(rows, columns=list(out.columns))


def dtype_class(dtype) -> str:
    """Coarse numeric-class of a pandas dtype: 'int', 'float', or 'other'.

    int64-vs-float64 is exactly the drift the driver's value hash detects
    (4568 vs 4568.0); int32-vs-int64 or date-representation differences are
    rendering-invariant, so only the numeric class is compared."""
    kind = getattr(dtype, "kind", "O")
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    return "other"


def nested_output_columns(df) -> list[str]:
    """Columns of a Spark DataFrame whose type is Array/Map/Struct.

    The driver's canonicalizer sorts raw pandas columns; a list/dict cell
    raises `unhashable type` and the whole row ERRs (r5:
    inverted_index_postings). Nested output types are therefore FORBIDDEN
    in registered queries — emit array_join/to_json strings instead. This
    is a plan-only check (df.schema, no execution)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


def dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    out = []
    for col in sorted(set(sdf.columns) & set(odf.columns)):
        a, b = dtype_class(sdf[col].dtype), dtype_class(odf[col].dtype)
        if a != b:
            out.append(f"dtype {col}: spark {sdf[col].dtype}({a}) vs "
                       f"oracle {odf[col].dtype}({b})")
    return out


#: Queries whose correct output at the default sweep SF is genuinely empty.
#: Any OTHER query matching its oracle on 0 rows is a VACUOUS pass (the r7
#: drawdown_duration grade compared 0 rows to 0 rows and verified nothing,
#: hiding a real gaps-and-islands bug) and is reported as a FAIL so it gets
#: re-parameterized before the driver wastes a grading-window slot on it.
EXPECTED_EMPTY: frozenset[str] = frozenset()

#: Queries whose multi-row output legitimately carries a constant numeric
#: column set (e.g. a conformance report whose every check passes with
#: value 0). Every OTHER multi-row frame must show >1 distinct value in at
#: least one numeric column, else the grade is degenerate — it would pass
#: even if the computation were replaced by a constant (VERDICT r8 #2: the
#: 0-row guard's vacuity class exists one level up too).
ALLOWED_CONSTANT: frozenset[str] = frozenset()


def degenerate_numeric(sdf: pd.DataFrame) -> str | None:
    """Non-degeneracy gate: for a multi-row frame with numeric columns,
    demand at least one numeric column with >1 distinct non-null value.
    Returns a FAIL message, or None if the frame carries signal. 0/1-row
    frames are out of scope (0 rows has its own guard; 1-row scalars are
    legitimate aggregates)."""
    if len(sdf) < 2:
        return None
    num_cols = [c for c in sdf.columns
                if dtype_class(sdf[c].dtype) in ("int", "float")]
    if not num_cols:
        return None
    for c in num_cols:
        if sdf[c].dropna().nunique() > 1:
            return None
    return (f"degenerate pass — all numeric columns {num_cols} are "
            f"constant over {len(sdf)} rows; a constant-function bug would "
            "grade green. Re-parameterize, or add to ALLOWED_CONSTANT")


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    spark = get_spark("check_correctness")

    def fresh_con():
        # one connection PER ORACLE: the unrolled expression oracles
        # (LSTM/TFT forward passes) are compile-heavy, and a single
        # long-lived connection accumulated enough allocator state over 99
        # queries to OOM late in the sweep (r4: mimo_forward_pass "Failed
        # to allocate block"); a fresh connection frees everything between
        # queries at negligible view-registration cost
        c = duckdb.connect()
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    n_pass = n_fail = n_noracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            nested = nested_output_columns(df)
            if nested:
                # hard FAIL before execution: the driver harness cannot
                # canonicalize nested cells (4th local/driver divergence)
                print(f"FAIL  {name}: nested output type(s) {nested} — "
                      "emit array_join/to_json strings instead")
                n_fail += 1
                continue
            sdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # a few queries cache() small intra-query frames (funnel stages,
            # baskets); they cannot unpersist before the lazy result is
            # materialized, so the sweep clears between queries instead of
            # letting 151 queries pin storage memory (ADVICE r4)
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"SKIP  {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            con = fresh_con()
            odf = con.execute(oracles[name]).fetchdf()
            con.close()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"row count {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            problems.extend(dtype_mismatches(sdf, odf))
        if not problems and len(sdf) == 0 and name not in EXPECTED_EMPTY:
            problems.append(
                "vacuous 0-row pass — re-parameterize so rows exist at this "
                "SF, or add to EXPECTED_EMPTY")
        if not problems and name not in ALLOWED_CONSTANT:
            degen = degenerate_numeric(sdf)
            if degen:
                problems.append(degen)
        if not problems:
            a, b = normalize_pdf(sdf), normalize_pdf(odf)
            if not a.equals(b):
                diff_mask = (a != b).any(axis=1)
                n_diff = int(diff_mask.sum())
                problems.append(f"{n_diff}/{len(a)} rows differ")
                ex = diff_mask[diff_mask].index[:3]
                for i in ex:
                    problems.append(f"  spark : {a.loc[i].to_dict()}")
                    problems.append(f"  oracle: {b.loc[i].to_dict()}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("      " + p)
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
