"""Unpartitioned-window census — whole-registry detector for
single-task WindowExec nodes (the 100 TB Class-C pattern).

`explain_audit.py` caps window COUNTS per row where an expectation is
pinned; this tool answers the complementary census question: across
EVERY registered query's physical plan, which rows still contain a
WindowExec with an empty partition spec (the "No Partition Defined /
moving all data to a single partition" shape)?  Built in r13 after the
last scheduled Class-C swaps landed.  Since the r14 swaps (the
formerly-held decile trio + kingman) the expected flagged set is
bounded-class ONLY — constant/support-bounded frames documented in
PARALLELISM_AUDIT.md §Plan-level census (50 rows on the r14 tree); a
newly flagged row beyond those is a new Class-C finding.

Detection: in formatted-explain detail blocks, a Window node's
Arguments line prints only the NON-EMPTY specs:
`[windowExprs], [partitionSpec], [orderSpec]` when both are present,
dropping whichever is empty — so 3 top-level bracket groups is always
partitioned, and a 2-group line is unpartitioned exactly when its
second group is an ORDER spec (every order-spec entry carries an
`ASC|DESC NULLS ...` marker; partition specs never do).  A 1-group
line (unordered, unpartitioned — a global-frame aggregate window) is
also flagged.  Bracket counting is nesting-aware; expression text
freely contains commas and nested brackets.  Verified against all
three shapes on Spark 4.1.

Usage: python tools/window_census.py [query ...]
Prints one line per row with >=1 unpartitioned Window, then a summary.
Exit 0 always — a census, not a gate; the per-round acceptance of the
held set is a judgment call recorded in PARALLELISM_AUDIT.md.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from predictor_spark.session import get_spark  # noqa: E402


_ORDER_MARK = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)\b")


def _top_level_groups(s: str) -> list[str]:
    """Top-level [...] group contents of an Arguments line."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def _is_unpartitioned(args: str) -> bool:
    groups = _top_level_groups(args)
    if len(groups) >= 3:
        return False  # [exprs], [part], [order]
    if len(groups) == 2:
        # [exprs], [order] (unpartitioned) vs [exprs], [part] (unordered)
        return bool(_ORDER_MARK.search(groups[1]))
    return True  # [exprs] alone: global-frame window, single task


def unpartitioned_windows(plan: str) -> int:
    """Number of Window detail blocks whose partition spec is empty."""
    n = 0
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if not lines or not re.match(r"^\(\d+\) Window$", lines[0].strip()):
            continue  # skips WindowGroupLimit (rank pushdown helper)
        args = next((l for l in lines if l.startswith("Arguments:")), "")
        if args and _is_unpartitioned(args):
            n += 1
    return n


def main() -> int:
    only = set(sys.argv[1:])
    import __spark_entry__ as entry

    spark = get_spark()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    qs = entry.queries()
    sf_dir = "/root/testdata/sf0.01"
    flagged: dict[str, int] = {}
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # hermetic per-row plans (see explain_audit.py for why)
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        checked += 1
        n = unpartitioned_windows(plan)
        if n:
            flagged[name] = n
            print(f"UNPART {name}: {n} unpartitioned Window node(s)")
    print(f"{checked} plans checked, {len(flagged)} with unpartitioned "
          f"windows: {sorted(flagged)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
