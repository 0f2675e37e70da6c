"""Scaling evidence — run the bench headline at every available scale
factor and report per-query wall-clock plus 10x growth ratios (a
scan-bound operator should grow well under 10x at sizes where fixed
overhead dominates, and must never grow super-linearly).

Scale factors: the three driver-provided dirs (sf0.001/0.01/0.1) plus a
synthesized sf1 (tools/make_sf1.py: 10 key-offset replicas of sf0.1 —
6M lineitem / 1M events — built on demand in /tmp). The sf1 column is
the load-bearing one: at sf0.1 fixed overhead still dominates most rows,
at sf1 the x10 ratio starts reflecting the actual plan.

Usage: python tools/scale_check.py [out_md]
Writes SCALING.md (or out_md) with one table, and prints it.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF1_DIR = "/tmp/predictor_spark_sf1"
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1",
       SF1_DIR]


def main() -> None:
    from predictor_spark.session import get_spark
    import __spark_entry__ as entry_mod
    from bench import HEADLINE, materialize

    from tools.make_sf1 import build

    build(SF1_DIR)  # no-op when already present
    qs = entry_mod.queries()
    # warm-up once per sf dir (parquet footers), plus codegen warm-up
    timings: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for sf in SFS:
        # FRESH SparkSession per scale factor: a single session aging
        # across 4 SFs x |HEADLINE| x 2 runs accumulates GC/python-worker
        # state that inflated late-block (sf1) per-series rows up to 4x
        # in back-to-back generations (r5: prophet 19s aged vs 5.1s
        # fresh) — the x10 ratio columns compare ACROSS blocks, so each
        # block must start from the same session state
        spark = get_spark("scale_check")
        # warm every table's footer + the ts-conversion path, like bench.py
        from predictor_spark.sources.tables import TABLES, load_table

        for t in TABLES:
            try:
                load_table(spark, sf, t).count()
            except Exception:
                pass
        materialize(qs["q1_pricing_summary"](spark, sf))
        for name in HEADLINE:
            best = None
            for _ in range(2):  # min-of-2, like bench.py: single shots at
                # these sizes are GC/scheduler noise, not plan signal
                t0 = time.perf_counter()
                materialize(qs[name](spark, sf))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[name].append(round(best, 3))
            spark.catalog.clearCache()  # intra-query caches die with the row
        spark.stop()

    lines = [
        "# SCALING — headline wall-clock by scale factor",
        "",
        "Same plans, 1000x data range (sf1 = synthesized 10x sf0.1:",
        "6M lineitem / 1M events / 50k docs, tools/make_sf1.py). Ratios are",
        "time multipliers for 10x the rows; fixed overhead keeps them far",
        "below 10 at the small end, and the 0.1->1 column is the honest",
        "plan signal — anything approaching/exceeding 10 there flags a",
        "super-linear plan.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | sf1 s | x10 (.01->.1) | x10 (.1->1) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, ts in timings.items():
        r1 = round(ts[2] / ts[1], 2) if ts[1] > 0 else float("nan")
        r2 = round(ts[3] / ts[2], 2) if ts[2] > 0 else float("nan")
        lines.append(
            f"| {name} | {ts[0]} | {ts[1]} | {ts[2]} | {ts[3]} | {r1} | {r2} |")
    lines += [
        "",
        "## Cost-model notes (rows nearest the linearity ceiling)",
        "",
        "- **streaming_stream_join** (VERDICT r9 #4): the month replays",
        "  as a FIXED 3 micro-batches (one chronological chunk per",
        "  trigger), so batch COUNT does not grow with data; the sf1",
        "  term is per-batch data volume — each batch scans ~|events|/3",
        "  rows, shuffles both sides once on user_id into the state",
        "  store, and pays a fixed state-store init (~1-2 s total).",
        "  Wall ≈ fixed(session+state init) + linear(state rows): a",
        "  sub-10x sf1 ratio is the expected shape, not drift.  The",
        "  state-store width now scales with input",
        "  (streaming/windows.py:stream_clone auto), keeping per-task",
        "  state in memory at any SF.",
        "- **distinct_ngram_ratios**: already ONE corpus scan — a single",
        "  generator projection emits all 1/2/3-grams tagged with n,",
        "  partial-aggregated to (source, n, gram) map-side before the",
        "  gram shuffle (the follow-up (source, n) rollup shuffles only",
        "  distinct-gram counts).  The sf1 ratio tracks token count (10x docs ≈",
        "  10x grams hashed + concat'd JVM-side); no second scan, no",
        "  per-row Python — the constant is exact-distinct-gram CPU,",
        "  which HLL could shave only by changing the row's exact-count",
        "  semantics.",
        "- **bpe_encode_apply**: the char-wrap regex + merge replaces run",
        "  once per DISTINCT (doc, word) pair, not per occurrence, since",
        "  r10; the corpus is scanned once and pre-aggregated to",
        "  (doc, word) counts map-side.  The residual sf1 growth is the",
        "  tokenize+explode of the corpus itself plus the in-query BPE",
        "  TRAINING pass it shares semantics with.",
        "- **hurst_rs_per_series** (VERDICT r10 #6; SWAPPED r12): ONE",
        "  events scan (event_type, value, ts, event_id only), ONE",
        "  ordered window per series computing BOTH the tick rank and",
        "  the global running sum, a broadcast crossJoin with the 3-row",
        "  block-size dim, an unordered per-(series, n, block) window +",
        "  a single hash rollup — the r11 plan's SECOND ordered window",
        "  over the 3x-expanded tick set is gone (the exact-integer",
        "  devL = C*cnt - i*sx form lets block-base offsets cancel",
        "  inside max-min; the oracle mirrors the same integers).",
        "  Block rows shrink to N*(1/16+1/32+1/64) before anything",
        "  re-shuffles, and the 3-point log-log fit is closed-form",
        "  column math.  sf1 wall 4.81 s (r11) -> 3.2-3.6 s (r12 sweeps).",
        "- **weibull_mrr_fit** (VERDICT r10 #6; SWAPPED r12): one",
        "  orders + one lineitem scan, one co-partitioned equi-join,",
        "  one rollup to 5 regression rows.  The r11 plan's rank window",
        "  partitioned on o_orderpriority capped the rank stage at 5",
        "  tasks at ANY cluster size; since r12 the rank comes from",
        "  operators/ranking.discrete_key_rank — a 2-pass broadcast-",
        "  offset rank keyed on the day-granular lead time",
        "  (|priorities| x |days| task parallelism, driver-side counts",
        "  collect bounded by ~5 x 200 rows at any SF) that also yields",
        "  the per-priority total, removing the count window.  sf1 wall",
        "  10.97 s (r11 live window) -> 4.3-4.4 s (r12 sweeps), ratio 2.64 ->",
        "  ~1.5; the join, now genuinely, is what remains.",
    ]
    out = "\n".join(lines) + "\n"
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "SCALING.md")
    with open(path, "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
