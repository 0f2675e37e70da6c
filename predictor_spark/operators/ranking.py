"""Distributed two-phase ranking — full-cluster-parallel row_number.

`F.row_number().over(Window.partitionBy(k).orderBy(...))` caps the
window stage at |distinct k| tasks: with 5 order priorities, a
1000-executor cluster ranks 100 TB of lead times on 5 cores
(weibull_mrr_fit's known sf1 constant, SCALING.md cost-model notes).
The classic fix is two-phase ranking:

1. bucket rows by range on the leading order column (quantile
   boundaries from approxQuantile — any boundary set works, quantiles
   just balance the buckets);
2. rank LOCALLY within (partition-keys, bucket) — fine-grained keys,
   full parallelism;
3. add per-bucket prefix offsets (a tiny counts table, collected to
   the driver and broadcast back).

Rows with equal leading-column values land in the SAME bucket (the
bucket is a pure function of the value), so local order + offset
reproduces the global row_number over the full ordering EXACTLY —
ties are broken by the remaining order columns inside one bucket,
never across buckets.

Built for the weibull_mrr_fit swap (VERDICT r10 #6). Reference
behavior pinned by tests/test_r12_prototypes.py: exact equality of
every rank against the single-window form.

Scale contract: the driver-side collect is bounded by
|distinct partition keys| x n_buckets rows (5 x 64 = 320 for
weibull_mrr_fit at any data size).
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame, Window, functions as F
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the data: distinct (part, key) groups or support keys whose
# counts table is collected for a driver-side offset/span finish; the
# same value ntile_spans and discrete_key_rank already enforced
MAX_KEYS = 200_000


def _assert_no_null_groups(cnt_rows, cols, op_name: str) -> None:
    """NULL group keys break both offset operators (ADVICE r11): the
    driver-side sorted() raises TypeError on None-vs-value, and even if
    ordered, the non-null-safe equi-join back to the data would
    silently DROP null-key rows where the window form ranks them
    (nulls first, ascending). The counts table is collected anyway, so
    the guard costs nothing and fails EARLY with the offending column
    instead of a driver TypeError or silent row loss."""
    for r in cnt_rows:
        for c in cols:
            if r[c] is None:
                raise ValueError(
                    f"{op_name}: NULL in {c!r} — the offset join would "
                    f"silently drop null-key rows (the window form ranks "
                    f"them nulls-first); filter or fill nulls upstream")


def two_phase_row_number(df: DataFrame, part_cols: list[str],
                         bucket_col: str, order_cols: list[str],
                         rank_name: str = "i",
                         n_buckets: int = 64,
                         bounds: list | None = None) -> DataFrame:
    """Add `rank_name` = row_number over
    Window.partitionBy(*part_cols).orderBy(*order_cols), computed with
    (|part_cols distinct| x n_buckets)-way parallelism instead of
    |part_cols distinct|-way.

    `bucket_col` MUST be the first entry of `order_cols` (the range
    split must respect the primary sort, or offsets would interleave).

    `bounds`: optional precomputed bucket boundaries. When the caller
    knows the key domain (a bounded day count, a fixed score range),
    passing boundaries skips the approxQuantile pass — which matters
    when `df` is an UN-CACHED join/pipeline, because every extra
    action recomputes it (measured: the 3-pass default was 2.7x
    slower than the window it replaced on exactly such an input, the
    weibull_mrr_fit orders-lineitem join). ANY boundary set is
    correct — boundaries only balance bucket sizes, never affect rank
    values.
    """
    if order_cols[0] != bucket_col:
        raise ValueError("bucket_col must lead order_cols")
    spark = df.sparkSession

    if bounds is None:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.stat.approxQuantile(bucket_col, qs, 0.001)
    bounds = sorted(set(bounds))
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        # bucket id = #boundaries strictly below the value: a pure
        # function of the value, so equal values share a bucket and
        # tie-breaking stays inside one local sort
        bucket = F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc + F.when(F.col(bucket_col) > b, 1)
                                  .otherwise(0))
    else:
        bucket = F.lit(0)
    d2 = df.withColumn("__bkt", bucket)

    # tiny counts table -> driver -> per-(part, bucket) prefix offsets
    cnt_rows = collect_bounded(d2.groupBy(*part_cols, "__bkt").count(),
                               MAX_KEYS, "two_phase_row_number counts")
    if not cnt_rows:
        # empty input: createDataFrame([], [names]) cannot infer a
        # schema, so short-circuit to the window form's result — an
        # empty frame with the rank column attached (ADVICE r11)
        return df.withColumn(rank_name, F.lit(None).cast("int"))
    # nulls in bucket_col itself are SAFE here: the bucket expression
    # maps them to bucket 0 (lowest) and the local ascending sort puts
    # them first, matching the window form's nulls-first order — only
    # part_cols nulls would be dropped by the offset join
    _assert_no_null_groups(cnt_rows, part_cols, "two_phase_row_number")
    per_part: dict[tuple, dict[int, int]] = defaultdict(dict)
    for r in cnt_rows:
        per_part[tuple(r[c] for c in part_cols)][r["__bkt"]] = r["count"]
    offs = []
    for p, bmap in sorted(per_part.items()):
        run = 0
        for b in sorted(bmap):
            offs.append((*p, b, run))
            run += bmap[b]
    # explicit schema: local_df takes no inference pass; types mirror
    # the old inference (part cols as in df, Python ints -> long)
    from pyspark.sql import types as T
    off_df = local_df(
        spark, offs,
        T.StructType([df.schema[c] for c in part_cols]
                     + [T.StructField("__bkt", d2.schema["__bkt"].dataType),
                        T.StructField("__off", T.LongType())]))

    w = Window.partitionBy(*part_cols, "__bkt").orderBy(*order_cols)
    return (d2.join(F.broadcast(off_df), [*part_cols, "__bkt"])
              .withColumn(rank_name,
                          (F.row_number().over(w)
                           + F.col("__off")).cast("int"))
              .drop("__bkt", "__off"))


def discrete_key_rank(df: DataFrame, part_cols: list[str],
                      key_col: str, tiebreak_cols: list[str],
                      rank_name: str = "i",
                      max_keys: int = MAX_KEYS,
                      total_name: str | None = None) -> DataFrame:
    """row_number over Window.partitionBy(*part_cols)
    .orderBy(key_col, *tiebreak_cols) for a LOW-CARDINALITY leading
    key, in TWO passes instead of two_phase_row_number's three: the
    per-(part, key) counts table doubles as the bucket boundaries, so
    no quantile pass is needed and the window partitions on
    (part, key) directly — |parts| x |keys| task parallelism.

    Exactness: rows with equal key values share a window partition, so
    tie-breaking happens inside one local sort; the broadcast offset
    is the count of strictly-smaller keys in the same part. This is
    weibull_mrr_fit's shape (key = integer day-granular lead time,
    bounded by business semantics); `max_keys` guards the driver-side
    collect against misuse on a high-cardinality key.

    `total_name`: optionally attach the part's TOTAL row count as a
    column of that name — it falls out of the same counts table, so
    callers needing `count().over(partitionBy(part))` (another
    single-task-per-part window) get it for free."""
    cnt_rows = collect_bounded(
        df.groupBy(*part_cols, key_col).count(), max_keys,
        "discrete_key_rank (part, key) groups; use two_phase_row_number")
    spark = df.sparkSession
    if not cnt_rows:
        # empty input: mirror the window form (empty frame + columns)
        # instead of crashing in schema inference (ADVICE r11)
        out = df.withColumn(rank_name, F.lit(None).cast("int"))
        if total_name is not None:
            out = out.withColumn(total_name, F.lit(None).cast("long"))
        return out
    _assert_no_null_groups(cnt_rows, [*part_cols, key_col],
                           "discrete_key_rank")
    per_part: dict[tuple, dict] = defaultdict(dict)
    for r in cnt_rows:
        per_part[tuple(r[c] for c in part_cols)][r[key_col]] = r["count"]
    offs = []
    for p, kmap in sorted(per_part.items()):
        total = sum(kmap.values())
        run = 0
        for k in sorted(kmap):
            offs.append((*p, k, run, total))
            run += kmap[k]
    from pyspark.sql import types as T
    off_df = local_df(
        spark, offs,
        T.StructType([df.schema[c] for c in part_cols]
                     + [df.schema[key_col],
                        T.StructField("__off", T.LongType()),
                        T.StructField("__tot", T.LongType())]))

    w = Window.partitionBy(*part_cols, key_col).orderBy(*tiebreak_cols)
    out = (df.join(F.broadcast(off_df), [*part_cols, key_col])
             .withColumn(rank_name,
                         (F.row_number().over(w)
                          + F.col("__off")).cast("int")))
    if total_name is not None:
        out = out.withColumn(total_name, F.col("__tot"))
    return out.drop("__off", "__tot")


def _tile_of_py(p: int, base: int, rem: int) -> int:
    """Driver-side mirror of `_tile_of` — same closed form in exact
    Python integers (pinned against Spark's ntile alongside _tile_of
    in tests/test_r13_prototypes.py). Used by `ntile_spans`."""
    head = rem * (base + 1)
    if p <= head:
        return (p + base) // (base + 1)
    return rem + (p - head + base - 1) // base


def ntile_spans(counts, n_tiles: int, *, op_name: str = "ntile_spans",
                max_keys: int = MAX_KEYS):
    """Driver-side span/tile assignment from a COLLECTED (key, count)
    histogram — the bounded-collect idiom (r12 hybrid_rrf /
    discrete_key_rank precedent) applied to the support-histogram
    ntile: computing the prefix sums here instead of in an
    unpartitioned support window removes the last `WindowExec: No
    Partition Defined` source from the plan (the warning re-fires on
    every AQE replan however small the support frame is).

    `counts`: iterable of (key, count) pairs (any orderable non-null
    key). Returns (interior, strad, base, rem, total) where
    interior = [(key, tile)] for key groups entirely inside one tile,
    strad = [(key, lo)] for the <= n_tiles-1 boundary-straddling
    groups (lo = the group's 1-based global start position), and
    base/rem parameterize `_tile_of` for the straddling rows'
    row-level ranks. Exact ntile semantics by construction — the same
    closed form the in-plan `_tile_of` evaluates."""
    pairs = list(counts)
    if len(pairs) > max_keys:
        raise ValueError(
            f"{op_name}: {len(pairs)} distinct keys exceeds "
            f"max_keys={max_keys}; the support no longer fits the "
            f"bounded-collect contract — use exact_ntile instead")
    for k, _ in pairs:
        if k is None:
            raise ValueError(
                f"{op_name}: NULL key in the support histogram — the "
                f"local-relation join back would silently drop null-key "
                f"rows; filter or fill nulls upstream")
        if isinstance(k, float) and math.isnan(k):
            # ADVICE r13: Timsort with NaN keys is silently inconsistent
            # (NaN compares false to everything) while Spark's window
            # ntile orders NaN last — fail fast instead of returning
            # silently wrong tiles on degenerate input
            raise ValueError(
                f"{op_name}: NaN key in the support histogram — Python "
                f"sort order with NaN is undefined and would diverge "
                f"from Spark's NaN-last window ordering; filter or fill "
                f"NaNs upstream")
    pairs.sort(key=lambda kv: kv[0])
    total = sum(c for _, c in pairs)
    base, rem = total // n_tiles, total % n_tiles
    interior, strad = [], []
    lo = 1
    for k, c in pairs:
        hi = lo + c - 1
        if _tile_of_py(lo, base, rem) == _tile_of_py(hi, base, rem):
            interior.append((k, _tile_of_py(lo, base, rem)))
        else:
            strad.append((k, lo))
        lo = hi + 1
    return interior, strad, base, rem, total


def _tile_of(p, base, rem):
    """ntile group of 1-based global position p — integer-exact
    (ceil(a/b) spelled (a+b-1) div b, with the exact-multiple division
    trick below so no double-rounding can move a boundary). First
    `rem` groups hold base+1 rows, the rest hold base; with base = 0
    the when-branch is always taken (rem = N), so the otherwise-branch
    never divides by zero."""
    def idiv(a, b):
        # (a - a%b) is an exact multiple of b; dividing an exact
        # multiple is exact in double below 2^53
        return ((a - a % b) / b).cast("long")

    head = rem * (base + 1)
    return F.when(
        p <= head, idiv(p + base, base + 1)
    ).otherwise(
        rem + idiv(p - head + base - 1, base)
    ).cast("long")


def exact_ntile(df: DataFrame, key_col: str, tiebreak_cols: list[str],
                n_tiles: int, tile_name: str = "tile",
                descending: bool = False,
                collect_spans: bool = False) -> DataFrame:
    """`ntile(n) OVER (ORDER BY key [DESC], *tiebreak)` WITHOUT the
    global single-task sort (PARALLELISM_AUDIT.md Class C): a
    key-support histogram gives every key group its global rank span
    [lo, hi] via a window over the SUPPORT only; ntile's closed-form
    bucket arithmetic (exact integer division) maps spans to tiles;
    key groups entirely inside one tile are labeled by a support join
    with zero row-level work, and ONLY the <= n_tiles-1
    boundary-straddling groups get row-level ranks — through
    fine-grained per-key windows, fully parallel.

    Exact ntile semantics by construction (the closed form is pinned
    against Spark's ntile in tests/test_r13_prototypes.py). For
    descending=True the key must be numeric (it is negated to reuse
    the ascending support order; LONG_MIN would overflow — none of the
    engine's score/count keys can reach it). `key_col` must also be
    NON-NULL (ADVICE r11): Spark's `ntile OVER (ORDER BY key DESC)`
    puts nulls LAST, but negation keeps them null and the ascending
    support order would put them FIRST — filter or sentinel-fill nulls
    upstream (ascending null keys likewise diverge: the groupBy folds
    them into one support row where the window orders them first but
    tie-breaks them individually). Ties beyond `key_col` are broken by
    `tiebreak_cols` inside the straddling groups only, exactly as the
    window form would.

    `collect_spans=True` computes the span/tile assignment DRIVER-SIDE
    from the collected support histogram (`ntile_spans` — the
    bounded-collect idiom, max_keys-guarded): the plan then contains
    ZERO unpartitioned windows (the support cumsum below, however
    small its frame, re-logs `WindowExec: No Partition Defined` on
    every AQE replan — the r13 finding that moved the three swapped
    catalog rows driver-side). Same output by construction (both paths
    share the `_tile_of`/`_tile_of_py` closed form); use it whenever
    the support fits the collect contract."""
    key = F.col(key_col)
    d2 = df.withColumn("__k", (-key) if descending else key)
    sup = d2.groupBy("__k").agg(F.count(F.lit(1)).alias("__c"))

    if collect_spans:
        from pyspark.sql import types as T

        k_type = d2.schema["__k"].dataType
        counts = [(r["__k"], r["__c"])
                  for r in collect_bounded(sup, MAX_KEYS, "exact_ntile support")]
        int_rows, strad_rows, base, rem, _tot = ntile_spans(
            counts, n_tiles, op_name="exact_ntile")
        spark = df.sparkSession
        interior = local_df(spark, 
            int_rows, T.StructType([T.StructField("__k", k_type),
                                    T.StructField(tile_name, T.LongType())]))
        inner = d2.join(F.broadcast(interior), "__k").drop("__k")
        strad = local_df(spark, 
            strad_rows, T.StructType([T.StructField("__k", k_type),
                                      T.StructField("__lo", T.LongType())]))
        wrow = Window.partitionBy("__k").orderBy(*tiebreak_cols)
        edge = (d2.join(F.broadcast(strad), "__k")
                .withColumn("__rn", F.row_number().over(wrow))
                .withColumn(tile_name,
                            _tile_of(F.col("__lo") - 1 + F.col("__rn"),
                                     F.lit(base).cast("long"),
                                     F.lit(rem).cast("long")))
                .drop("__k", "__lo", "__rn"))
        return inner.unionByName(edge)

    wv = Window.orderBy("__k").rowsBetween(Window.unboundedPreceding, 0)
    spans = (sup.select("__k", "__c", F.sum("__c").over(wv).alias("__hi"))
             .withColumn("__lo", F.col("__hi") - F.col("__c") + 1))
    tot = spans.agg(F.sum("__c").alias("n")).select(
        (F.col("n") % n_tiles).alias("__rem"),
        ((F.col("n") - F.col("n") % n_tiles) / n_tiles).cast("long")
        .alias("__base"))
    spans = (spans.crossJoin(F.broadcast(tot))
             .withColumn("__tlo", _tile_of(F.col("__lo"), F.col("__base"),
                                           F.col("__rem")))
             .withColumn("__thi", _tile_of(F.col("__hi"), F.col("__base"),
                                           F.col("__rem"))))

    interior = (spans.where(F.col("__tlo") == F.col("__thi"))
                .select("__k", F.col("__tlo").alias(tile_name)))
    inner = d2.join(interior, "__k").drop("__k")

    strad = (spans.where(F.col("__tlo") != F.col("__thi"))
             .select("__k", "__lo", "__base", "__rem"))
    wrow = Window.partitionBy("__k").orderBy(*tiebreak_cols)
    edge = (d2.join(F.broadcast(strad), "__k")
            .withColumn("__rn", F.row_number().over(wrow))
            .withColumn(tile_name,
                        _tile_of(F.col("__lo") - 1 + F.col("__rn"),
                                 F.col("__base"), F.col("__rem")))
            .drop("__k", "__lo", "__base", "__rem", "__rn"))
    return inner.unionByName(edge)
