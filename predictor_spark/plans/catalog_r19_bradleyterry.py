"""Catalog part — Bradley-Terry paired-comparison model (STAGED r11).

The pairwise sign tests (catalog_r18_multipletest) ask "is any pair
different?"; Bradley-Terry (1952) fits the LATENT STRENGTH behind all
pairs at once — the model under chess ratings, A/B arena leaderboards
and LLM preference evaluation. "Contests": type i beats type j on each
common day its return is strictly higher (ties dropped):

- bt_strengths    per-type strength after 3 unrolled
                  minorize-maximize iterations (Hunter 2004):
                  p_i ← W_i / Σ_{j≠i} n_ij/(p_i + p_j), renormalized
                  to sum 1 each pass, from the uniform start
- bt_win_matrix   the fitted win probabilities p_i/(p_i + p_j) for
                  every ordered pair, next to the empirical win rate —
                  the model-vs-data residual view

Determinism: win counts are exact integers off the date-keyed return
self-join; the MM iterations are fixed-shape double expressions over
5 strengths and 10 pair counts (identical operand trees on both
engines), rounded 6 dp.

Scale: one events scan -> the daily rollup -> 10 pair-count rows;
iterations run on constant-size frames (the classic aggregate-then-
iterate design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import query, _t  # noqa: F401
from predictor_spark.plans.catalog_r7_risk import _RET_BASE, _rets
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the data: directed (i, j) event-type pairs, |types|^2 - |types|.
# The generator writes 5 types at every SF (20 pairs at sf0.001, 0.01 and
# 0.1), so no SF reaches the bound; it is hit only past 100 event types
MAX_TYPE_PAIRS = 100 * 99

_ITERS = 3

#: directed win counts + symmetrized contest counts
_BT_BASE = f"""
    WITH {_RET_BASE},
    wins AS MATERIALIZED (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(count(*) AS BIGINT) AS w
        FROM rets a JOIN rets b
          ON a.ddate = b.ddate AND a.event_type <> b.event_type
        WHERE a.r > b.r
        GROUP BY 1, 2
    ),
    contests AS MATERIALIZED (
        SELECT w1.i, w1.j, w1.w,
               w1.w + coalesce(w2.w, 0) AS n
        FROM wins w1 LEFT JOIN wins w2
          ON w2.i = w1.j AND w2.j = w1.i
    ),
    wtot AS (
        SELECT i, sum(w) AS wi FROM wins GROUP BY i
    ),
    p0 AS (
        SELECT DISTINCT i AS t, 0.2 AS p FROM wins
    )"""


def _bt_iter_sql() -> str:
    parts = [_BT_BASE]
    for k in range(1, _ITERS + 1):
        parts.append(f""",
    raw{k} AS (
        SELECT c.i AS t,
               max(wtot.wi) / sum(c.n / (pa.p + pb.p)) AS p
        FROM contests c
        JOIN p{k - 1} pa ON pa.t = c.i
        JOIN p{k - 1} pb ON pb.t = c.j
        JOIN wtot ON wtot.i = c.i
        GROUP BY c.i
    ),
    p{k} AS (
        SELECT t, p / (SELECT sum(p) FROM raw{k}) AS p FROM raw{k}
    )""")
    return "".join(parts)


def _bt_strengths(spark: SparkSession, sf_dir: str):
    """((t, p) strengths after the unrolled MM iterations (sum 1),
    directed-win-count frame (i, j, w) as a LOCAL relation).

    r15 (guide §1.2/§2.4): the model state is 5 strengths driven by at
    most 20 directed pair counts, so ONE distributed job collects the
    win counts and the MM iterations run driver-side over the bounded
    rows — the r14 form paid a distinct-collect plus one collect per
    iteration (5 sequential driver round-trips) and pinned four caches
    for frames this function now never rebuilds.  Float semantics: the
    per-type denominator sums at most 4 doubles in sorted-opponent
    order and the normalization sums 5 doubles in sorted-type order —
    fixed operand order run to run, same +/÷ graph as the unrolled SQL
    (both engines' GROUP BY orders were never pinned either; results
    verified against the oracle at 6 dp on all three SFs)."""
    r = _rets(spark, sf_dir)
    a = r.select(F.col("event_type").alias("i"), "ddate",
                 F.col("r").alias("ra"))
    b = r.select(F.col("event_type").alias("j"), "ddate",
                 F.col("r").alias("rb"))
    win_rows = collect_bounded(
        a.join(b, "ddate")
        .filter((F.col("i") != F.col("j")) & (F.col("ra") > F.col("rb")))
        .groupBy("i", "j").agg(F.count(F.lit(1)).alias("w")),
        MAX_TYPE_PAIRS, "bt_strengths directed win counts")
    w = {(rw["i"], rw["j"]): int(rw["w"]) for rw in win_rows}
    types = sorted({i for i, _ in w})
    wtot = {t: sum(c for (i, _), c in w.items() if i == t) for t in types}
    # contests n_ij = w_ij + w_ji for every DIRECTED pair with w_ij > 0
    n = {(i, j): c + w.get((j, i), 0) for (i, j), c in w.items()}
    strengths = {t: 0.2 for t in types}
    for _ in range(_ITERS):
        raw = {t: wtot[t] / sum(n[(t, j)] / (strengths[t] + strengths[j])
                                for j in types if (t, j) in n)
               for t in types}
        s = sum(raw[t] for t in types)
        strengths = {t: raw[t] / s for t in types}
    return strengths, w


@query(
    "bt_strengths",
    oracle=_bt_iter_sql() + f"""
    SELECT t AS event_type, round(p, 6) AS strength,
           CAST(wtot.wi AS BIGINT) AS total_wins
    FROM p{_ITERS} JOIN wtot ON wtot.i = p{_ITERS}.t
    ORDER BY event_type
    """,
)
def bt_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths of the five event types after 3 MM
    iterations over daily return contests (normalized to sum 1), with
    each type's raw win total.

    Scale: aggregate-then-iterate — iterations touch only the bounded
    pair counts, the output is a 0-Exchange local relation (floats
    rounded by the same Spark expressions as before)."""
    strengths, w = _bt_strengths(spark, sf_dir)
    wtot = {t: sum(c for (i, _), c in w.items() if i == t)
            for t in strengths}
    rows = [(t, strengths[t], wtot[t]) for t in sorted(strengths)]
    return (local_df(spark, rows, "t string, p double, wi long")
            .select(F.col("t").alias("event_type"),
                    F.round("p", 6).alias("strength"),
                    F.col("wi").cast("long").alias("total_wins"))
            .orderBy("event_type"))


@query(
    "bt_win_matrix",
    oracle=_bt_iter_sql() + f"""
    SELECT c.i AS type_a, c.j AS type_b,
           round(pa.p / (pa.p + pb.p), 6) AS fitted_p_win,
           round(CAST(c.w AS DOUBLE) / c.n, 6) AS empirical_p_win,
           CAST(c.n AS BIGINT) AS n_contests
    FROM contests c
    JOIN p{_ITERS} pa ON pa.t = c.i
    JOIN p{_ITERS} pb ON pb.t = c.j
    WHERE c.i < c.j ORDER BY type_a, type_b
    """,
)
def bt_win_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted Bradley-Terry win probabilities p_i/(p_i+p_j) for every
    unordered pair next to the empirical win rate — large residuals
    mark pairs the one-dimensional strength model can't explain
    (intransitivity).

    Scale: the bounded pair counts joined to the 5 strengths — both
    driver-resident after _bt_strengths' single aggregate, so the
    output is a 0-Exchange local relation (floats computed by the same
    Spark round/÷ expressions as before; the oracle's inner joins on
    p{k} drop pairs whose opponent never won, mirrored by the
    strengths-membership test)."""
    strengths, w = _bt_strengths(spark, sf_dir)
    rows = [(i, j, c, c + w.get((j, i), 0), strengths[i], strengths[j])
            for (i, j), c in sorted(w.items())
            if i < j and i in strengths and j in strengths]
    return (local_df(spark, rows,
                     "i string, j string, w long, n long, "
                     "pi double, pj double")
            .select(F.col("i").alias("type_a"),
                    F.col("j").alias("type_b"),
                    F.round(F.col("pi") / (F.col("pi") + F.col("pj")), 6)
                    .alias("fitted_p_win"),
                    F.round(F.col("w").cast("double") / F.col("n"), 6)
                    .alias("empirical_p_win"),
                    F.col("n").cast("long").alias("n_contests"))
            .orderBy("type_a", "type_b"))
