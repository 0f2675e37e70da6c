"""Catalog part — data-quality / integrity screens beyond distribution
drift: change-point detection, divergence between time slices, outlier
winsorization, entity resolution, graph sanity, and time-coverage gaps.

These are the checks a 100 TB ingestion pipeline runs per batch to
decide whether the batch is USABLE before any training sees it (the
drift family in catalog_drift.py asks "did the world change"; this
family asks "is the data broken"):

- js_divergence_value_drift  Jensen-Shannon divergence between the
                          early/late value distributions (bounded,
                          symmetric — the modern PSI companion)
- winsorize_moments       p05/p95 winsorization: moments before/after,
                          clip counts (the standard heavy-tail guard)
- fuzzy_match_part_names  blocked record linkage: distinct-name
                          canonicalization, block on the noun token,
                          Levenshtein <= 2 verify inside blocks only
- triangle_count_trade_graph  triangle census of the nation trade
                          graph (graph-integrity companion to
                          pagerank_nation_trade)
- hourly_gap_detection    time-coverage audit: missing hourly buckets
                          per event type + longest gap run
                          (gaps-and-islands)

Every row reduces the fact stream to aggregate-sized state (10-bin
histograms, a 64-name vocabulary, a <=300-edge nation graph, a
720-slot hour grid) before any pairwise or ordered work — the shape
that survives 1000 executors.  (CUSUM change-point localization
already lives in catalog_tsa.py as cusum_changepoint.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.plans.catalog_drift import _qdisc
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded

_SPLIT = "DATE '2024-01-16'"

# events.value carries exactly 2 decimal places, so integer cents make
# every sum below exact (the q9/cube integer-cents idiom: no partial-agg
# summation-order ulp, no rounding crutch needed on sums)
_CENTS = "CAST(round(value * 100) AS BIGINT)"


def _cents(col: str = "value") -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("long")


@query(
    "js_divergence_value_drift",
    oracle=f"""
    WITH edges AS (
        SELECT quantile_disc(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e
        FROM events WHERE ts < {_SPLIT}
    ),
    binned AS (
        SELECT CASE WHEN ts < {_SPLIT} THEN 0 ELSE 1 END AS src,
               1 + len(list_filter(e, x -> x < value)) AS bin
        FROM events, edges
    ),
    cnts AS (
        SELECT bin,
               CAST(count(*) FILTER (WHERE src = 0) AS BIGINT) AS n_early,
               CAST(count(*) FILTER (WHERE src = 1) AS BIGINT) AS n_late
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_early) AS DOUBLE) AS na,
                   CAST(sum(n_late) AS DOUBLE) AS nb FROM cnts)
    SELECT bin, n_early, n_late,
           round(
             (CASE WHEN n_early > 0 THEN 0.5 * (n_early / na)
                   * ln((n_early / na)
                        / (0.5 * (n_early / na + n_late / nb)))
                   ELSE 0.0 END)
             + (CASE WHEN n_late > 0 THEN 0.5 * (n_late / nb)
                     * ln((n_late / nb)
                          / (0.5 * (n_early / na + n_late / nb)))
                     ELSE 0.0 END), 6) + 0.0 AS js_term
    FROM cnts, tot
    """,
)
def js_divergence_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence per decile bin between the early and
    late value distributions (Lin 1991): symmetric, bounded by ln 2, and
    defined even where one side's bin is empty — the modern companion to
    the PSI retrain gate (psi_value_stability shares the binning).

    Scale: identical shape to PSI — decile edges from one early-slice
    discrete-quantile aggregate (9-value broadcast), binning map-side,
    10-row count table; proportions are exact integer ratios so the
    terms agree to the bit before rounding.
    """
    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    early = ev.filter(F.col("ts") < split)
    qs = [i / 10.0 for i in range(1, 10)]
    sup = early.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    n1 = sup.agg(F.sum("c").alias("n"))
    cum = (sup.crossJoin(F.broadcast(n1))
           .select("value", (F.sum("c").over(wv) / F.col("n")).alias("cd")))
    edge_row = collect_bounded(cum.agg(*[
        F.min(F.when(F.col("cd") >= q, F.col("value"))).alias(f"e{i}")
        for i, q in enumerate(qs)]),
        ONE_ROW, "js_divergence_value_drift edges")[0]
    edges = [edge_row[f"e{i}"] for i in range(len(qs))]
    bin_expr = (1 + sum((F.lit(e) < F.col("value")).cast("int")
                        for e in edges)).alias("bin")
    binned = ev.select(
        F.when(F.col("ts") < split, 0).otherwise(1).alias("src"), bin_expr)
    cnts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).alias("n_early"),
        F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).alias("n_late"))
    tot = cnts.agg(F.sum("n_early").cast("double").alias("na"),
                   F.sum("n_late").cast("double").alias("nb"))
    pa, pb = F.col("n_early") / F.col("na"), F.col("n_late") / F.col("nb")
    mid = 0.5 * (pa + pb)
    term = (F.when(F.col("n_early") > 0, 0.5 * pa * F.log(pa / mid))
            .otherwise(0.0)
            + F.when(F.col("n_late") > 0, 0.5 * pb * F.log(pb / mid))
            .otherwise(0.0))
    return (cnts.crossJoin(F.broadcast(tot))
            .select("bin", "n_early", "n_late",
                    (F.round(term, 6) + F.lit(0.0)).alias("js_term")))


@query(
    "winsorize_moments",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               quantile_disc(value, 0.05) AS lo,
               quantile_disc(value, 0.95) AS hi
        FROM events GROUP BY event_type
    ),
    c AS (
        SELECT e.event_type, lo, hi,
               {_CENTS} AS vc,
               CAST(round(least(greatest(value, lo), hi) * 100) AS BIGINT)
                   AS wc
        FROM events e JOIN q USING (event_type)
    )
    SELECT event_type, lo, hi,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) FILTER (WHERE vc < CAST(round(lo * 100) AS BIGINT))
                AS BIGINT) AS n_clipped_low,
           CAST(count(*) FILTER (WHERE vc > CAST(round(hi * 100) AS BIGINT))
                AS BIGINT) AS n_clipped_high,
           round(CAST(sum(vc) AS DOUBLE) / count(*) / 100, 4)
               AS mean_before,
           round(CAST(sum(wc) AS DOUBLE) / count(*) / 100, 4) AS mean_after
    FROM c GROUP BY event_type, lo, hi
    """,
)
def winsorize_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p05/p95 winsorization per event type — the standard heavy-tail
    guard a feature pipeline applies before normalization: clip to the
    [p05, p95] data values and report the moment shift plus how many
    rows each fence touched.

    Scale: fences are discrete quantiles over the aggregated per-group
    support (one groupBy + per-group window, never a sort of the
    stream), broadcast back over a single scan.  Sums are exact integer
    cents on both the raw and clipped columns, so the means are
    bit-identical ratios; the fences themselves are data values.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    q = _qdisc(ev, "event_type", "value", [0.05, 0.95], ["lo", "hi"])
    j = ev.join(F.broadcast(q), "event_type")
    vc = _cents()
    wc = F.round(F.least(F.greatest(F.col("value"), F.col("lo")),
                         F.col("hi")) * 100, 0).cast("long")
    lo_c = F.round(F.col("lo") * 100, 0).cast("long")
    hi_c = F.round(F.col("hi") * 100, 0).cast("long")
    return (j.groupBy("event_type", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n_values"),
                 F.sum((vc < lo_c).cast("long")).alias("n_clipped_low"),
                 F.sum((vc > hi_c).cast("long")).alias("n_clipped_high"),
                 F.round(F.sum(vc).cast("double") / F.count(F.lit(1)) / 100,
                         4).alias("mean_before"),
                 F.round(F.sum(wc).cast("double") / F.count(F.lit(1)) / 100,
                         4).alias("mean_after")))


@query(
    "fuzzy_match_part_names",
    oracle="""
    WITH names AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS block,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    )
    SELECT a.block, a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage over part names (Fellegi-Sunter style
    pipeline shape): canonicalize to the DISTINCT-name vocabulary with
    support counts, block on the noun token, and verify Levenshtein <= 2
    only INSIDE blocks — the near-duplicate entity screen ('cold bolt'
    vs 'old bolt') that a catalog-ingestion pipeline runs before keying.

    Scale: the quadratic step runs on the distinct-name table (vocabulary-
    sized, 64 names here) AFTER a groupBy collapses the part scan, and
    only within blocks — never all-pairs on rows.  Both the blocked
    self-join sides broadcast; edit distance is integer-exact in both
    engines.
    """
    names = (_t(spark, sf_dir, "part")
             .groupBy("p_name")
             .agg(F.count(F.lit(1)).alias("n_parts"))
             .select("p_name", F.split("p_name", " ").getItem(1)
                     .alias("block"), "n_parts")
             # vocabulary-sized; cached so the part scan + name groupBy
             # run once, not once per self-join side
             .cache())
    a = names.select(F.col("block"), F.col("p_name").alias("name_a"),
                     F.col("n_parts").alias("n_parts_a"))
    b = names.select(F.col("block"), F.col("p_name").alias("name_b"),
                     F.col("n_parts").alias("n_parts_b"))
    return (a.join(F.broadcast(b), "block")
            .filter(F.col("name_a") < F.col("name_b"))
            .withColumn("edit_dist",
                        F.levenshtein("name_a", "name_b").cast("long"))
            .filter(F.col("edit_dist") <= 2)
            .select("block", "name_a", "name_b", "edit_dist",
                    "n_parts_a", "n_parts_b"))


@query(
    "triangle_count_trade_graph",
    oracle="""
    -- MATERIALIZED: inlined, DuckDB replicates the fact join per
    -- reference and may join the raw pre-DISTINCT streams (spilled
    -- >79 GB at sf1); materialized it is one fact join + 300-row joins,
    -- mirroring the engine's .cache()
    WITH pc AS MATERIALIZED (
        SELECT least(c.c_nationkey, s.s_nationkey) AS u,
               greatest(c.c_nationkey, s.s_nationkey) AS v,
               count(DISTINCT o.o_orderkey) AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY u, v
    ),
    thr AS (SELECT CAST(sum(w) AS DOUBLE) / count(*) AS t FROM pc),
    pairs AS MATERIALIZED (
        SELECT u, v FROM pc, thr WHERE w >= t
    )
    SELECT CAST((SELECT count(DISTINCT n) FROM (
                     SELECT u AS n FROM pairs
                     UNION ALL SELECT v FROM pairs)) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((SELECT count(*)
                 FROM pairs e1
                 JOIN pairs e2 ON e2.u = e1.v
                 JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v)
                AS BIGINT) AS n_triangles
    """,
)
def triangle_count_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the undirected nation trade graph (nodes =
    nations; edge when the pair's distinct-order volume is at least the
    MEAN pair volume — a relative threshold, so the graph stays
    non-complete at every scale factor): n_nodes / n_edges /
    n_triangles — the clustering-sanity companion to
    pagerank_nation_trade, and the standard first step of a
    graph-integrity audit (Schank & Wagner 2005 node-iterator shape,
    expressed as two joins over the canonically-ordered edge list).

    Scale: the ONLY heavy step is reducing the fact join to the
    per-nation-pair volume table (aggregate-sized: <= |nations|^2/2,
    300 here).  The threshold is one scalar over that table and the
    triangle enumeration runs u<v<w ordered self-joins on the cached
    broadcast-sized edge frame — at 100 TB the edge reduction is
    scan-bound and the census cost does not grow with rows at all.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pc = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
          .join(li, o.o_orderkey == li.l_orderkey)
          .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
          .filter(F.col("c_nationkey") != F.col("s_nationkey"))
          .select(F.least("c_nationkey", "s_nationkey").alias("u"),
                  F.greatest("c_nationkey", "s_nationkey").alias("v"),
                  "o_orderkey")
          .groupBy("u", "v")
          .agg(F.countDistinct("o_orderkey").alias("w"))
          # the census references the edge list six times; uncached,
          # each reference re-runs the whole fact join (24 scans —
          # same trap pagerank_nation_trade hit). <=300 rows.
          .cache())
    thr = pc.agg((F.sum("w").cast("double") / F.count(F.lit(1))).alias("t"))
    pairs = (pc.crossJoin(F.broadcast(thr))
             .filter(F.col("w") >= F.col("t")).select("u", "v").cache())
    nodes = (pairs.select(F.col("u").alias("n"))
             .unionAll(pairs.select(F.col("v").alias("n")))
             .agg(F.countDistinct("n").alias("n_nodes")))
    edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    e1 = pairs.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = pairs.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = pairs.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = (e1.join(F.broadcast(e2), "b")
            .join(F.broadcast(e3), ["a", "c"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    return (nodes.crossJoin(F.broadcast(edges))
            .crossJoin(F.broadcast(tris))
            .select(F.col("n_nodes").cast("long").alias("n_nodes"),
                    "n_edges", "n_triangles"))


@query(
    "hourly_gap_detection",
    oracle="""
    WITH grid AS (
        SELECT t.event_type, g.generate_series AS hr
        FROM (SELECT DISTINCT event_type FROM events) t,
             generate_series(TIMESTAMP '2024-01-01 00:00:00',
                             TIMESTAMP '2024-01-30 23:00:00',
                             INTERVAL 1 HOUR) g
    ),
    obs AS (
        SELECT DISTINCT event_type, date_trunc('hour', ts) AS hr
        FROM events
    ),
    missing AS (
        SELECT g.event_type,
               CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                              g.hr) AS BIGINT) AS idx
        FROM grid g LEFT JOIN obs o
          ON o.event_type = g.event_type AND o.hr = g.hr
        WHERE o.hr IS NULL
    ),
    runs AS (
        SELECT event_type,
               idx - row_number() OVER (PARTITION BY event_type
                                        ORDER BY idx) AS grp
        FROM missing
    ),
    agg AS (
        SELECT event_type, CAST(sum(run) AS BIGINT) AS n_missing,
               CAST(max(run) AS BIGINT) AS max_gap_hours
        FROM (SELECT event_type, grp, count(*) AS run
              FROM runs GROUP BY event_type, grp)
        GROUP BY event_type
    )
    SELECT t.event_type, CAST(720 AS BIGINT) AS n_expected,
           CAST(720 - coalesce(a.n_missing, 0) AS BIGINT) AS n_observed,
           CAST(coalesce(a.n_missing, 0) AS BIGINT) AS n_missing,
           CAST(coalesce(a.max_gap_hours, 0) AS BIGINT) AS max_gap_hours
    FROM (SELECT DISTINCT event_type FROM events) t
    LEFT JOIN agg a USING (event_type)
    """,
)
def hourly_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-coverage audit per event type over the January hour grid
    (720 slots): how many hourly buckets are missing entirely, and the
    longest consecutive missing run — the sensor-outage / ingestion-gap
    screen, with the run length via the gaps-and-islands idiom
    (idx − row_number groups consecutive indices).

    Scale: observed coverage is a distinct-aggregate of the stream
    (map-side partial); the grid is |types| x 720 generated rows — the
    expensive side is aggregate-sized, and the islands window runs per
    type over at most 720 rows.  All outputs are exact integers.
    """
    ev = _t(spark, sf_dir, "events")
    # |types| rows, referenced by the grid and the final left join
    types = ev.select("event_type").distinct().cache()
    grid = types.crossJoin(
        F.broadcast(spark.range(1).select(F.explode(F.expr(
            "sequence(timestamp'2024-01-01 00:00:00',"
            " timestamp'2024-01-30 23:00:00', interval 1 hour)"
        )).alias("hr"))))
    obs = ev.select("event_type",
                    F.date_trunc("hour", F.col("ts")).alias("hr")).distinct()
    start = F.lit("2024-01-01 00:00:00").cast("timestamp")
    missing = (grid.join(obs, ["event_type", "hr"], "left_anti")
               .select("event_type",
                       ((F.unix_timestamp("hr")
                         - F.unix_timestamp(start)) / 3600)
                       .cast("long").alias("idx")))
    grp = (F.col("idx") - F.row_number().over(
        Window.partitionBy("event_type").orderBy("idx"))).alias("grp")
    runs = (missing.select("event_type", grp)
            .groupBy("event_type", "grp").agg(F.count(F.lit(1)).alias("run"))
            .groupBy("event_type")
            .agg(F.sum("run").alias("n_missing"),
                 F.max("run").alias("max_gap_hours")))
    return (types.join(runs, "event_type", "left")
            .select("event_type", F.lit(720).cast("long").alias("n_expected"),
                    (F.lit(720) - F.coalesce(F.col("n_missing"), F.lit(0)))
                    .cast("long").alias("n_observed"),
                    F.coalesce(F.col("n_missing"), F.lit(0)).cast("long")
                    .alias("n_missing"),
                    F.coalesce(F.col("max_gap_hours"), F.lit(0)).cast("long")
                    .alias("max_gap_hours")))


@query(
    "bfs_hops_trade_graph",
    oracle="""
    WITH RECURSIVE pc AS MATERIALIZED (
        SELECT least(c.c_nationkey, s.s_nationkey) AS u,
               greatest(c.c_nationkey, s.s_nationkey) AS v,
               count(DISTINCT o.o_orderkey) AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY u, v
    ),
    thr AS (SELECT quantile_disc(w, 0.9) AS t FROM pc),
    e0 AS MATERIALIZED (SELECT u, v FROM pc, thr WHERE w >= t),
    edges AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e0
        UNION ALL SELECT v AS a, u AS b FROM e0
    ),
    walk(n, hop) AS (
        SELECT (SELECT min(a) FROM edges), 0
        UNION
        SELECT e.b, w.hop + 1
        FROM walk w JOIN edges e ON e.a = w.n
        WHERE w.hop < 6
    ),
    d AS (SELECT n, min(hop) AS hops FROM walk GROUP BY n)
    SELECT nt.n_nationkey,
           CAST(coalesce(d.hops, -1) AS BIGINT) AS hops
    FROM nation nt LEFT JOIN d ON d.n = nt.n_nationkey
    """,
)
def bfs_hops_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance over the HIGH-VOLUME trade graph (edges = the
    top-decile nation pairs by distinct-order volume, p90 discrete
    quantile) from the smallest participating nation: every nation's
    hop count, −1 when unreachable — the reachability audit that tells
    an integrity pass which partitions of the graph a flow metric can
    even see.  Capped at 6 hops; the DuckDB oracle replays it as a
    recursive CTE with the same cap.

    Scale: the fact stream reduces to the <=300-row pair-volume table
    exactly as triangle_count_trade_graph; the level expansion then
    runs 6 fixed frontier⋈edges joins against the CACHED symmetric
    edge list (InMemoryTableScan — no fact re-scan per hop), all in
    ONE lazy plan with no driver collect at all.  At 100 TB nothing in
    the loop grows with rows; for graphs with billions of NODES the
    same level iteration runs with shuffled frontier frames plus a
    visited-set anti-join per level materialized via checkpoints —
    the standard Pregel shape.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pc = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
          .join(li, o.o_orderkey == li.l_orderkey)
          .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
          .filter(F.col("c_nationkey") != F.col("s_nationkey"))
          .select(F.least("c_nationkey", "s_nationkey").alias("u"),
                  F.greatest("c_nationkey", "s_nationkey").alias("v"),
                  "o_orderkey")
          .groupBy("u", "v")
          .agg(F.countDistinct("o_orderkey").alias("w"))
          .cache())
    # p90 via the same discrete-quantile idiom as the fence screens
    wv = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    tot = pc.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nall = tot.agg(F.sum("c").alias("n"))
    thr = (tot.crossJoin(F.broadcast(nall))
           .select("w", (F.sum("c").over(wv) / F.col("n")).alias("cd"))
           .agg(F.min(F.when(F.col("cd") >= 0.9, F.col("w"))).alias("t")))
    e0 = (pc.crossJoin(F.broadcast(thr))
          .filter(F.col("w") >= F.col("t")).select("u", "v"))
    # ONE eager checkpoint of the <=600-row symmetric edge list: every
    # level below references `edges` twice, so an un-truncated lineage
    # embeds the 4-table fact join O(cap^2) times and Catalyst spends
    # seconds re-analyzing it; checkpointed, the levels join a leaf.
    edges = (e0.select(F.col("u").alias("a"), F.col("v").alias("b"))
             .unionAll(e0.select(F.col("v").alias("a"),
                                 F.col("u").alias("b")))
             .coalesce(1).localCheckpoint(eager=True))
    # walk expansion, NOT visited-set BFS: each level is frontier⋈edges
    # with a distinct — no reference back to the accumulated result, so
    # the lineage stays LINEAR in the hop cap and the whole census is
    # ONE lazy plan (a visited-set anti-join per level doubles the plan
    # per hop and needed eager checkpoints — measured 100 s cold; this
    # form is 2 s).  Revisited nodes carry larger hops; min() below
    # recovers the BFS level, exactly like the oracle's UNION recursion.
    seed = (edges.agg(F.min("a").alias("n"))
            .select("n", F.lit(0).alias("hop")))
    levels, frontier = [seed], seed
    for hop in range(1, 7):  # fixed cap, mirrored by the oracle
        frontier = (frontier.join(edges, frontier.n == edges.a)
                    .select(F.col("b").alias("n"), F.lit(hop).alias("hop"))
                    .distinct())
        levels.append(frontier)
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionAll(lv)
    dist = walk.groupBy("n").agg(F.min("hop").alias("hop"))
    nt = _t(spark, sf_dir, "nation").select("n_nationkey")
    return (nt.join(F.broadcast(dist),
                    nt.n_nationkey == F.col("n"), "left")
            .select("n_nationkey",
                    F.coalesce(F.col("hop"), F.lit(-1)).cast("long")
                    .alias("hops")))


@query(
    "promo_session_overlap",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS MATERIALIZED (
        SELECT user_id, session_id,
               epoch_us(min(ts)) AS s_lo, epoch_us(max(ts)) AS s_hi
        FROM (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        GROUP BY user_id, session_id
    ),
    promo AS (
        SELECT CAST(day(generate_series) AS BIGINT) AS day,
               epoch_us(generate_series + INTERVAL 12 HOUR) AS p_lo,
               epoch_us(generate_series + INTERVAL 14 HOUR) AS p_hi
        FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                             INTERVAL 1 DAY)
    ),
    hits AS (
        SELECT p.day, s.user_id,
               least(s.s_hi, p.p_hi) - greatest(s.s_lo, p.p_lo) AS ov_us
        FROM promo p JOIN sessions s
          ON s.s_lo <= p.p_hi AND s.s_hi >= p.p_lo
    )
    SELECT p.day,
           CAST(coalesce(h.n_sessions, 0) AS BIGINT) AS n_sessions,
           CAST(coalesce(h.n_users, 0) AS BIGINT) AS n_users,
           CAST(coalesce(h.overlap_us, 0) AS BIGINT) AS overlap_us
    FROM promo p LEFT JOIN (
        SELECT day, count(*) AS n_sessions,
               count(DISTINCT user_id) AS n_users,
               sum(ov_us) AS overlap_us
        FROM hits GROUP BY day
    ) h USING (day)
    """,
)
def promo_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join: user activity sessions (the
    sessionize_counts 30-minute-gap idiom, collapsed to [first, last]
    event intervals) against a daily promo window (12:00-14:00), per
    promo day: overlapping sessions, distinct users, and total overlap
    in exact integer microseconds — the attribution query behind
    "was the user active DURING the campaign", and a genuinely harder
    join class than the point-in-interval range join
    (range_join_event_windows): BOTH sides are intervals.

    Scale: sessions bin by the days they span (a session crossing
    midnight lands in both bins) so the join is an equi-join on the day
    key with the residual overlap predicate applied inside the bin —
    never an unbounded theta join.  The promo side is 30 rows and
    broadcasts; overlap arithmetic is integer microseconds end to end.
    """
    ev = _t(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(wl)
    marked = ev.select(
        "user_id", "ts",
        F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0).alias("is_new"))
    sid = F.sum("is_new").over(
        wl.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id")
    sessions = (marked.select("user_id", "ts", sid)
                .groupBy("user_id", "session_id")
                .agg(F.unix_micros(F.min("ts")).alias("s_lo"),
                     F.unix_micros(F.max("ts")).alias("s_hi")))
    promo = (spark.range(1).select(F.explode(F.expr(
        "sequence(timestamp'2024-01-01 00:00:00',"
        " timestamp'2024-01-30 00:00:00', interval 1 day)")).alias("d"))
        .select(F.dayofmonth("d").cast("long").alias("day"),
                F.unix_micros(F.col("d") + F.expr("interval 12 hours"))
                .alias("p_lo"),
                F.unix_micros(F.col("d") + F.expr("interval 14 hours"))
                .alias("p_hi")))
    # bin sessions by the calendar days they span -> equi-join on day
    spans = sessions.select(
        "user_id", "s_lo", "s_hi",
        F.explode(F.sequence(
            F.dayofmonth(F.timestamp_micros(F.col("s_lo"))).cast("long"),
            F.dayofmonth(F.timestamp_micros(F.col("s_hi"))).cast("long")))
        .alias("day"))
    hits = (spans.join(F.broadcast(promo), "day")
            .filter((F.col("s_lo") <= F.col("p_hi"))
                    & (F.col("s_hi") >= F.col("p_lo")))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.least("s_hi", "p_hi")
                       - F.greatest("s_lo", "p_lo")).alias("overlap_us")))
    return (promo.select("day").join(hits, "day", "left")
            .select("day",
                    F.coalesce("n_sessions", F.lit(0)).cast("long")
                    .alias("n_sessions"),
                    F.coalesce("n_users", F.lit(0)).cast("long")
                    .alias("n_users"),
                    F.coalesce("overlap_us", F.lit(0)).cast("long")
                    .alias("overlap_us")))
