"""Catalog part — round-5 ML-data-prep + sketch additions.

Deepens the training-data-pipeline families (the build brief's
first-class extension surface) past the r4 curation layer:

- bpe_encode_apply       apply the TRAINED tokenizer to the corpus
                         (train in catalog_text, encode here — the
                         two halves of a production tokenizer)
- doc_chunk_overlap      overlapping token-window chunking (context-
                         window packing prep)
- perplexity_unigram     corpus-LM quality scoring (add-1 unigram NLL
                         per doc — the classic cheap perplexity filter)
- feature_hash_buckets   hashing-trick feature aggregation
- target_encode_event_type  smoothed mean target encoding
- hll_distinct_users     deterministic HyperLogLog (Flajolet et al.
                         2007) vs exact distinct, per event type
- cube_orders_profile    CUBE grouping-set rollup (the one grouping
                         shape §2.7 didn't isolate)
- pagerank_nation_trade  PageRank power iteration over the aggregated
                         trade graph (Brin & Page 1998)

Scale notes are per-docstring.  The sketch/graph rows follow the
"aggregate the 100 TB fact down to sketch/edge state, iterate on the
small state" design every production system uses — the corpus scan is
one pass; iteration never touches raw data again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import collect_bounded, local_df, spark_round

# from the schema: nation is a fixed 25-row dimension
_NATIONS = 25
# from the query: bpe_train_merges learns 3 merges (its _BPE_ITERS)
_BPE_MERGES = 3
# from the query: the BM25 cut is a top-20
_BM25_CUT = 20

_US = "\x1f"  # unit separator: the BPE symbol delimiter (catalog_text)


def _bpe_train_ctes(iters: int = 3) -> str:
    """The training CTE chain of catalog_text._bpe_oracle, re-emitted so
    the APPLY oracle can extend it (same words/rep/pairs/best recurrence,
    same delimiter-wrapped greedy-replace encoding)."""
    parts = [f"""
    WITH words AS (
        SELECT w, count(*) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    rep0 AS (
        SELECT cnt, regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31),
                                   'g') AS rep
        FROM words
    )"""]
    for k in range(1, iters + 1):
        parts.append(f""",
    pairs{k} AS (
        SELECT pr.l AS l, pr.r AS r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(syms)),
                       i -> struct_pack(l := syms[CAST(i AS INT)],
                                        r := syms[CAST(i AS INT) + 1]))) AS pr
            FROM (SELECT cnt,
                         list_filter(string_split(rep, chr(31)),
                                     x -> x <> '') AS syms
                  FROM rep{k - 1})
        ) GROUP BY pr.l, pr.r
    ),
    best{k} AS (
        SELECT l AS left_sym, r AS right_sym
        FROM pairs{k} ORDER BY pc DESC, l, r LIMIT 1
    ),
    rep{k} AS (
        SELECT cnt, replace(rep, pat, rp) AS rep
        FROM rep{k - 1},
             (SELECT chr(31) || left_sym || chr(31) || chr(31) || right_sym
                     || chr(31) AS pat,
                     chr(31) || left_sym || right_sym || chr(31) AS rp
              FROM best{k})
    )""")
    return "".join(parts)


def _bpe_apply_oracle(iters: int = 3) -> str:
    parts = [_bpe_train_ctes(iters), """,
    dwords AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ) WHERE w <> ''
    ),
    drep0 AS (
        SELECT doc_id, regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31),
                                      'g') AS rep
        FROM dwords
    )"""]
    for k in range(1, iters + 1):
        parts.append(f""",
    drep{k} AS (
        SELECT doc_id, replace(rep, pat, rp) AS rep
        FROM drep{k - 1},
             (SELECT chr(31) || left_sym || chr(31) || chr(31) || right_sym
                     || chr(31) AS pat,
                     chr(31) || left_sym || right_sym || chr(31) AS rp
              FROM best{k})
    )""")
    parts.append(f"""
    SELECT doc_id,
           CAST(sum((len(rep) - len(replace(rep, chr(31), ''))) // 2)
                AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_words
    FROM drep{iters} GROUP BY doc_id
    """)
    return "".join(parts)


@query("bpe_encode_apply", oracle=_bpe_apply_oracle())
def bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 3 trained BPE merges (bpe_train_merges,
    catalog_text.py — same corpus, same tie-breaks) to ENCODE every
    document: per-doc post-merge token count.  Train + apply are the two
    halves of the reference's tokenizer surface; the merge table is the
    only state that crosses from one to the other.

    The merge list is collected to the driver (3 rows — bounded like the
    k-means centroids) and applied as literal delimiter-wrapped
    replacements.  Encoding is WORD-pure (tokens(w) depends on w alone),
    so the char-wrap regex + merge replaces run once per DISTINCT
    (doc, word) PAIR, not once per occurrence (VERDICT r9 #5: this
    row's sf1 constant was the per-occurrence regex): the corpus
    pre-aggregates to (doc, word) counts map-side, the regex prices
    each pair's word once, and n_tokens(doc) = Σ_w cnt(doc,w)·tokens(w).
    One corpus scan, one (doc, word) shuffle — NOT a vocab-level
    broadcast join: deduping to the global vocab requires a second
    aggregate over the same exchange, and Catalyst's
    RemoveRedundantAggregates + AQE staging rewrite that into a second
    full corpus scan/tokenize, which costs more than it saves (probed
    r10; ReuseExchange does not fire across the broadcast boundary).
    """
    from predictor_spark.plans.catalog_text import bpe_train_merges

    merges = sorted(
        ((r["merge_rank"], r["left_sym"], r["right_sym"])
         for r in collect_bounded(bpe_train_merges(spark, sf_dir),
                                  _BPE_MERGES, "bpe merges")))
    docs = _t(spark, sf_dir, "documents")
    dw = (docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    rep = F.regexp_replace("w", "(.)", f"{_US}$1{_US}")
    for _, left, right in merges:
        rep = F.replace(rep, F.lit(f"{_US}{left}{_US}{_US}{right}{_US}"),
                        F.lit(f"{_US}{left}{right}{_US}"))
    tok = ((F.length(rep) - F.length(F.replace(rep, F.lit(_US), F.lit(""))))
           / 2).cast("bigint")
    return (dw.select("doc_id", "c", tok.alias("_wtok"))
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.col("_wtok")).alias("n_tokens"),
                 F.sum("c").alias("n_words")))


@query(
    "doc_chunk_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS arr
        FROM documents
    )
    SELECT doc_id, CAST(start // 40 AS INTEGER) AS chunk_idx,
           CAST(least(50, len(arr) - start) AS INTEGER) AS chunk_len,
           arr[CAST(start AS INTEGER) + 1] AS head_token
    FROM (SELECT doc_id, arr,
                 unnest(range(0, greatest(len(arr), 1), 40)) AS start
          FROM toks)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — window 50, stride 40 (10-token
    overlap): the context-window prep step between cleaning and packing
    in an LLM data pipeline (pack_sequences_summary packs THESE chunks).

    Scale: tokenize + explode is map-side (no shuffle at all — the output
    inherits the scan partitioning); chunk count per doc is
    ceil(len/stride), so output size is linear in corpus tokens with no
    per-doc state.  Empty docs yield one zero-length chunk, not a dropped
    row.
    """
    docs = _t(spark, sf_dir, "documents")
    arr = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    t = docs.select("doc_id", arr.alias("arr"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("arr") - 1, F.lit(0)), F.lit(40))
    return (
        t.select("doc_id", "arr", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / 40).cast("int").alias("chunk_idx"),
            F.least(F.lit(50), F.size("arr") - F.col("start"))
            .cast("int").alias("chunk_len"),
            F.element_at("arr", F.col("start") + 1).alias("head_token"),
        )
    )


@query(
    "perplexity_unigram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ) WHERE w <> ''
    ),
    cnts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t,
                   CAST(count(DISTINCT w) AS BIGINT) AS v
            FROM toks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln((c + 1.0) / (t + v))), 4) AS avg_nll
    FROM toks JOIN cnts USING (w), tot
    GROUP BY doc_id
    """,
)
def perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity scoring (add-1 smoothing): per-document mean
    negative log-probability under the corpus language model — the
    cheap first-pass quality filter production pipelines run before any
    neural scorer (low avg_nll ≈ natural text, high ≈ junk).

    Scale: ONE corpus scan builds the count table; the token→count join
    shuffles on the word key (Zipf-skewed, but the count side is
    |vocab| ≪ |tokens| and AQE's skew-join splits the head words); the
    scalar (total, vocab) pair rides in as a 1-row broadcast.  Per-doc
    aggregation shuffles |docs| rows.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != ""))
    # (total, vocab) derive from the count table — identical values, one
    # fewer corpus pass than aggregating toks again; the count table is
    # cached because it feeds both the token join and the scalar totals
    # (|vocab| rows; the sweep harness clears caches between queries)
    cnts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")).cache()
    tot = cnts.agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("v"))
    nll = -F.log((F.col("c") + 1.0) / (F.col("t") + F.col("v")))
    return (
        toks.join(cnts, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.round(F.avg(nll), 4).alias("avg_nll"))
    )


@query(
    "feature_hash_buckets",
    oracle="""
    SELECT CAST(CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) % 64
                AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT w) AS BIGINT) AS n_words
    FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ) WHERE w <> ''
    GROUP BY 1
    """,
)
def feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): project the
    unbounded vocabulary into 64 fixed buckets via a stable md5-derived
    hash — the fixed-width feature map that lets a downstream model
    train without a vocabulary pass.

    Scale: bucketing is a map-side expression (md5 of each token); the
    aggregate shuffles 64 groups.  md5 (not the engine's internal hash)
    keeps the bucket assignment identical across engines AND across
    cluster restarts — a feature-map contract, not an optimization.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != ""))
    bucket = (F.conv(F.substring(F.md5("w"), 1, 4), 16, 10)
              .cast("bigint") % 64).cast("int")
    return (toks.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("w").alias("n_words")))


@query(
    "target_encode_event_type",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           round((sum(value) + 50.0 * g.gavg) / (count(*) + 50.0), 4)
               AS encoded
    FROM events, (SELECT avg(value) AS gavg FROM events) g
    GROUP BY event_type, g.gavg
    """,
)
def target_encode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding (Micci-Barreca 2001, m=50): encode a
    categorical by its target mean shrunk toward the global mean — the
    leakage-controlled categorical featurization step of a training
    pipeline.

    Scale: one scan feeds both the global mean (1-row broadcast) and the
    per-category partial sums; the group-by is |categories| wide.  The
    prior weight makes rare categories stable — exactly why the
    smoothed form, not the raw mean, is the operator worth shipping.
    """
    ev = _t(spark, sf_dir, "events")
    g = ev.agg(F.avg("value").alias("gavg"))
    return (
        ev.crossJoin(F.broadcast(g))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.round((F.sum("value") + 50.0 * F.first("gavg"))
                     / (F.count(F.lit(1)) + 50.0), 4).alias("encoded"))
    )


@query(
    "hll_distinct_users",
    oracle="""
    WITH h AS (
        SELECT event_type, CAST(ts AS DATE) AS ddate,
               CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                         AS BIGINT) AS INTEGER) AS reg,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 7))
                    AS BIGINT) AS x
        FROM events
    ),
    regs AS (
        SELECT event_type, ddate, reg,
               max(CASE WHEN x = 0 THEN 29
                        ELSE CAST(28 - floor(log2(x)) AS BIGINT) END) AS rho
        FROM h GROUP BY event_type, ddate, reg
    ),
    est AS (
        SELECT event_type, ddate,
               sum(power(2.0, -rho)) + (256 - count(*)) AS denom,
               256 - count(*) AS zeros
        FROM regs GROUP BY event_type, ddate
    ),
    raw AS (
        SELECT event_type, ddate, zeros,
               (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / denom AS e
        FROM est
    ),
    ex AS (
        SELECT event_type, CAST(ts AS DATE) AS ddate,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_nd
        FROM events GROUP BY 1, 2
    )
    SELECT r.event_type, strftime(r.ddate, '%Y-%m-%d') AS ddate,
           exact_nd,
           round(CASE WHEN e <= 640.0 AND zeros > 0
                      THEN 256.0 * ln(256.0 / zeros) ELSE e END, 2)
               AS hll_estimate
    FROM raw r JOIN ex ON r.event_type = ex.event_type
                      AND r.ddate = ex.ddate
    """,
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007; p=8, 256
    registers, small-range linear-counting correction) next to the exact
    count, per (event type, day) — keyed per-day so the graded output
    varies (per-type alone every group held the identical full user set
    at sweep SF: a degenerate grade).  The register hash is md5-derived
    so the sketch is engine-portable and replayable — the oracle computes
    the SAME sketch, which is the point: HLL is deterministic given the
    hash, only its ERROR vs exact is probabilistic.

    Scale: this is THE 100 TB distinct-count design — the scan reduces
    to ≤256 registers per group (max-merge is associative+commutative,
    so partial aggregation works map-side and re-merges across any
    partitioning); exact countDistinct rides along here only to exhibit
    the sketch error at test scale.  Register sums are sums of powers of
    two spanning < 53 bits — exact in double in any order.
    """
    ev = _t(spark, sf_dir, "events").withColumn(
        "ddate", F.col("ts").cast("date"))
    h = F.md5(F.col("user_id").cast("string"))
    x = F.conv(F.substring(h, 3, 7), 16, 10).cast("bigint")
    hashed = ev.select(
        "event_type", "ddate", "user_id",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("reg"),
        F.when(x == 0, F.lit(29))
        .otherwise(28 - F.floor(F.log2(x))).cast("bigint").alias("rho"))
    regs = (hashed.groupBy("event_type", "ddate", "reg")
            .agg(F.max("rho").alias("rho")))
    est = regs.groupBy("event_type", "ddate").agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("rho")))
         + (256 - F.count(F.lit(1)))).alias("denom"),
        (256 - F.count(F.lit(1))).alias("zeros"))
    alpha_m2 = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
    raw = est.select(
        "event_type", "ddate", "zeros",
        (F.lit(alpha_m2) / F.col("denom")).alias("e"))
    exact = ev.groupBy("event_type", "ddate").agg(
        F.countDistinct("user_id").alias("exact_nd"))
    return (
        raw.join(exact, ["event_type", "ddate"])
        .select(
            "event_type",
            F.date_format("ddate", "yyyy-MM-dd").alias("ddate"),
            "exact_nd",
            F.round(
                F.when((F.col("e") <= 640.0) & (F.col("zeros") > 0),
                       256.0 * F.log(256.0 / F.col("zeros")))
                .otherwise(F.col("e")), 2).alias("hll_estimate"))
    )


@query(
    "cube_orders_profile",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(round(o_totalprice * 100.0)) / 100.0, 2) AS total_value
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (status, priority) — all four grouping
    combinations in one pass (§2.7 covers ROLLUP and pivot; CUBE is the
    remaining grouping shape).  NULL group keys are coalesced to 'ALL'
    so subtotal rows are distinguishable from genuine nulls.

    Scale: Spark expands grouping sets BEFORE the exchange, so partial
    aggregation applies to every set; output is |status|×|priority|
    + margins.  One shuffle.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             # integer-cents sum: 2-dp prices round exactly to cents and
             # the cent total stays « 2^53, so the grand-total margin is
             # summation-order-proof (the raw double sum landed ON a
             # half-cent boundary at the sf1 spot check)
             F.round(F.sum(F.round(F.col("o_totalprice") * 100.0, 0))
                     / 100.0, 2).alias("total_value"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders", "total_value")
    )


_PR_DAMP = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    ctes = ["""
    WITH edges AS (
        SELECT cn.n_name AS src, sn.n_name AS dst,
               sum(l_extendedprice * (1 - l_discount)) AS w
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        GROUP BY cn.n_name, sn.n_name
    ),
    p AS (
        SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
        FROM edges
    ),
    r0 AS (SELECT n_name, 1.0 / 25.0 AS rank FROM nation)"""]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(f""",
    r{k} AS (
        SELECT n.n_name,
               round({(1 - _PR_DAMP) / 25.0} + {_PR_DAMP} *
                     coalesce(sum(r.rank * p.p), 0.0), 9) AS rank
        FROM nation n
        LEFT JOIN p ON p.dst = n.n_name
        LEFT JOIN r{k - 1} r ON r.n_name = p.src
        GROUP BY n.n_name
    )""")
    return ("".join(ctes)
            + f"""
    SELECT n_name, round(rank, 6) AS pagerank FROM r{_PR_ITERS}
    """)


@query("pagerank_nation_trade", oracle=_pagerank_oracle())
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin & Page 1998; damping 0.85, 3 power iterations) over
    the customer-nation → supplier-nation trade graph, edge weights =
    order volume.

    Scale: the 100 TB work is the ONE edge-aggregation pass over the
    fact join (dims broadcast, orderkey shuffle); iterations then run on
    the |nations|² edge frame — rank state never exceeds |nodes| rows
    and re-broadcasts each step, the canonical aggregate-then-iterate
    graph design (same shape at 1 M nodes: ranks shuffle on dst, edges
    stay partitioned).  Ranks are rounded to 9 dp each iteration on both
    engines, so per-step float state is synchronized, not drifting.
    """
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("src")))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("dst")))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("w"))
    )
    from pyspark.sql import Window

    # r15 (guide §1.2, the pca/bt idiom): the normalized edge frame is
    # ≤ |nations|² = 625 rows BOUNDED BY DESIGN (nation is a fixed
    # 25-row dimension at any SF), so ONE collect replaces the r14
    # cache pin + three nested broadcast-join iterations (each built a
    # BroadcastExchange of the previous lazy rank frame inside the
    # final action).  The 100 TB work — the single fact-join edge
    # aggregation pass — is unchanged and is what the collect runs.
    # Float semantics: per-dst contribution sums run in ascending-src
    # order (Spark's partial-agg order over ≤ 25 terms was never
    # pinned either) and every iteration re-rounds to 9 dp with
    # Spark's exact double rounding (spark_round), the same
    # engine-synchronization step as before; oracle-verified at
    # sf0.001/0.01/0.1.
    p_rows = collect_bounded(edges.select(
        "src", "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p")
    ), _NATIONS * _NATIONS, "pagerank nation edges")
    names = sorted(r["n_name"] for r in collect_bounded(
        nat.select("n_name"), _NATIONS, "pagerank nations"))
    in_edges: dict = {n: [] for n in names}
    for r in p_rows:
        in_edges[r["dst"]].append((r["src"], r["p"]))
    ranks = {n: 1.0 / 25.0 for n in names}
    base = (1 - _PR_DAMP) / 25.0
    for _ in range(_PR_ITERS):
        new = {}
        for n in names:
            acc = 0.0
            for src, pv in sorted(in_edges[n]):
                acc += ranks[src] * pv
            new[n] = spark_round(base + _PR_DAMP * acc, 9)
        ranks = new
    return (local_df(spark,
                     [(n, ranks[n]) for n in names],
                     "n_name string, rank double")
            .select("n_name", F.round("rank", 6).alias("pagerank")))


_RRF_K = 60
_COS = ("list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))")


@query(
    "hybrid_rrf_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ), lengths AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS dl
        FROM documents
    ), corpus AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lengths
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM toks WHERE term IN ('hash', 'join', 'scan')
        GROUP BY doc_id, term
    ), idf AS (
        SELECT term, ln(1.0 + (c.n_docs - df + 0.5) / (df + 0.5)) AS idf, c.avgdl
        FROM (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
             corpus c
    ), bm AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
                   AS bm25_rank
        FROM (
            SELECT t.doc_id,
                   SUM(i.idf * t.tf * 2.2
                       / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / i.avgdl)))
                       AS score
            FROM tf t JOIN idf i USING (term) JOIN lengths l USING (doc_id)
            GROUP BY t.doc_id
        ) QUALIFY bm25_rank <= 20
    ), co AS (
        SELECT neighbor_id AS doc_id,
               row_number() OVER (ORDER BY round({_COS}, 6) DESC, neighbor_id)
                   AS cos_rank
        FROM (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
              FROM embeddings) c,
             (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0) q
        WHERE neighbor_id != 0
        QUALIFY cos_rank <= 20
    )
    SELECT doc_id,
           CAST(coalesce(bm25_rank, 0) AS BIGINT) AS bm25_rank,
           CAST(coalesce(cos_rank, 0) AS BIGINT) AS cos_rank,
           round(coalesce(1.0 / ({_RRF_K} + bm25_rank), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + cos_rank), 0.0), 6) AS rrf
    FROM bm FULL OUTER JOIN co USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): BM25 top-20 for "hash join scan" fused with cosine top-20
    around the vec_id-0 embedding via RRF(60) — the lexical+dense
    two-tower pattern every RAG data pipeline runs, composed entirely
    from this repo's own retrieval operators.

    Scale: each leg is the already-audited retrieval plan (BM25: terms
    filtered before any shuffle, scalars broadcast; dense: query side
    broadcast, corpus streamed); the fusion join touches only the two
    top-k frames (≤20 rows each).  Ranks use rounded scores with id
    tie-breaks so both cut lines are engine-deterministic.

    The BM25 cut is orderBy().limit(20) — Spark compiles it to
    TakeOrderedAndProject, a per-partition partial top-k merged on the
    k heads, fully parallel — instead of the r11 unpartitioned rank
    window that pushed the whole scored corpus through ONE task
    (PARALLELISM_AUDIT.md Class C; swapped r12, sf1 2.52 s → 2.00 s).
    EXACT semantics: ranks beyond the cut never mattered (the row
    filtered to rank ≤ 20 immediately) and the (rounded score desc,
    doc_id) ordering is total, so the surviving 20 rows and their
    ranks are identical. The residual ranking of the ≤20 survivors
    happens DRIVER-SIDE on the collected cut (the same bounded-collect
    idiom as operators/ranking.discrete_key_rank: one computation of
    the BM25 subtree, a ≤20-row local relation back) — a 20-row
    row_number window would re-log WindowExec's single-partition
    warning on every AQE replan despite its constant bound.
    """
    from predictor_spark.operators import similarity
    from predictor_spark.operators.retrieval import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    top = (bm25_scores(docs, ["hash", "join", "scan"])
           .select("doc_id", F.round("score", 6).alias("s"))
           .orderBy(F.col("s").desc(), "doc_id").limit(_BM25_CUT))
    cut = collect_bounded(top, _BM25_CUT, "hybrid_rrf_fusion BM25 cut")
    if any(r["s"] is None or r["doc_id"] is None for r in cut):
        raise ValueError(
            "hybrid_rrf_fusion: NULL score or doc_id in the collected "
            "BM25 cut — the driver-side rank sort needs non-null keys "
            "(bm25_scores over non-null text can never produce one; a "
            "NULL here means the corpus or scorer changed)")
    cut = sorted(cut, key=lambda r: (-r["s"], r["doc_id"]))
    bm = local_df(spark, 
        [(r["doc_id"], i + 1) for i, r in enumerate(cut)],
        "doc_id long, bm25_rank int")
    co = (similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
          .select(F.col("neighbor_id").alias("doc_id"),
                  F.col("rank").alias("cos_rank")))
    rrf = (F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
           + F.coalesce(1.0 / (_RRF_K + F.col("cos_rank")), F.lit(0.0)))
    return (
        bm.join(co, "doc_id", "full_outer")
        .select("doc_id",
                F.coalesce("bm25_rank", F.lit(0)).cast("bigint")
                .alias("bm25_rank"),
                F.coalesce("cos_rank", F.lit(0)).cast("bigint")
                .alias("cos_rank"),
                F.round(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )
