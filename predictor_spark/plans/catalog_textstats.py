"""Catalog part — corpus-statistics screens for LLM training data.

Three statistical profiles a corpus team reads before (and after)
every curation change:

- bigram_logprob_per_doc  add-one-smoothed bigram language model
                          trained ON the corpus, scoring each doc's
                          mean log-probability — the classic fluency /
                          outlier screen (low = gibberish or
                          out-of-domain; complements the unigram
                          perplexity row, catalog_mlprep)
- zipf_rank_slope         OLS slope of log-frequency on log-rank over
                          the top terms (Zipf 1949: natural language
                          sits near -1; far off = boilerplate or spam)
- heaps_vocab_growth      vocabulary size vs corpus-prefix size at
                          fixed fractions (Heaps 1978) — sublinear
                          growth is the fingerprint of natural text,
                          and the curve calibrates tokenizer vocab
                          budgets

Determinism: all counts are exact integers (vocab growth is integers
END TO END via the first-occurrence trick); the bigram model divides
smoothed integer counts once per bigram; the Zipf regression runs over
exactly 100 (freq, rank) integer pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.text import tokens_col
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the data: 1024-wide doc_id buckets (~2e11 docs at the bound)
_MAX_DOC_BUCKETS = 200_000

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"


@query(
    "bigram_logprob_per_doc",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c FROM bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT u.w) AS v FROM (
        SELECT w1 AS w FROM bg UNION SELECT w2 AS w FROM bg) u),
    scored AS (
        SELECT b.doc_id,
               ln((c12.c + 1.0) / (c1.c + vocab.v)) AS lp
        FROM bg b
        JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        CROSS JOIN vocab
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(lp) / count(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    ORDER BY avg_logprob, doc_id LIMIT 20
    """,
)
def bigram_logprob_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one bigram LM fluency screen: P(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V) trained on the corpus itself, each document scored by
    its mean token log-probability; the 20 LOWEST-scoring docs (the
    outlier review queue) are the output.

    Scale: bigrams are a map-side transform of the token array (no
    positional self-join); the model is two groupBys; scoring joins
    the bigram stream to the count tables ON THE BIGRAM KEY — at
    100 TB the c12 table is the big dim and the join shuffles both
    sides by (w1, w2), with c1 broadcastable.  Train and apply read
    the same shuffled bigrams, so the corpus is scanned once."""
    toks = tokens_col("text")
    bg = (_t(spark, sf_dir, "documents")
          .select("doc_id", toks.alias("t"))
          .select("doc_id", F.explode(F.expr(
              "transform(sequence(1, size(t) - 1),"
              " i -> struct(t[i-1] AS w1, t[i] AS w2))")).alias("b"))
          .select("doc_id", "b.w1", "b.w2"))
    bg = bg.cache()
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (bg.select(F.col("w1").alias("w"))
             .union(bg.select(F.col("w2").alias("w")))
             .distinct().agg(F.count(F.lit(1)).alias("v")))
    scored = (bg.join(c12, ["w1", "w2"])
              .join(c1, "w1")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id",
                      F.log((F.col("c12") + 1.0)
                            / (F.col("c1") + F.col("v"))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.round(F.sum("lp") / F.count(F.lit(1)), 6)
                 .alias("avg_logprob"))
            .orderBy("avg_logprob", "doc_id").limit(20))


@query(
    "zipf_rank_slope",
    oracle=f"""
    WITH tf AS (
        SELECT u.term, count(*) AS freq
        FROM (SELECT unnest({_TOKS}) AS term FROM documents) u
        GROUP BY u.term
    ),
    top AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, term) AS rnk
        FROM tf ORDER BY freq DESC, term LIMIT 100
    ),
    xy AS (
        SELECT ln(rnk) AS x, ln(freq) AS y FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 4) AS slope,
           round((sum(y) - (count(*) * sum(x * y) - sum(x) * sum(y))
                           / (count(*) * sum(x * x) - sum(x) * sum(x))
                           * sum(x)) / count(*), 4) AS intercept
    FROM xy
    """,
)
def zipf_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS of ln(freq) on ln(rank) over the 100 most
    frequent terms — natural-language corpora slope near -1; a corpus
    drifting toward 0 (flat) or below -2 (spiky) signals boilerplate
    injection or template spam before any model sees it.

    Scale: term frequencies are one explode + groupBy; the top-100 is
    TakeOrderedAndProject (per-partition heads, driver merge); the
    regression reduces 100 rows to one.  Ranks are integers (freq
    desc, term tie-break), so both engines fit the same 100 points."""
    tf = (_t(spark, sf_dir, "documents")
          .select(F.explode(tokens_col("text")).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    top = (tf.orderBy(F.col("freq").desc(), "term").limit(100)
           .withColumn("rnk", F.row_number().over(
               Window.orderBy(F.col("freq").desc(), "term"))))
    xy = top.select(F.log("rnk").alias("x"), F.log("freq").alias("y"))
    n = F.count(F.lit(1))
    slope = ((n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
             / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")))
    return xy.agg(
        n.cast("long").alias("n_terms"),
        F.round(slope, 4).alias("slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 4).alias("intercept"))


@query(
    "heaps_vocab_growth",
    oracle=f"""
    WITH ranked AS MATERIALIZED (
        SELECT doc_id, {_TOKS} AS t,
               row_number() OVER (ORDER BY doc_id) AS r
        FROM documents
    ),
    d AS (SELECT max(r) AS nd FROM ranked),
    first_seen AS (
        SELECT u.term, min(r) AS first_r
        FROM (SELECT r, unnest(t) AS term FROM ranked) u
        GROUP BY u.term
    ),
    tokcum AS (SELECT r, len(t) AS ntok FROM ranked),
    cp AS (
        SELECT f.frac, CAST(ceil(f.frac * d.nd) AS BIGINT) AS k_docs
        FROM (VALUES (0.1), (0.25), (0.5), (1.0)) f(frac), d
    )
    SELECT cp.frac, cp.k_docs,
           (SELECT CAST(sum(ntok) AS BIGINT) FROM tokcum
            WHERE r <= cp.k_docs) AS n_tokens,
           (SELECT CAST(count(*) AS BIGINT) FROM first_seen
            WHERE first_r <= cp.k_docs) AS vocab
    FROM cp
    """,
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: vocabulary size after the first 10/25/50/100%
    of documents (by doc_id order), paired with the token count of the
    same prefix — the V(N) ~ K*N^beta growth curve that sizes
    tokenizer vocabularies and detects template-heavy corpora (flat
    growth = repetitive text).

    Scale: the naive "distinct terms per prefix" is quadratic; the
    first-occurrence trick makes it ONE pass — vocab(k) = |terms whose
    MIN doc-rank <= k| — so each checkpoint is a filtered count over
    the per-term first_r frame.  r13 swap (plans/proto_r13.py): the
    |docs|-row rank window is gone too — the row
    only COMPARES ranks against four checkpoint positions, and the
    rank order is exactly doc_id order, so each checkpoint reduces to
    an order statistic of doc_id (the k-th smallest), found by
    ebayes-style bucket refinement (1024-wide bucket counts → the
    cumulative walk on the COLLECTED counts driver-side, the
    bounded-collect idiom → row-level rank ONLY inside the one bucket
    holding position k).  Per-term first-occurrence rank becomes
    min(doc_id); prefix membership becomes doc_id <= threshold.
    Exact by construction (rank r <= k  <=>  doc_id <= k-th smallest;
    pinned by tests/test_r13_prototypes.py), so the oracle's rank
    formulation is unchanged.  Measured trade (sf1 warm same-session
    A/B): ~2.0 → ~2.6 s locally — the old form cached the TOKENIZED
    CORPUS, so its three consumers shared one tokenization; this form
    tokenizes twice (token counts + first-occurrence) but needs no
    corpus-sized cache and no single-task |docs| rank — both
    disqualifying at 100 TB, which is why the locally-slower plan is
    the right one.  Every output cell is an exact integer; no floats
    anywhere."""
    import math

    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", tokens_col("text").alias("t")))
    # order-statistic thresholds by bucket refinement: ONE distributed
    # pass reduces doc_ids to 1024-wide bucket counts (~|docs|/1024
    # rows — 49 at sf1, still tiny at any realistic SF); the cumulative
    # walk and the checkpoint→bucket assignment run DRIVER-SIDE on the
    # collected counts (bounded-collect idiom, which also keeps the
    # plan free of unpartitioned windows)
    ids = docs.select("doc_id",
                      (F.col("doc_id") - F.col("doc_id") % 1024)
                      .alias("b"))
    bcnt_rows = collect_bounded(
        ids.groupBy("b").agg(F.count(F.lit(1)).alias("c")),
        _MAX_DOC_BUCKETS,
        "heaps_vocab_growth doc_id bucket histogram (widen the bucket "
        "stride before collecting)")
    bcnt = sorted((r["b"], r["c"]) for r in bcnt_rows)
    nd = sum(c for _, c in bcnt)
    target_rows = []
    for frac in (0.1, 0.25, 0.5, 1.0):
        k_docs = math.ceil(frac * nd)
        cum = 0
        for b, c in bcnt:
            if cum + c >= k_docs > cum:
                target_rows.append((frac, k_docs, b, cum))
                break
            cum += c
    target = local_df(spark, 
        target_rows, "frac double, k_docs long, b long, before long")
    wrow = Window.partitionBy("frac").orderBy("doc_id")
    # cache the 4-row threshold table: both prefix aggregates below
    # consume it, and an un-cached reuse re-expands the whole
    # bucket-refinement subtree (documents scans included) per consumer
    thr = (ids.join(F.broadcast(target), "b")
           .withColumn("rn", F.row_number().over(wrow))
           .where(F.col("before") + F.col("rn") == F.col("k_docs"))
           .select("frac", "k_docs", F.col("doc_id").alias("thr")).cache())
    # prefix token counts and vocab against the thresholds
    tokcum = docs.select("doc_id", F.size("t").alias("ntok"))
    toks_at = (thr.join(tokcum, tokcum.doc_id <= thr.thr)
               .groupBy("frac", "k_docs")
               .agg(F.sum("ntok").cast("long").alias("n_tokens")))
    first_seen = (docs.select("doc_id", F.explode("t").alias("term"))
                  .groupBy("term").agg(F.min("doc_id").alias("first_d")))
    vocab_at = (thr.join(first_seen, first_seen.first_d <= thr.thr)
                .groupBy("frac", "k_docs")
                .agg(F.count(F.lit(1)).cast("long").alias("vocab")))
    return toks_at.join(F.broadcast(vocab_at), ["frac", "k_docs"]) \
        .select("frac", "k_docs", "n_tokens", "vocab")
