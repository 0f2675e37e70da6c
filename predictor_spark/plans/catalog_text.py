"""Catalog part 2 — text analysis, dedup, similarity search (the
LLM-data-pipeline operator family; BASELINE.json north star).

Oracle strategy: these algorithms are deterministic by construction
(md5-prefix portable hashes, fixed permutation families, sin-derived
hyperplanes), so the DuckDB oracle re-implements the SAME algorithm and
must match bit-for-bit — including the recall misses of the approximate
variants. ngram_jaccard is the semantic ground truth; minhash_lsh is
checked as an algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.operators import dedup, similarity, text
from predictor_spark.plans.catalog import query, _t
from predictor_spark.plans.catalog_parity import _sig_sql
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded, local_df

# from the query: kmeans_one_step seeds the 4 lowest-id vectors
_KM_SEEDS = 4

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           round(CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                 / len({_TOKS}), 6) AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting — whitespace tokens, char counts, mean token length.
    Pure projection (scan-bound at any scale)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.with_token_stats(docs)
    return out.select("doc_id", "n_tokens", "n_chars_calc",
                      F.round("avg_token_len", 6).alias("avg_token_len"))


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(punct_ratio, 6) AS punct_ratio,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(quality_score, 6) AS quality_score
    FROM (
        SELECT doc_id,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(list_filter({_TOKS}, t -> lower(t) IN
                   ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                   / len({_TOKS}) AS stopword_ratio,
               (CAST(length(text) AS DOUBLE) - (len({_TOKS}) - 1)) / len({_TOKS}) AS mean_word_len,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok
        FROM documents
    ), LATERAL (
        SELECT ((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN stopword_ratio > 0.0 THEN 1.0 ELSE 0.0 END)
              + least(punct_ratio * 10.0, 1.0)) / 4.0 AS quality_score
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring — Gopher-style length/punctuation/stopword gates
    composed into one score. Projection-only; the repartition spreads the
    CPU-heavy tokenize across cores when the input arrives as one split
    (small-file parquet), same as shingle_sets/simhash."""
    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    out = text.with_quality_score(docs)
    return out.select(
        "doc_id",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def _lang_oracle() -> str:
    score = {
        lang: f"len(list_filter({_TOKS}, t -> lower(t) IN "
              f"({', '.join(repr(m) for m in text.LANG_MARKERS[lang])})))"
        for lang in text.LANG_PRIORITY
    }
    cases = []
    for lang in text.LANG_PRIORITY[:-1]:
        conds = " AND ".join(
            f"s_{lang} >= s_{o}" for o in text.LANG_PRIORITY if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{text.LANG_PRIORITY[-1]}' END"
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
    SELECT doc_id, lang, {case_sql} AS lang_pred
    FROM (SELECT doc_id, lang, {inner} FROM documents)
    """


@query("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID — stopword-marker voting with deterministic priority
    tie-break, emitted next to the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_lang_id(docs).select("doc_id", "lang", "lang_pred")


@query(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting — md5 over whitespace-normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_fingerprint(docs).select("doc_id", "fingerprint")


@query(
    "text_token_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
               AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')))
               AS BIGINT) AS n_distinct_bpe
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting — GPT-2-shaped pretokenizer regex
    (lookahead-free so Java regex and DuckDB's RE2 match identically).
    Pure projection; the LLM training-cost estimator at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_bpe_token_stats(docs).select(
        "doc_id", "n_bpe_tokens", "n_distinct_bpe"
    )


@query(
    "text_winnow_fingerprint",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               list_transform(range(1, length(text) - 8 + 2),
                   i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 7)) AS BIGINT)) AS hs
        FROM documents WHERE length(text) >= 8
    )
    SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(hs) - 4 + 2),
                   j -> list_min(list_transform(range(j, j + 4), x -> hs[x])))) AS fp
        FROM h WHERE len(hs) >= 4
    )
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., MOSS): k=8 char grams,
    window w=4, per-window minima, distinct. Local fingerprinting —
    any shared substring >= k+w-1 chars yields a shared fingerprint, at
    ~2/(w+1) density. Projection+explode, scan-bound."""
    docs = _t(spark, sf_dir, "documents")
    return text.winnow_fingerprints(docs, "doc_id", "text", k=8, w=4).distinct()


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup — hash-groupBy on content, keep min id. One shuffle on
    a 16-byte key regardless of document size."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id")


_SHINGLES_CTE = r"""
    toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a) - 1),
                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
            FROM toks
        )
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT id_a, id_b,
               CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE}
    SELECT id_a, id_b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.1 — the dedup ground truth.
    Quadratic in near-dup cluster size; at 100 TB use as the verify stage
    after LSH pruning (dedup_minhash_lsh)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)


def _minhash_oracle(num_perm: int = 16, bands: int = 4, threshold: float = 0.1) -> str:
    params = dedup._perm_params(num_perm)
    mh_exprs = ", ".join(
        f"min(({a} * h + {b}) % {dedup.MOD}) AS mh_{k}" for k, (a, b) in enumerate(params)
    )
    rpb = num_perm // bands
    band_keys = []
    for bi in range(bands):
        key = " || '_' || ".join(f"CAST(mh_{bi * rpb + r} AS VARCHAR)" for r in range(rpb))
        band_keys.append(f"SELECT doc_id, {bi} AS band, {key} AS bkey FROM sig")
    banded = " UNION ALL ".join(band_keys)
    return f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
        SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS h FROM sh
    ),
    sig AS (SELECT doc_id, {mh_exprs} FROM hashed GROUP BY doc_id),
    banded AS ({banded}),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, round(j.j, 6) AS jaccard
    FROM cands c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.j >= {threshold}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands) candidate pairs verified by exact
    Jaccard >= 0.1 — the linear-cost 100 TB dedup path. Deterministic
    permutation family -> the oracle replays the algorithm exactly."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=16, bands=4, threshold=0.1)


@query(
    "text_repetition",
    oracle=f"""
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                 / len({_TOKS}), 6) AS dup_token_fraction,
           round(CAST(list_max(list_transform(list_distinct({_TOKS}),
                 t -> len(list_filter({_TOKS}, x -> x = t)))) AS DOUBLE)
                 / len({_TOKS}), 6) AS top_token_ratio
    FROM documents
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (Gopher rules): duplicate-token fraction +
    most-common-token ratio, per-row array folds — no explode shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_repetition_stats(docs).select(
        "doc_id",
        F.round("dup_token_fraction", 6).alias("dup_token_fraction"),
        F.round("top_token_ratio", 6).alias("top_token_ratio"),
    )


def _pii_oracle() -> str:
    """The oracle injects deterministic synthetic PII (the corpus has
    none) so the redaction regexes are genuinely exercised."""
    sql = ("text || ' reach me: user' || doc_id || '@mail-' || doc_id "
           "|| '.example.com or 555-12-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
           "|| ' ip 10.0.' || (doc_id % 256) || '.7'")
    red = sql
    exprs = []
    for pat, tok in text.PII_PATTERNS:
        dpat = pat.replace("'", "''")
        exprs.append(f"len(regexp_extract_all({red}, '{dpat}'))")
        # replacement strings: [..] are literal in RE2 replacements
        red = f"regexp_replace({red}, '{dpat}', '{tok}', 'g')"
    n = " + ".join(exprs)
    return f"""
    SELECT doc_id, {red} AS redacted, CAST({n} AS BIGINT) AS n_redactions
    FROM documents
    """


@query("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — typed placeholder substitution for email/SSN/IP/
    phone, with per-row counts. The query appends deterministic synthetic
    PII to each doc (corpus has none) so the oracle actually checks the
    regex semantics across engines."""
    docs = _t(spark, sf_dir, "documents")
    with_pii = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach me: user"), F.col("doc_id"),
            F.lit("@mail-"), F.col("doc_id"), F.lit(".example.com or 555-12-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."), (F.col("doc_id") % 256), F.lit(".7"),
        ),
    )
    return text.redact_pii(with_pii).select("doc_id", "redacted", "n_redactions")


def _cluster_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(v, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
    )
    SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
    """


@query("dedup_clusters", oracle=_cluster_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash+LSH pair
    graph (operators/dedup.py connected_components — iterative min-label
    propagation, localCheckpoint per round). cluster_id = min doc_id of
    the component, the canonical survivor in keep-one dedup. Oracle:
    recursive-CTE transitive closure over the same pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                    n=3, num_perm=16, bands=4, threshold=0.1)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    return cc.select(F.col("vertex").alias("doc_id"),
                     F.col("component").alias("cluster_id"))


@query("dedup_clusters_star", oracle=_cluster_oracle())
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via alternating large/small-star CC
    (operators/dedup.py connected_components_star, Kiveris et al.
    SoCC'14) — O(log n) rounds vs min-label's O(diameter), the scale
    path for whale clusters and long chains. Same pair graph and same
    recursive-CTE oracle as dedup_clusters: both CC variants must land
    on identical (vertex, min-id component) labels.

    Which path runs depends on the graph's size: the pair graph has
    ~2,540 edges per SF, so up to dedup.MAX_CC_EDGES = 200,000 (below
    SF ~80) the edges are fetched once and labelled by union-find on
    the driver; past it the star rounds run on the cluster."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                    n=3, num_perm=16, bands=4, threshold=0.1)
    cc = dedup.connected_components_star(pairs, "id_a", "id_b")
    return cc.select(F.col("vertex").alias("doc_id"),
                     F.col("component").alias("cluster_id"))


@query(
    "dedup_keep_list",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(v, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
    ),
    drops AS (
        SELECT v AS doc_id FROM reach GROUP BY v HAVING v != min(r)
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup output: the documents that SURVIVE near-dup
    removal — every doc except non-canonical cluster members (cluster =
    connected component of the LSH pair graph, canonical = min doc_id).
    pairs -> clusters -> left_anti join; the keep-list is what a training
    pipeline actually consumes."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                    n=3, num_perm=16, bands=4, threshold=0.1)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    drops = cc.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    return docs.select("doc_id").join(drops, "doc_id", "left_anti")


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        )
    ),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) AS h FROM toks),
    votes AS (
        SELECT doc_id, b.bit,
               CASE WHEN CAST(floor(h / power(2, b.bit)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS vote
        FROM h, (SELECT unnest(range(0, 24)) AS bit) b
    ),
    agg AS (SELECT doc_id, bit, sum(vote) AS s FROM votes GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(sum((CASE WHEN s > 0 THEN 1 ELSE 0 END) * CAST(power(2, bit) AS BIGINT)) AS BIGINT) AS simhash
    FROM agg GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 24-bit signatures (token-level). Constant-size per doc;
    near-dup = small Hamming distance, bucketable like MinHash bands."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=24)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_COS = ("list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))")


@query(
    "knn_cosine_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, round({_COS}, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round({_COS}, 6) DESC, neighbor_id) AS rank
        FROM q, c WHERE query_id != neighbor_id
    ) WHERE rank <= 5
    """,
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 10).
    Broadcast queries x streamed corpus; rank over rounded score."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "kmeans_one_step",
    oracle="""
    WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < 4),
    a AS (
        SELECT e.vec_id, c.cid,
               round(list_sum(list_transform(range(1, 65),
                   i -> (e.embedding[i]::DOUBLE - c.cv[i])
                      * (e.embedding[i]::DOUBLE - c.cv[i]))), 6) AS d
        FROM embeddings e, c
    ),
    best AS (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM a
    )
    SELECT cid AS cluster, count(*) AS n, round(sum(d), 2) AS inertia
    FROM best WHERE rn = 1 GROUP BY cid
    """,
)
def kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step (operators/kmeans.py): nearest of the 4
    lowest-id centroid vectors by squared L2, per-cluster counts +
    inertia. Assignment is a broadcast-literal array argmin (map-side);
    the oracle replays it with rounded-distance tie-breaks. The full
    iterative kmeans_fit is differential-tested against numpy Lloyd's."""
    from predictor_spark.operators import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        list(r["v"]) for r in collect_bounded(
            emb.orderBy("vec_id").limit(_KM_SEEDS)
            .select(similarity.as_double_vec("embedding").alias("v")),
            _KM_SEEDS, "kmeans_one_step seeds")
    ]
    assigned = kmeans.assign_clusters(emb, cents, round_dp=6)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("dist"), 2).alias("inertia"),
    )


def _lsh_knn_oracle(n_planes: int = 6, dim: int = 64) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    qs AS (SELECT query_id, qv, {_sig_sql('qv', n_planes, dim)} AS sig FROM q),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    cs AS (SELECT neighbor_id, cv, {_sig_sql('cv', n_planes, dim)} AS sig FROM c)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, round({_COS}, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round({_COS}, 6) DESC, neighbor_id) AS rank
        FROM qs JOIN cs USING (sig) WHERE query_id != neighbor_id
    ) WHERE rank <= 5
    """


@query("knn_cosine_lsh", oracle=_lsh_knn_oracle())
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed cosine top-5 — sub-linear candidate set,
    deterministic sin-derived planes (oracle replays the approximation)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 10),
                                      k=5, n_planes=6, dim=64)


@query(
    "knn_label_vote_accuracy",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 100),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round({_COS}, 6) DESC, neighbor_id) AS rank
            FROM q, c WHERE query_id != neighbor_id
        ) WHERE rank <= 5
    ), votes AS (
        SELECT t.query_id, e.label AS nb_label, count(*) AS n_votes
        FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
        GROUP BY 1, 2
    ), pred AS (
        SELECT query_id, nb_label AS pred_label FROM (
            SELECT query_id, nb_label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, nb_label) AS r
            FROM votes
        ) WHERE r = 1
    )
    SELECT e.label AS true_label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
    GROUP BY 1 ORDER BY 1
    """,
)
def knn_label_vote_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: 5-NN majority-vote label prediction for the
    first 100 vectors, per-class hit counts. Votes and prediction ties
    resolve deterministically ((n_votes desc, label asc)); the kNN stage
    reuses the broadcast-query brute-force operator. This is the eval
    loop a curation pipeline runs to decide whether an embedding space is
    good enough to drive semantic dedup."""
    emb = _t(spark, sf_dir, "embeddings")
    topk = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 100), k=5)
    nb = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nb_label")),
        "neighbor_id",
    )
    votes = nb.groupBy("query_id", "nb_label").agg(F.count(F.lit(1)).alias("n_votes"))
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("nb_label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("nb_label").alias("pred_label"))
    )
    truth = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
            .cast("bigint").alias("n_correct"),
        )
        .orderBy("true_label")
    )


def _curation_oracle() -> str:
    """Composed curation-pipeline oracle: quality gate -> exact dedup ->
    LSH near-dup clusters -> benchmark contamination screen -> per-lang
    survivor report. Reuses the minhash pair fragment re-pointed at the
    filtered corpus."""
    pairs_sql = _minhash_oracle(num_perm=16, bands=4, threshold=0.1).replace(
        "FROM documents", "FROM corpus"
    )
    return rf"""
    WITH RECURSIVE
    qdocs AS (
        SELECT doc_id, text, lang FROM (
            SELECT doc_id, text, lang,
                   CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / length(text) AS punct_ratio,
                   CAST(len(list_filter({_TOKS}, t -> lower(t) IN
                       ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                       / len({_TOKS}) AS stopword_ratio,
                   (CAST(length(text) AS DOUBLE) - (len({_TOKS}) - 1)) / len({_TOKS})
                       AS mean_word_len,
                   CAST(len({_TOKS}) AS DOUBLE) AS n_tok
            FROM documents
        ), LATERAL (
            SELECT ((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN stopword_ratio > 0.0 THEN 1.0 ELSE 0.0 END)
                  + least(punct_ratio * 10.0, 1.0)) / 4.0 AS quality_score
        )
        WHERE quality_score > 0.5
    ),
    ex AS (SELECT min(doc_id) AS doc_id FROM qdocs GROUP BY md5(text)),
    corpus AS (
        SELECT q.doc_id, q.text, q.lang FROM qdocs q
        JOIN ex ON ex.doc_id = q.doc_id
        WHERE q.doc_id % 50 <> 0
    ),
    pairs AS ({pairs_sql}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(v, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
    ),
    drops AS (
        SELECT v AS doc_id FROM reach GROUP BY v HAVING v != min(r)
    ),
    survivors AS (
        SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    ),
    csh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a) - 1),
                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
                  FROM survivors)
        )
    ),
    bsh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a) - 1),
                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
                  FROM documents WHERE doc_id % 50 = 0)
        )
    ),
    cont AS (
        SELECT DISTINCT corpus_id FROM (
            SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id
            FROM csh c JOIN bsh b ON c.shingle = b.shingle
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
    ),
    final AS (
        SELECT * FROM survivors WHERE doc_id NOT IN (SELECT corpus_id FROM cont)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens
    FROM final GROUP BY lang ORDER BY lang
    """


@query("curation_e2e_report", oracle=_curation_oracle())
def curation_e2e_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation program a training-data pipeline runs,
    composed from the engine's operators in one plan: Gopher-style
    quality gate (> 0.5) -> exact dedup (min-id per content hash) ->
    MinHash-LSH near-dup clusters with canonical-min survivors ->
     3-gram contamination screen against the benchmark set (every 50th
    doc) -> per-lang survivor counts + token budget. The report is what
    a mixture/packing stage consumes next (pack_sequences_summary /
    mixture_stratified_sample run the same frames)."""
    from predictor_spark.operators import datapipe
    from predictor_spark.operators.dedup import _doc_shingles

    docs = _t(spark, sf_dir, "documents")
    # cached (r14, guide §2.4): q feeds BOTH the exact-dedup keep list
    # and the corpus join — un-cached, the tokenizer/regexp quality
    # scoring (the text-CPU cost of this pipeline) ran twice
    q = text.with_quality_score(docs).filter(F.col("quality_score") > 0.5) \
        .select("doc_id", "text", "lang").cache()
    keep_ids = dedup.exact_dedup(q, ["text"], "doc_id").select("doc_id")
    corpus = q.join(keep_ids, "doc_id").filter(F.col("doc_id") % 50 != 0).cache()
    # shingle the corpus ONCE for both downstream consumers (LSH minhash
    # + contamination screen) — shingling is the scan-bound cost at scale
    # LAZY cache (r15): the LSH candidate job is the first consumer and
    # fills the cache for the contamination screen — the eager .count()
    # was one full shingle pass of pure overhead per invocation
    corpus_sh = _doc_shingles(corpus, "doc_id", "text", 3).cache()
    pairs = dedup.minhash_lsh_pairs(corpus, "doc_id", "text",
                                    n=3, num_perm=16, bands=4, threshold=0.1,
                                    doc_shingles=corpus_sh)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    drops = cc.filter(F.col("vertex") != F.col("component")) \
        .select(F.col("vertex").alias("doc_id"))
    survivors = corpus.join(drops, "doc_id", "left_anti")
    surv_sh = corpus_sh.join(drops, "doc_id", "left_anti")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    cont = datapipe.contamination_pairs(survivors, bench, "doc_id", "text",
                                        n=3, min_common=2,
                                        corpus_shingles=surv_sh) \
        .select(F.col("corpus_id").alias("doc_id")).distinct()
    final = survivors.join(cont, "doc_id", "left_anti")
    return (
        final.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(text.tokens_col("text"))).cast("bigint")
            .alias("total_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring spans + vocabulary head (round-4 continuation)
# ---------------------------------------------------------------------------

_SPAN_K = 30        # character k-gram width
_SPAN_MIN = 50      # minimal reported span length
# both engines scan gram positions 1.._SPAN_MAXPOS only: the SQL oracle
# needs a static range() bound, so the Spark side clamps to the SAME
# constant — corpus docs max out near 600 chars, and a longer future
# corpus truncates IDENTICALLY on both sides instead of diverging
# (production span dedup would drop the clamp along with the oracle)
_SPAN_MAXPOS = 2048


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               md5(substr(text, CAST(i AS INTEGER), {_SPAN_K})) AS h
        FROM documents CROSS JOIN range(1, {_SPAN_MAXPOS} + 1) AS t(i)
        WHERE n_chars >= {_SPAN_K} AND i <= n_chars - {_SPAN_K} + 1
    ),
    dup AS (
        SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM grams WHERE h IN (SELECT h FROM dup)
    )
    SELECT doc_id,
           CAST(min(pos) AS INTEGER) AS span_start,
           CAST(max(pos) + {_SPAN_K} - min(pos) AS INTEGER) AS span_len
    FROM hits GROUP BY doc_id, isl
    HAVING max(pos) + {_SPAN_K} - min(pos) >= {_SPAN_MIN}
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (the ExactSubstr pass of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): every maximal run of character 30-grams that appear in ≥2
    distinct documents, reported per document as (start, length) once the
    merged span reaches 50 chars.  Downstream curation cuts these spans
    out of the training text.

    Algorithm: position-explode each doc into overlapping 30-grams,
    shuffle on the md5 of the gram (16 bytes crosses the wire, never the
    text — the suffix-array of the paper is replaced by a hash-grouped
    candidate pass, which is the shuffle-friendly equivalent for exact
    matches), keep grams whose hash occurs in ≥2 docs (min(doc_id) !=
    max(doc_id) within the hash group — one window pass, so the gram
    explode+md5 is computed and shuffled exactly once), then merge
    adjacent surviving positions per doc with one gaps-and-islands window
    pass.

    Scale: gram rows ≈ total corpus chars — linear.  The duplicate-hash
    filter is one hash-keyed window over the gram stream (full
    parallelism — |distinct grams| partitions); the island merge shuffles
    on doc_id only.  No all-pairs stage anywhere; skew only if one gram
    dominates (stop-gram cap would bound it — not needed at this corpus).
    """
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= _SPAN_K)
        # the docs table arrives as ONE parquet file -> one input split, so
        # without this the whole gram fan-out (~300 rows per doc) runs in a
        # single task; spreading docs first costs a tiny shuffle of the raw
        # docs and buys full-cluster parallelism for hashing + explode
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # hash INSIDE the transform, before the explode: exploding (pos, text)
    # pairs would copy the full document into every gram row (|doc|² bytes
    # per doc through the exchange); exploding pre-hashed (pos, md5)
    # structs keeps each row at 36 bytes
    grams = docs.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, least(cast(n_chars - {_SPAN_K} + 1 AS INT),"
            f" {_SPAN_MAXPOS})),"
            f" i -> struct(i AS pos, md5(substring(text, i, {_SPAN_K})) AS h))"
        )).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    # ">=2 distinct docs own this gram" ⟺ min(doc_id) != max(doc_id) over
    # the gram's rows, so ONE window pass keyed on h replaces the
    # dup-aggregate + left-semi pair (r14, guide §2.4): the un-cacheable
    # corpus-sized explode+md5 subtree was evaluated twice (once under the
    # countDistinct aggregate, once as the semi-join probe) and its rows
    # crossed two exchanges; now the grams are hashed once and shuffled
    # once, and a gram repeated only WITHIN one doc still drops (min ==
    # max), exactly like count(DISTINCT doc_id) < 2
    wh = Window.partitionBy("h")
    hits = (
        grams
        .withColumn("_mn", F.min("doc_id").over(wh))
        .withColumn("_mx", F.max("doc_id").over(wh))
        .filter(F.col("_mn") != F.col("_mx"))
        .drop("_mn", "_mx")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn("isl", F.col("pos") - F.row_number().over(wd))
        .groupBy("doc_id", "isl")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + _SPAN_K - F.min("pos")).cast("int").alias("span_len"),
        )
        .filter(F.col("span_len") >= _SPAN_MIN)
        .select("doc_id", "span_start", "span_len")
    )


@query(
    "vocab_topk",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM documents
    )
    SELECT token, count(*) AS n
    FROM toks WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head — the 20 most frequent whitespace tokens
    (tokenizer-coverage / fertility planning starts from exactly this
    table).  Ties break lexicographically so the LIMIT cut is
    deterministic in both engines.

    Scale: explode + partial-aggregated groupBy on the token — the
    shuffle carries |vocab| rows per task, not corpus tokens; the top-20
    is TakeOrderedAndProject (no global sort).  Zipf skew lives in the
    map-side combine, not the exchange.
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge training (distributed tokenizer-training pattern)
# ---------------------------------------------------------------------------

_BPE_ITERS = 3


def _bpe_oracle(iters: int = _BPE_ITERS) -> str:
    """Chained-CTE replay of the merge loop: pair statistics from the
    word histogram, best pair by (count DESC, left, right), greedy
    left-to-right merge via ONE non-overlapping replace on the
    delimiter-wrapped symbol string (see bpe_train_merges docstring for
    why that single pass IS the greedy merge)."""
    parts = [r"""
    WITH words AS (
        SELECT w, count(*) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    rep0 AS (
        SELECT cnt, regexp_replace(w, '(.)', '\1', 'g') AS rep
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
                         list_filter(string_split(rep, ''),
                                     x -> x <> '') AS syms
                  FROM rep{k - 1})
        ) GROUP BY pr.l, pr.r
    ),
    best{k} AS (
        SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym,
               pc AS pair_count
        FROM pairs{k} ORDER BY pc DESC, l, r LIMIT 1
    ),
    rep{k} AS (
        SELECT cnt, replace(rep, pat, rp) AS rep
        FROM rep{k - 1}, (SELECT '' || left_sym || '' ||
                                     right_sym || '' AS pat,
                                 '' || left_sym || right_sym || ''
                                     AS rp
                          FROM best{k})
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM best{k}"
                               for k in range(1, iters + 1))
    return "".join(parts) + "\n    " + union


@query("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016), first 3
    merges: aggregate the corpus to a word histogram ONCE, then iterate
    (pair statistics -> argmax pair -> greedy merge) over the tiny
    histogram.  Pair statistics count every adjacent symbol position
    (classic BPE); the winning pair breaks ties by (count DESC, left,
    right).

    The greedy left-to-right merge is ONE pass of the built-in
    non-overlapping string replace over a DELIMITER-WRAPPED symbol
    string: every symbol is stored as \\x1f·sym·\\x1f (so two adjacent
    symbols abut as "\\x1fl\\x1f\\x1fr\\x1f"), and the merge replaces
    "\\x1fl\\x1f\\x1fr\\x1f" with "\\x1flr\\x1f".  Because consecutive
    pattern occurrences share NO characters in this encoding, the
    engine's left-to-right non-overlapping replace consumes pairs in
    exactly greedy order — including the self-adjacent l==r case
    ("aaaaa" -> [aa, aa, a]) where a space-separated encoding provably
    diverges (adjacent matches share the boundary space, so replace
    skips every second occurrence: a review fuzz against a reference
    trainer failed 28/60 corpora before this encoding).  The full
    trailing delimiter of r is inside the pattern, so a pair can never
    match a proper PREFIX of a longer symbol.  Both engines' replace()
    share these semantics, and the unit separator cannot occur inside
    a whitespace-token symbol.  (Char alphabet note: the initial split
    uses regex '(.)' — a UTF-16 code unit in Spark vs a codepoint in
    DuckDB's RE2; identical on BMP text, so the corpus contract is
    BMP/ASCII, as the generator produces.)

    Scale: the corpus scan ends at the word histogram (partial-agg
    shuffle carries |vocab| rows); every iteration is O(|vocab|) — the
    same pre-aggregation production BPE trainers use.  Iterations are
    sequential by nature; each is one tiny groupBy + a broadcast of the
    1-row winner into the merge projection.
    """
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "cnt",
        F.regexp_replace("w", "(.)", "$1").alias("rep"),
    )
    # r14 (guide §2.4/§5): the pre-r14 lazy chain re-derived every
    # earlier iteration inside each later one (best1's whole subtree
    # appeared again under best2 and best3 — 36 Exchange nodes,
    # plans/r14/bpe_train_merges_before.txt).  Each iteration now
    # lazily checkpoints the histogram (materialized by its own
    # 1-row winner collect, one job per iteration), folds the winner
    # into the merge as string LITERALS, and the 3-row output is a
    # local relation of the collected exact values — identical rows,
    # linear work.
    best_rows = []
    for k in range(1, _BPE_ITERS + 1):
        cur = cur.localCheckpoint(eager=False)
        syms = cur.withColumn(
            "syms", F.expr("filter(split(rep, ''), x -> x <> '')"))
        # guard: a 1-symbol word yields sequence(0, -1), which Spark
        # generates DESCENDING ([0, -1]) instead of empty — filter the
        # pairless words out of the statistics (they contribute nothing)
        pairs = syms.filter(F.size("syms") >= 2).select(
            "cnt",
            F.explode(F.expr(
                "transform(sequence(0, size(syms) - 2),"
                " i -> struct(syms[i] AS l, syms[i + 1] AS r))")).alias("pr"),
        ).select("cnt", "pr.l", "pr.r")
        won = collect_bounded(
            pairs.groupBy("l", "r").agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "l", "r").limit(1),
            ONE_ROW, "bpe argmax pair")
        if not won:
            # no adjacent pair anywhere: the pre-r14 chain produced
            # empty best frames from here on — stop identically
            break
        w = won[0]
        best_rows.append((k, w["l"], w["r"], int(w["pc"])))
        pat = "" + w["l"] + "" + w["r"] + ""
        rp = "" + w["l"] + w["r"] + ""
        cur = syms.select(
            "cnt",
            F.replace(F.col("rep"), F.lit(pat), F.lit(rp)).alias("rep"))
    from pyspark.sql import types as T
    return local_df(spark, 
        best_rows,
        T.StructType([
            T.StructField("merge_rank", T.IntegerType(), False),
            T.StructField("left_sym", T.StringType(), True),
            T.StructField("right_sym", T.StringType(), True),
            T.StructField("pair_count", T.LongType(), True),
        ]))


_EMB_DIM = 64  # generator contract (TESTDATA.md); shared engine/oracle


@query(
    "label_centroid_similarity",
    oracle=f"""
    WITH dims AS (
        SELECT label, CAST(i AS INTEGER) AS pos, avg(embedding[CAST(i AS INTEGER)]) AS c
        FROM embeddings CROSS JOIN range(1, {_EMB_DIM} + 1) AS t(i)
        GROUP BY label, i
    ),
    pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.c * b.c) AS dot,
               sqrt(sum(a.c * a.c)) AS na, sqrt(sum(b.c * b.c)) AS nb
        FROM dims a JOIN dims b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b, round(dot / (na * nb), 6) + 0.0 AS cosine
    FROM pairs
    """,
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids —
    the embedding-space class-separation diagnostic (how close are the
    label clusters a classifier must separate; also the quantizer-quality
    view for the IVF index).

    Scale: centroids reduce map-side per (label, dim) — the shuffle
    carries |labels|·dim rows, never embeddings; the pairwise stage runs
    over the |labels|·dim centroid frame (self-join on the dim key),
    which stays tiny until |labels| reaches thousands — at which point
    the same plan shards by label-pair blocks.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # slice to the SAME dim constant the oracle's range bound uses, so a
    # future dim change breaks loudly in one place instead of silently
    # truncating only the oracle side (review finding)
    dims = (
        emb.select("label", F.posexplode(
            F.slice("embedding", 1, _EMB_DIM)).alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.avg("v").alias("c"))
    )
    a, b = dims.alias("a"), dims.alias("b")
    pairs = (
        a.join(b, (F.col("a.pos") == F.col("b.pos"))
               & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"),
                 F.col("b.label").alias("label_b"))
        .agg(
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.sqrt(F.sum(F.col("a.c") * F.col("a.c"))).alias("na"),
            F.sqrt(F.sum(F.col("b.c") * F.col("b.c"))).alias("nb"),
        )
    )
    return pairs.select(
        "label_a", "label_b",
        (F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6) + F.lit(0.0))
        .alias("cosine"),
    )
