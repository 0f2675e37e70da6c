"""Catalog part — product-quantization ANN (STAGED for r8).

Completes the engine's approximate-nearest-neighbor ladder
(brute-force -> LSH -> IVF, operators/similarity.py) with the
compressed-domain scan every billion-vector index runs on top of IVF:

- pq_adc_topk  product quantization with asymmetric distance
               computation + exact re-rank (Jégou, Douze & Schmid,
               TPAMI 2011 — the ADC+R arrangement): M = 16 subspaces
               x 4 dims, K = 16 centroids per subspace trained by
               the SAME deterministic Lloyd's fit the IVF row uses
               (operators/kmeans.py), vectors encoded to 16 small
               codes, queries scanning CODES ONLY via per-subspace
               distance tables to a 50-candidate shortlist, then ONE
               keyed join pulls raw vectors for the exact top-5
               re-rank (recall@5 vs brute force with the _FIT_N-sample
               quantizer: 0.88 at sf0.001, 0.90 at sf0.01 — pinned in
               tests)

Determinism: the per-subspace k-means rides kmeans_fit's rounding
conventions (assign_dp = 6, centroid_dp = 8 — the knn_cosine_ivf
precedent, which pins centroids bit-exactly across engines); every
ADC term is a 6-dp-rounded subspace distance, summed in a fixed
16-term order; both rank stages break ties on the neighbor id.

Scale: this is WHY PQ exists — the linear scan never touches a raw
vector: it reads |codes| tiny integers and adds M table lookups per
candidate (the literal distance-table arrays live in the projection,
so the scan is whole-stage-codegen JVM arithmetic); only the
50-candidate shortlist per query pulls raw vectors back through a
keyed join for the exact re-rank.  At 100 TB the code table is
~1/16th the raw embedding bytes and the same plan serves from the
IVF row's probed lists (IVFADC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.operators.similarity import as_double_vec
from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import collect_bounded, local_df, spark_round

_M, _SUB, _K, _ITER = 16, 4, 16, 2
_SHORT = 50  # ADC shortlist size before the exact re-rank
_TOPK = 5
_NQ = 10  # queries: vec_id < 10 (the IVF/bruteforce convention)
#: quantizer-fit sample size: the 256 codebook centroids train on the
#: _FIT_N lowest-md5 vectors (deterministic, engine-agnostic), NEVER the
#: full table — the bound that makes "fit input is bounded by design"
#: true at any SF (VERDICT r7 #6; at 100 TB a codebook fit over every
#: vector would shuffle the whole corpus into 8 partitions)
_FIT_N = 256


def _exploded(emb_v: DataFrame) -> DataFrame:
    """(vec_id, m, sv): one row per (vector, subspace), sv the 4-dim
    slice — the frame every PQ stage joins the codebook onto."""
    slices = F.array(*[F.slice(F.col("v"), m * _SUB + 1, _SUB)
                       for m in range(_M)])
    return emb_v.select(
        "vec_id", F.posexplode(slices).alias("m", "sv"))


def _subdist():
    """Squared distance of the 4-dim slice to a codebook entry, fixed
    fold order (sv/cv element pairs, d = 0..3)."""
    dist = None
    for d in range(_SUB):
        e = (F.element_at("sv", d + 1) - F.element_at("cv", d + 1))
        t = e * e
        dist = t if dist is None else dist + t
    return dist


def _dkey(dist):
    """The (round(dist, 6), c) argmin key as ONE comparable long:
    6-dp distance in exact integer micro-units times _K plus the
    centroid id. round(·,6) yields the nearest double to an exact
    k/1e6 decimal, so ·1e6 is within an ulp of the integer k and the
    outer round recovers it EXACTLY (distances here are O(10), far
    below the 2^53/_K bound) — encoded min ≡ lexicographic
    (dist, c) min, bit-for-bit the old min(struct) argmin. Why: a
    native long min is a codegen HashAggregate with map-side partial
    aggregation, where min(struct) forced an interpreted
    ObjectHashAggregate — measured 1.5–1.6× on the encode pass (r14,
    guide §2.3/§4: shuffle/aggregate narrower types).

    NaN contract (ADVICE r14): CAST(NaN AS LONG) is 0 in Spark, so a
    NaN distance would WIN this argmin where the old min(struct)
    ordered NaN last.  That divergence needs a NaN in an embedding;
    the reference tables' embeddings are finite by construction, so
    the guard below changes no result there: a NaN distance maps to a
    NULL key, which min() skips, so a NaN centroid can never win."""
    dist = F.when(~F.isnan(dist), dist)
    return (F.round(F.round(dist, 6) * 1e6, 0).cast("long") * _K
            + F.col("c"))


def _assign(ex: DataFrame, cb: DataFrame,
            with_sv: bool = True) -> DataFrame:
    """(vec_id, m, code[, sv]): nearest codebook entry per subspace —
    a BROADCAST join against the 256-row codebook + a long-encoded
    argmin (_dkey: 6-dp rounded distance, lowest-centroid tie-break).
    Embedding the codebook as literal expressions instead put ~1000
    element_at nodes into one projection and pushed codegen past the
    JVM method limit into interpreted fallback — the join form keeps
    every stage small AND is the shape that scales (a real codebook is
    data, not SQL text).  ``with_sv=False`` drops the subvector payload
    for callers that only need the code; with it, sv is constant within
    the (vec_id, m) group (it is the vector's OWN slice), so first(sv)
    carries it without entering the comparison."""
    key = _dkey(_subdist())
    aggs = [F.min(key).alias("k")]
    if with_sv:
        aggs.append(F.first("sv").alias("sv"))
    best = (ex.join(F.broadcast(cb), "m")
            .groupBy("vec_id", "m")
            .agg(*aggs))
    cols = ["vec_id", "m",
            F.pmod(F.col("k"), F.lit(_K)).cast("int").alias("code")]
    if with_sv:
        cols.append(F.col("sv"))
    return best.select(*cols)


def _fit_sample(emb_v: DataFrame) -> DataFrame:
    """The _FIT_N lowest-md5(vec_id) vectors — a deterministic,
    engine-agnostic sample (DuckDB replays the identical ORDER BY
    md5 LIMIT) that bounds the quantizer-fit input at any SF.  Spark
    plans it as TakeOrderedAndProject: a map-side top-K, no full
    shuffle."""
    return (emb_v
            .withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h", "vec_id").limit(_FIT_N).drop("h"))


def _fit_codebooks(spark: SparkSession, fit_rows: list) -> list:
    """Deterministic Lloyd's fit for ALL _M subspaces at once —
    kmeans_fit's exact semantics (lowest-id init, 6-dp assignment
    rounding with lowest-centroid ties, 8-dp centroid rounding, empty
    clusters keep the previous centroid).  Returns
    [subspace][centroid] -> list[float].

    ``fit_rows``: the COLLECTED _fit_sample rows (bounded at _FIT_N by
    construction).  r15 (guide §1.2): the fit input is 256 vectors, so
    the whole fit runs driver-side — the r14 form still launched one
    Spark job (broadcast + 2-Exchange aggregate over a local relation)
    PER iteration, ~0.9 s each at local[32] for 4096 local rows.  Float
    semantics are preserved operation for operation: squared distances
    accumulate in the same d = 0..3 fold order as _subdist, assignment
    compares (round6(d2), centroid) exactly (spark_round is Spark's
    double rounding bit-for-bit), and centroid updates are
    round8(sum/count) with the sum in ascending-vec_id order (the
    Spark/DuckDB partial-agg orders were never pinned to each other
    either; the books are verified BIT-IDENTICAL to the r14 Spark-job
    fit on sf0.001/0.01/0.1 by test_fit_codebooks_matches_spark_form)."""
    rows = sorted(fit_rows, key=lambda r: r["vec_id"])
    init = rows[:_K]
    books = [[list(r["v"])[m * _SUB:(m + 1) * _SUB] for r in init]
             for m in range(_M)]
    slices = [[list(r["v"])[m * _SUB:(m + 1) * _SUB] for m in range(_M)]
              for r in rows]
    for _ in range(_ITER):
        sums: dict = {}
        counts: dict = {}
        for svs in slices:
            for m in range(_M):
                sv = svs[m]
                book = books[m]
                # raw distances first; exact 6-dp rounding only for the
                # centroids within one rounding grid step of the raw
                # minimum (rounding is monotone, so no other centroid
                # can win the (round6(d2), c) argmin)
                d2s = []
                for cv in book:
                    d2 = None
                    for d in range(_SUB):
                        e = sv[d] - cv[d]
                        t = e * e
                        d2 = t if d2 is None else d2 + t
                    d2s.append(d2)
                dmin = min(d2s)
                code = min((spark_round(d2, 6), c)
                           for c, d2 in enumerate(d2s)
                           if d2 <= dmin + 2e-6)[1]
                key = (m, code)
                if key in counts:
                    counts[key] += 1
                    s = sums[key]
                    for d in range(_SUB):
                        s[d] += sv[d]
                else:
                    counts[key] = 1
                    sums[key] = list(sv)
        books = [[[spark_round(sums[(m, c)][d] / counts[(m, c)], 8)
                   for d in range(_SUB)]
                  if (m, c) in counts else books[m][c]
                  for c in range(_K)]
                 for m in range(_M)]
    return books


def _pq_oracle() -> str:
    """Replays the whole PQ path in SQL: per-subspace Lloyd's unrolled
    as CTE chains (the knn_cosine_ivf oracle pattern on slices),
    encode, then the ADC scan with 6-dp rounded table terms."""
    ctes = [
        "c AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        # quantizer-fit sample: the _FIT_N lowest-md5 vectors (identical
        # predicate to the Spark _fit_sample — engine-agnostic hex)
        f"fitv AS MATERIALIZED (SELECT vec_id, v FROM c "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_FIT_N})",
    ]
    code_joins = []
    for m in range(_M):
        lo = m * _SUB + 1
        sqd = (f"round(list_sum(list_transform(range({lo}, {lo + _SUB}), "
               f"i -> (e.v[i] - ct.cv[CAST(i - {lo - 1} AS INTEGER)])"
               f" * (e.v[i] - ct.cv[CAST(i - {lo - 1} AS INTEGER)]))), 6)")
        ctes.append(
            f"s{m}_c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 "
            f"AS cent_id, v[{lo}:{lo + _SUB - 1}] AS cv "
            f"FROM (SELECT * FROM fitv ORDER BY vec_id LIMIT {_K}))")
        cur = f"s{m}_c0"
        for it in range(_ITER):
            a, u, nxt = f"s{m}_a{it}", f"s{m}_u{it}", f"s{m}_c{it + 1}"
            ctes.append(
                f"{a} AS MATERIALIZED (SELECT vec_id, cent_id FROM ("
                f"SELECT e.vec_id, ct.cent_id, row_number() OVER "
                f"(PARTITION BY e.vec_id ORDER BY {sqd}, ct.cent_id) AS rn "
                f"FROM fitv e, {cur} ct) WHERE rn = 1)")
            ctes.append(
                f"{u} AS MATERIALIZED (SELECT {a}.cent_id, d.i, "
                f"round(avg(e.v[CAST(d.i + {lo - 1} AS INTEGER)]), 8) AS m "
                f"FROM {a} JOIN fitv e USING (vec_id), "
                f"(SELECT unnest(range(1, {_SUB + 1})) AS i) d "
                f"GROUP BY {a}.cent_id, d.i)")
            ctes.append(
                f"{nxt} AS MATERIALIZED (SELECT cent_id, list(m ORDER BY i) AS cv "
                f"FROM {u} GROUP BY cent_id "
                f"UNION ALL SELECT p.cent_id, p.cv FROM {cur} p "
                f"WHERE p.cent_id NOT IN (SELECT cent_id FROM {u}))")
            cur = nxt
        ctes.append(
            f"s{m}_code AS MATERIALIZED (SELECT vec_id, cent_id AS code{m} FROM ("
            f"SELECT e.vec_id, ct.cent_id, row_number() OVER "
            f"(PARTITION BY e.vec_id ORDER BY {sqd}, ct.cent_id) AS rn "
            f"FROM c e, {cur} ct) WHERE rn = 1)")
        # query-side distance table for this subspace (rounded terms)
        qsqd = (f"round(list_sum(list_transform(range({lo}, {lo + _SUB}), "
                f"i -> (q.v[i] - ct.cv[CAST(i - {lo - 1} AS INTEGER)])"
                f" * (q.v[i] - ct.cv[CAST(i - {lo - 1} AS INTEGER)]))), 6)")
        ctes.append(
            f"s{m}_tab AS MATERIALIZED (SELECT q.vec_id AS query_id, ct.cent_id, "
            f"{qsqd} AS t FROM (SELECT * FROM c WHERE vec_id < {_NQ}) q, "
            f"{cur} ct)")
        code_joins.append(f"s{m}_code")
    codes = " JOIN ".join([code_joins[0]]
                          + [f"{t} USING (vec_id)" for t in code_joins[1:]])
    tabs = " AND ".join(
        f"t{m}.query_id = t0.query_id" for m in range(1, _M))
    tab_join = ", ".join(f"s{m}_tab t{m}" for m in range(_M))
    terms = " + ".join(f"t{m}.t" for m in range(_M))
    tab_on = " AND ".join(f"t{m}.cent_id = x.code{m}" for m in range(_M))
    exact = (f"round(list_sum(list_transform(range(1, {_M * _SUB + 1}), "
             "i -> (q.v[i] - nv.v[i]) * (q.v[i] - nv.v[i]))), 6)")
    return ("WITH " + ",\n    ".join(ctes) + f""",
    codes AS MATERIALIZED (SELECT * FROM {codes}),
    adc AS MATERIALIZED (
        SELECT t0.query_id, x.vec_id AS neighbor_id,
               {terms} AS approx_d2
        FROM codes x, {tab_join}
        WHERE {tab_on} AND {tabs} AND x.vec_id != t0.query_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id, approx_d2 FROM (
            SELECT query_id, neighbor_id, approx_d2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx_d2, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_SHORT}
    ),
    reranked AS (
        SELECT s.query_id, s.neighbor_id,
               round(s.approx_d2, 6) AS approx_d2,
               {exact} AS exact_d2
        FROM shortlist s
        JOIN c q ON q.vec_id = s.query_id
        JOIN c nv ON nv.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, approx_d2, exact_d2,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT reranked.*,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY exact_d2, neighbor_id) AS rank
        FROM reranked
    ) WHERE rank <= {_TOPK}
    ORDER BY query_id, rank
    """)


@query("pq_adc_topk", oracle=_pq_oracle())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC + exact re-rank, top-5 for queries vec_id < 10:
    per-subspace codebooks trained by the deterministic Lloyd's fit,
    every vector encoded to (code0..code15), the compressed-domain
    scan ranks by summed distance-table lookups (each query's 16x16
    table is literal arrays in the projection — a candidate costs 16
    element_at lookups + 15 adds), the top-50 shortlist pulls raw
    vectors through ONE keyed join, and the exact distances pick the
    final 5.  Recall@5 vs brute force: 0.88/0.90 (sf0.001/sf0.01) with
    the bounded _FIT_N-sample quantizer.

    Scale: the scan side reads ONLY the code table; raw vectors are
    touched for 50 rows per query.  The oracle unrolls the same
    subspace fits as SQL CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    emb_v = emb.select("vec_id", as_double_vec("embedding").alias("v"))
    # the quantizer trains on the _FIT_N lowest-md5 vectors, not the
    # full table (VERDICT r7 #6).  r14: collect the bounded sample ONCE
    # (a single map-side TakeOrderedAndProject job) and run the fit
    # over local relations — see _fit_codebooks.
    fit_rows = collect_bounded(_fit_sample(emb_v), _FIT_N, "pq fit sample")
    books = _fit_codebooks(spark, fit_rows)
    ex = _exploded(emb_v)

    # encode: broadcast-join assignment on the exploded frame, folded
    # back to one (vec_id, code0..code15) row per vector.  r14 (guide
    # §2.4): ONE groupBy(vec_id) with per-subspace conditional
    # min(struct) aggregates replaces the groupBy(vec_id, m) + pivot
    # groupBy(vec_id) pair — same argmin per (vector, subspace), same
    # (dist, centroid) tie-break, one Exchange over the widest frame
    # instead of two.
    cb = local_df(spark, 
        [(m, c, books[m][c]) for m in range(_M) for c in range(_K)],
        "m int, c int, cv array<double>")
    # r14: the argmin runs on the _dkey long encoding (bit-identical to
    # the old min(struct(d, c)) — see _dkey), turning 16 interpreted
    # ObjectHashAggregate struct-mins into codegen long-mins with
    # map-side partial aggregation; codes frame pinned equal on
    # sf0.01/sf0.1, encode pass measured 1.75 -> 1.19 s min-of-5.
    ekey = _dkey(_subdist())
    codes = (ex.join(F.broadcast(cb), "m")
             .groupBy("vec_id")
             .agg(*[F.min(F.when(F.col("m") == m, ekey))
                    .alias(f"b{m}") for m in range(_M)])
             .select("vec_id",
                     *[F.pmod(F.col(f"b{m}"), F.lit(_K)).cast("int")
                       .alias(f"code{m}") for m in range(_M)]))
    v = as_double_vec("embedding")

    # ADC distance tables are a function of the QUERY alone: compute
    # all M x K rounded terms once over the 10 query rows, carry them
    # as array columns — the scan side then pays 16 element_at lookups
    # + 15 adds per candidate.  The tables are built by JOINING the
    # query slices against the codebook FRAME and folding to ordered
    # arrays: the earlier literal-expression form (256 centroids x a
    # 4-dim distance each = ~7700 expression nodes in one projection)
    # spent 18 s in analysis/codegen before touching a row — the same
    # lesson as the codebook join above, one layer up.
    queries = (emb.where(F.col("vec_id") < _NQ)
               .select(F.col("vec_id").alias("query_id"),
                       v.alias("qv")))
    qslices = (queries
               .select(F.col("query_id").alias("vec_id"), F.col("qv")
                       .alias("v"))
               .transform(_exploded)
               .withColumnRenamed("vec_id", "query_id"))
    qdist = None
    for d in range(_SUB):
        e = F.element_at("sv", d + 1) - F.element_at("cv", d + 1)
        t = e * e
        qdist = t if qdist is None else qdist + t
    qtab_rows = (qslices.join(F.broadcast(cb), "m")
                 .select("query_id", "m", "c",
                         F.round(qdist, 6).alias("t")))
    # r14 (guide §2.4): one groupBy(query_id) with per-subspace
    # conditional collect_lists replaces the groupBy(query_id, m) +
    # pivot groupBy(query_id) pair — collect_list skips the NULLs of
    # other subspaces, array_sort orders by (c, t) exactly as before,
    # so each tab{m} array is element-identical with one less Exchange.
    qtabs = (qtab_rows.groupBy("query_id")
             .agg(*[F.transform(
                 F.array_sort(F.collect_list(
                     F.when(F.col("m") == m, F.struct("c", "t")))),
                 lambda x: x["t"]).alias(f"tab{m}") for m in range(_M)])
             .join(F.broadcast(queries), "query_id"))
    joined = codes.join(F.broadcast(qtabs),
                        F.col("vec_id") != F.col("query_id"))
    approx = None
    for m in range(_M):
        term = F.element_at(F.col(f"tab{m}"), F.col(f"code{m}") + 1)
        approx = term if approx is None else approx + term
    # r15 (guide §2.5, VERDICT r14 #2): the shortlist rank window has
    # only |queries| = 10 partitions, so a single task sorted the whole
    # corpus's candidates per query.  Two-phase top-k: a deterministic
    # salt (hash of the neighbor id, one bucket per core, scale-adaptive
    # via defaultParallelism) bounds every per-task sort to ~1/nsalt of
    # the candidates; the global pass then ranks <= nsalt * _SHORT
    # survivors per query.  Exact by construction: (approx_d2,
    # neighbor_id) is a strict total order per query and every global
    # top-_SHORT row is in its salt bucket's top-_SHORT.
    nsalt = max(8, spark.sparkContext.defaultParallelism)
    cand = joined.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "qv",
        approx.alias("approx_d2"))
    w_salt = Window.partitionBy(
        "query_id", F.pmod(F.xxhash64("neighbor_id"), F.lit(nsalt))
    ).orderBy("approx_d2", "neighbor_id")
    pre = (cand.withColumn("rn", F.row_number().over(w_salt))
           .where(F.col("rn") <= _SHORT)
           .drop("rn"))
    w_adc = Window.partitionBy("query_id").orderBy("approx_d2",
                                                   "neighbor_id")
    shortlist = (pre
        .withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= _SHORT)
        .drop("rn"))
    # exact re-rank: ONE keyed join pulls the 50 raw vectors per query
    nv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    v.alias("nv"))
    exact = F.round(F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, d: acc + d), 6)
    w_final = Window.partitionBy("query_id").orderBy("exact_d2",
                                                     "neighbor_id")
    # r14 (guide §3.1): broadcast the BOUNDED shortlist (<= queries x
    # _SHORT rows) so the raw-vector side streams through a broadcast
    # hash join — no shuffle/sort of the corpus scan; the pre-r14 plan
    # let the planner shuffle both sides on neighbor_id.
    shortlist = F.broadcast(shortlist)
    return (shortlist.join(nv, "neighbor_id")
            .select("query_id", "neighbor_id",
                    F.round("approx_d2", 6).alias("approx_d2"),
                    exact.alias("exact_d2"))
            .withColumn("rank", F.row_number().over(w_final).cast("long"))
            .where(F.col("rank") <= _TOPK)
            .orderBy("query_id", "rank"))
