"""Deduplication operator family for LLM-data pipelines (BASELINE.json):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these at 100 TB):
- exact dedup: one hash-shuffle groupBy on the content key; no pairwise
  anything.
- n-gram Jaccard: exact pairwise similarity — O(pairs); only usable after
  candidate pruning. Exposed standalone for oracle checking and as the
  verify stage of LSH.
- MinHash+LSH: linear-cost signatures (one explode + groupBy), candidate
  generation by band-bucket join (shuffle on band key — skew-safe because
  bucket sizes are bounded by near-dup cluster size, and AQE splits hot
  buckets), exact-Jaccard verification only on candidates. This is the
  100 TB dedup path.
- SimHash: constant-size signature per doc; near-dup = small Hamming
  distance; bucket by bit-bands like MinHash.
- connected components (pairs -> clusters): size-adaptive, the way AQE
  picks a broadcast join.  The raw edges are checkpointed and counted
  by one bounded fetch; up to ``MAX_CC_EDGES`` edges (the near-dup
  graph below SF ~80) union-find on the driver labels them and the
  result re-enters through ``local_df``, past it the distributed
  rounds run on the same checkpoint.  Both paths are exact or raise.

Hashes use the engine-portable md5-prefix scheme (operators/text.py) when
``portable=True`` so a DuckDB oracle reproduces results bit-for-bit;
production swaps xxhash64 in (same topology, cheaper hash).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from predictor_spark.operators.localrel import (
    ONE_ROW, collect_bounded, fetch_bounded, local_df)
from predictor_spark.operators.text import portable_hash, shingles_col

#: modulus for the universal-hash family (a*h + b) % MOD; prime, and small
#: enough that a*h fits in int64 for 28-bit h and 31-bit a.
MOD = 1_000_000_007


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation — odd multipliers, fixed seed-free
    sequence so Spark and any oracle derive identical families."""
    return [(2 * k + 1, 12_345 + 7 * k) for k in range(1, num_perm + 1)]


def exact_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Exact deduplication — keep the min-id row per identical key.

    One groupBy shuffle on the content hash. For wide keys, pre-hash with
    md5/xxhash64 so the shuffle key is 16 bytes, not the document."""
    # NULL is encoded as a distinct sentinel: concat_ws silently DROPS
    # nulls, so ('a', NULL) would otherwise collide with ('a',) or
    # (NULL, 'a') despite being distinct keys.
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00<NULL>\x00"))
             for c in key_cols]
    key = F.md5(F.concat_ws("\x01", *parts))
    return (
        df.withColumn("__key", key)
        .groupBy("__key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__key")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct n-gram shingles.

    Repartitions by id first: a small parquet file arrives as ONE input
    split, which would serialize the CPU-heavy tokenize+explode on a
    single core; the cheap pre-shuffle (doc ids + text only) spreads it
    across the cluster and co-locates each doc's shingles for the
    downstream per-doc aggregates."""
    return df.select(id_col, text_col).repartition(F.col(id_col)).select(
        F.col(id_col), F.explode(shingles_col(text_col, n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above ``threshold``.

    |A∩B| via self-join on shingle; |A∪B| = |A| + |B| - |A∩B|.
    Quadratic in cluster size — at scale, run AFTER LSH candidate pruning
    (see minhash_lsh_pairs); standalone here it is the ground-truth oracle.
    """
    sh = shingle_sets(df, id_col, text_col, n).cache()
    sh.count()  # materialize BEFORE fan-out: the self-join's two branches
    # racing to fill the cache would each recompute the shingling
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("set_size", "size_b")
    out = (
        inter.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh: array<string>) — per-doc distinct shingle ARRAY. Docs whose
    text yields no shingle (fewer than n tokens) are dropped, matching the
    explode-based formulation. Array-native on purpose: shingling stays
    inside the projection (whole-stage codegen), so signature computation
    needs NO shuffle at all — the explode+groupBy alternative shuffles
    |docs| x |shingles| rows just to reduce them straight back to |docs|.

    The one shuffle we DO keep: repartition the raw (id, text) rows by id
    first. A small parquet file arrives as one input split, which would
    serialize the md5-per-shingle work on a single core; the pre-shuffle
    carries only raw text and pins parallelism to the cluster width."""
    sc = df.sparkSession.sparkContext
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.select(id_col, text_col)
        .repartition(sc.defaultParallelism, F.col(id_col))
        # pre-filter on the CHEAP token count, not size(shingles): a filter
        # over the shingle array would re-evaluate the whole md5-bound
        # shingle expression once for the predicate and again for the
        # projection (no CSE across interpreted higher-order exprs)
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), shingles_col(text_col, n).alias("sh"))
    )


#: (applicationId, num_perm, str(sh_col)) -> built signature Column.
#: An EXPRESSION-TREE memo, not a data/result cache: Columns are
#: immutable unresolved trees, freshly analyzed by every query that
#: uses them, so reuse is exactly "compile the regex once" (guide §1.2
#: — the 16 transform-lambda constructions cost 0.4-0.8 s of py4j
#: round-trips per LSH invocation, measured r15). Keyed by
#: applicationId so a restarted session never sees another gateway's
#: stale handles; an insert evicts every other application's entries,
#: so the memo holds one application's handful of trees at most.
_SIG_MEMO: dict = {}


def _memo_put(key: tuple, built):
    """Insert ``built`` under ``key`` (key[0] = applicationId), first
    evicting the entries of any other application."""
    for stale in [k for k in _SIG_MEMO if k[0] != key[0]]:
        del _SIG_MEMO[stale]
    _SIG_MEMO[key] = built
    return built


def _sig_array(sh_col, num_perm: int):
    """array<bigint> MinHash signature of a shingle-array column.

    The shingle hashes are LET-BOUND: ``F.array(hashes)`` evaluates the
    md5 transform once, and the outer lambda receives the materialized
    array as a variable, so all ``num_perm`` permutation mins share one
    hash pass (16 sibling columns would each re-derive it — expression
    trees have no implicit sharing across projection columns)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = (sc.applicationId if sc is not None else None,
           num_perm, str(sh_col))
    memo = _SIG_MEMO.get(key)
    if memo is not None:
        return memo
    hashes = F.transform(sh_col, lambda s: portable_hash(s))

    def mins(hs):
        return F.array(*[
            F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MOD)))
            for a, b in _perm_params(num_perm)
        ])

    return _memo_put(key, F.element_at(F.transform(F.array(hashes), mins), 1))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
    doc_shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with exact Jaccard.

    Pipeline: signatures (linear) -> band keys (rows_per_band = num_perm /
    bands) -> candidate pairs = docs sharing any band bucket (shuffle join
    on the band key) -> exact n-gram Jaccard ONLY on candidates ->
    threshold filter.

    Output = (id_a, id_b, jaccard) for candidate pairs with jaccard >=
    threshold. Deterministic given the fixed permutation family, so a SQL
    oracle mirrors it exactly (including LSH's recall misses — this checks
    the ALGORITHM, while ngram_jaccard_pairs checks the semantics)."""
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm
    # per-doc shingle arrays, computed ONCE and cached (three consumers:
    # signatures + both verify sides); .count() materializes the cache
    # before the branches fan out so none of them re-tokenizes.
    # doc_shingles: a caller composing several shingle consumers (e.g.
    # the curation pipeline's LSH + contamination stages) passes its own
    # (id, sh) frame so the corpus is shingled once across ALL stages —
    # the caller owns that frame's caching.
    if doc_shingles is not None:
        doc = doc_shingles
    else:
        # LAZY cache (r15, guide §1.2): the first consuming job (the
        # CC raw checkpoint / the candidate join) fills the cache for
        # all three consumers — the old eager .count() was one full
        # tokenize+shingle pass of pure overhead per invocation; at
        # worst two concurrently scheduled stages compute a partition
        # twice before the block lands, which the A/B shows is cheaper
        # than the extra pass
        doc = _doc_shingles(df, id_col, text_col, n).cache()
    sig = doc.select(F.col(id_col), _sig_array(F.col("sh"), num_perm).alias("sig"))

    # same expression-tree memo as _sig_array (the 4x4 struct/concat
    # grid costs ~0.1 s of py4j per build; the tree only references the
    # "sig" column by name, so it is caller-independent)
    from pyspark import SparkContext as _SC

    _sc = _SC._active_spark_context
    _bkey = (_sc.applicationId if _sc is not None else None,
             "bands", num_perm, bands)
    band_structs = _SIG_MEMO.get(_bkey)
    if band_structs is None:
        band_structs = _memo_put(_bkey, F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws("_", *[F.element_at("sig", bi * rows_per_band + r + 1) for r in range(rows_per_band)]).alias("bkey"),
            )
            for bi in range(bands)
        ]))

    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("x")).select(
        id_col, "x.band", "x.bkey"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # exact-Jaccard verify on CANDIDATES ONLY (the whole point of LSH:
    # never touch non-candidate pairs). Each candidate pair pulls the two
    # docs' distinct-shingle ARRAYS and intersects them in-row
    # (array_intersect is hash-based, O(|A|+|B|)) — no shingle-level
    # shuffle; the joins hash-partition |cands| + |docs| rows only.
    a_doc = doc.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b_doc = doc.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    j = cands.join(a_doc, "id_a").join(b_doc, "id_b")
    n_inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    n_union = (F.size("sh_a") + F.size("sh_b")).cast("double") - n_inter
    return (
        j.withColumn("jaccard", n_inter / n_union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 24,
) -> DataFrame:
    """SimHash signature per document (token-level, unweighted).

    bit_j(doc) = 1 iff sum over tokens of (+1 if bit j of hash(token) else
    -1) > 0. Fully map-side: token hashes once per doc, then one
    aggregate() fold per bit over the hash array — zero shuffle (the
    explode x bit-position alternative shuffles |docs| x |tokens| x bits
    rows). Bit test = floor(h / 2^bit) % 2, portable to any SQL engine and
    exact for 28-bit h in double arithmetic. 24 bits keeps the expression
    tree modest; production uses xxhash64 + 64 bits via bitwise aggs."""
    from predictor_spark.operators.text import tokens_col

    # pre-shuffle raw text by id: spreads the md5-per-token + 24-bit fold
    # work across the cluster instead of one input split (see _doc_shingles)
    sc = df.sparkSession.sparkContext
    doc = (
        df.select(id_col, text_col)
        .repartition(sc.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col),
            F.transform(
                F.array_distinct(tokens_col(text_col)), lambda t: portable_hash(t)
            ).alias("__hs"),
        )
    )

    def bit_sum(j: int):
        vote = lambda h: F.when(  # noqa: E731
            (F.floor(h / F.lit(float(2 ** j))) % 2) == 1, F.lit(1)
        ).otherwise(F.lit(-1))
        return F.aggregate(F.col("__hs"), F.lit(0), lambda acc, h: acc + vote(h))

    sim = None
    for j in range(bits):
        term = F.when(bit_sum(j) > 0, F.lit(int(2 ** j)).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return doc.select(F.col(id_col), sim.alias("simhash"))


# from the data: the LSH pair graph the near-dup rows cluster grows
# ~2,540 edges per SF (25 / 254 at sf0.01 / 0.1), so past SF ~80 the
# components come from the distributed rounds instead of the driver.
# On the driver an edge costs ~750 bytes at peak (measured: 100,000
# edges of two fresh vertices each; the fetched Row, its share of the
# union-find map and of the output rows, and 32 bytes of Arrow buffers),
# so the bound holds the driver finish to ~150 MB; the same value as
# ranking.MAX_KEYS
MAX_CC_EDGES = 200_000


def _components_on_driver(raw: DataFrame, rows: list) -> DataFrame:
    """Connected components of the fetched ``raw`` edge rows by
    union-find on the driver, min id per component, as a local relation
    with the schema the distributed rounds return.

    Every endpoint is a vertex; a NULL endpoint is a vertex labelled
    NULL that joins no component, as in the distributed rounds."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            # the larger root hangs under the smaller: roots are min ids
            parent[max(ra, rb)] = min(ra, rb)
    # the vertex field is what the distributed rounds' vertex union
    # makes of the two endpoint fields (an int and a bigint widen)
    a, b = raw.columns
    vertex = raw.select(F.col(a).alias("vertex")).union(
        raw.select(F.col(b).alias("vertex"))).schema["vertex"]
    schema = T.StructType([vertex, T.StructField(
        "component", vertex.dataType, vertex.nullable)])
    return local_df(raw.sparkSession, [(v, find(v)) for v in parent], schema)


def _unconverged(op: str, max_iter: int):
    raise ValueError(f"{op}: labels not converged after max_iter={max_iter} "
                     "rounds; raise max_iter")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list — the cluster
    step of near-dup pipelines (pairs -> clusters -> one canonical doc).

    Min-label propagation: every vertex starts labeled with its own id;
    each round a vertex takes the min of its label and its neighbors'
    labels, until a fixpoint. Rounds needed = cluster diameter, which for
    near-dup graphs is tiny (dups of a doc are dups of each other), so
    this converges in 2-4 rounds; pathological chain graphs are bounded
    by ``max_iter``, and labels still changing in the last round raise
    ``ValueError``. Each round is one join + one aggregate on the edge
    list; labels are localCheckpoint'ed to truncate lineage so the plan
    doesn't grow with iterations (the classic iterative-DataFrame trap).
    For graphs with whale-sized clusters (rounds = component DIAMETER
    here), use ``connected_components_star`` — same interface,
    O(log) rounds.

    The rounds run only past ``MAX_CC_EDGES`` edges; up to it the
    fetched edges are labelled on the driver (``_components_on_driver``)
    and ``max_iter`` is unused."""
    # r14 (guide §1.2/§5): checkpoint the RAW edge projection once —
    # without it the symmetrizing union evaluates the caller's edge
    # subtree (often a whole LSH candidate pipeline) twice in one job
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    rows = fetch_bounded(raw, MAX_CC_EDGES)
    if len(rows) <= MAX_CC_EDGES:
        return _components_on_driver(raw, rows)
    # LAZY checkpoints for sym and labels (r15, guide §1.2): both derive
    # from the eager raw checkpoint with one cheap shuffle each, so the
    # first round's convergence count materializes-and-persists them in
    # the SAME job instead of two extra setup jobs per invocation; the
    # union's two branches read raw's cached blocks, not the caller's
    # edge subtree
    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.repartition("u").localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # neighbor minimum, NULL for isolated vertices (none here: every
        # vertex came from an edge)
        nbr = (
            sym.join(labels, sym["v"] == labels["vertex"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        # LAZY per-round checkpoint (r14): the convergence count right
        # below materializes-and-persists it in the SAME job, instead of
        # one eager-checkpoint job plus one count job per round
        new = (
            labels.join(nbr, labels["vertex"] == nbr["u"], "left")
            .select(
                "vertex",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("changed"),
            )
        ).localCheckpoint(eager=False)
        n_changed = new.filter(F.col("changed")).count()
        labels = new.drop("changed")
        if n_changed == 0:
            break
    else:
        _unconverged("connected_components", max_iter)
    return labels.select(F.col("vertex"), F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — a public algorithm). Same interface and output as
    ``connected_components`` (component = min id), but converges in
    O(log n) rounds instead of O(diameter): the scale path for graphs
    with whale clusters or long chains, where min-label propagation
    would need one shuffle round PER HOP.

    Each round is two grouped aggregations over the edge list:
      large-star: per node u, m = min(neighbors + u); every neighbor
        v > u re-attaches as (v, m) — big nodes hook onto their
        neighborhood minimum;
      small-star: per node hi over (hi, lo) oriented edges,
        m = min(lo's); every lo and hi itself re-attach to m.
    The edge list contracts toward a star per component rooted at the
    component minimum; convergence is detected by an (edge-count,
    sum-of-hashes) signature reaching a fixpoint — one cheap aggregate,
    no except() diff. localCheckpoint truncates lineage per round; no
    fixpoint within ``max_iter`` rounds raises ``ValueError``.

    As in ``connected_components``, the rounds run only past
    ``MAX_CC_EDGES`` edges; up to it the driver labels the edges."""
    # r14 (guide §1.2/§5): checkpoint the raw (hi, lo) projection once —
    # cur and all_vertices both derive from it, so the caller's edge
    # subtree (often a whole LSH candidate pipeline) is computed exactly
    # once instead of three times (canon + the two vertex branches).
    # Self-loops are KEPT here (dropped only in cur) so the vertex set
    # is identical to the pre-r14 raw-edges union.
    raw = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("hi"),
        F.least(F.col(src), F.col(dst)).alias("lo"),
    ).localCheckpoint()
    rows = fetch_bounded(raw, MAX_CC_EDGES)
    if len(rows) <= MAX_CC_EDGES:
        return _components_on_driver(raw, rows)
    # LAZY (r15): cur is one distinct over raw's cached blocks, so round
    # 1's signature aggregate materializes-and-persists it in the same
    # job — the eager form paid a dedicated setup job per invocation
    cur = (raw.filter(F.col("hi") != F.col("lo"))
           .distinct().localCheckpoint(eager=False))
    all_vertices = (
        raw.select(F.col("hi").alias("vertex"))
        .union(raw.select(F.col("lo").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def signature(e: DataFrame) -> tuple:
        row = collect_bounded(e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ), ONE_ROW, "connected-components signature")[0]
        return (row["n"], row["h"])

    # r15: no up-front signature job — the first round can never match a
    # None signature, and a round applied to an already-converged star
    # set is idempotent (exactly what the fixpoint test relies on), so
    # starting blind trades at worst one extra cheap round on
    # pre-converged inputs for one fewer driver round-trip on every
    # normal input (guide §1.2).
    sig = None
    for _ in range(max_iter):
        # large-star over the symmetrized adjacency
        sym = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star over (hi, lo): every lo (and hi) attaches to min(lo)
        mn = large.groupBy("hi").agg(F.min("lo").alias("m"))
        # LAZY per-round checkpoint (r14): the signature aggregate right
        # below materializes-and-persists it in the SAME job, instead of
        # one eager-checkpoint job plus one signature job per round
        small = (
            large.join(mn, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(mn.select(F.col("hi"), F.col("m").alias("lo")))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        prev, cur = cur, small
        new_sig = signature(cur)
        if new_sig == sig:
            # the signature is a (count, hash-sum) pair — confirm the
            # fixpoint EXACTLY with one anti-join so a hash-sum collision
            # between different equal-sized edge sets cannot stop early:
            # equal counts + empty difference => equal sets
            if cur.exceptAll(prev).limit(1).count() == 0:
                break
        sig = new_sig
    else:
        _unconverged("connected_components_star", max_iter)
    # converged: stars (hi -> root). Roots and isolated vertices label
    # themselves (the input has no isolated vertices, but keep it total).
    labels = cur.select(F.col("hi").alias("vertex"), F.col("lo").alias("label"))
    return (
        all_vertices.join(labels, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("label", F.col("vertex")).alias("component"),
        )
    )
