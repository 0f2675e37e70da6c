"""Binned range join, BPE tokenizer, winnowing fingerprints."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from predictor_spark.operators.rangejoin import bin_range_join
from predictor_spark.operators.text import winnow_fingerprints, with_bpe_token_stats


def test_bin_range_join_matches_nested_loop(spark):
    pts = spark.createDataFrame([Row(x=i, pid=i) for i in range(0, 200, 3)])
    iv = spark.createDataFrame(
        [Row(lo=lo, hi=lo + span, iid=n)
         for n, (lo, span) in enumerate([(0, 10), (5, 40), (17, 1), (100, 95), (150, 7)])]
    )
    got = {
        (r["pid"], r["iid"])
        for r in bin_range_join(pts, iv, "x", "lo", "hi", bin_width=16).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in pts.crossJoin(iv)
        .filter((F.col("lo") <= F.col("x")) & (F.col("x") < F.col("hi")))
        .collect()
    }
    assert got == want and got


def test_bin_range_join_with_keys(spark):
    pts = spark.createDataFrame([Row(k="a", x=5), Row(k="b", x=5)])
    iv = spark.createDataFrame([Row(k="a", lo=0, hi=10, iid=1)])
    rows = bin_range_join(pts, iv, "x", "lo", "hi", 8, keys=["k"]).collect()
    assert [(r["k"], r["x"]) for r in rows] == [("a", 5)]


def test_winnow_shared_substring_shares_fingerprint(spark):
    # winnowing guarantee: a common substring of length >= k + w - 1
    # (= 11 for k=8, w=4) produces at least one shared fingerprint
    common = "zqxjkvbwp_marker_substring"
    df = spark.createDataFrame([
        Row(doc_id=1, text="left padding " + common + " more stuff here"),
        Row(doc_id=2, text="completely different prefix " + common),
        Row(doc_id=3, text="no overlap with the others at all, none"),
    ])
    fps = winnow_fingerprints(df, "doc_id", "text", k=8, w=4).distinct().collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]
    # short doc (< k chars) emits nothing rather than erroring
    short = spark.createDataFrame([Row(doc_id=9, text="tiny")])
    assert winnow_fingerprints(short, "doc_id", "text", 8, 4).count() == 0


def test_bpe_token_stats(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="It's 42 degrees, isn't it?")])
    row = with_bpe_token_stats(df).collect()[0]
    # It|'s| 42| degrees|,| isn|'t| it|?
    assert row["n_bpe_tokens"] == 9
    assert row["n_distinct_bpe"] == 9


def test_load_events_range_pushdown_equals_postfilter(spark):
    from tests.conftest import SF_DIR
    from predictor_spark.sources.tables import load_events_range, load_table

    lo, hi = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    fast = load_events_range(spark, SF_DIR, lo=lo, hi=hi)
    slow = load_table(spark, SF_DIR, "events").filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    )
    assert fast.count() == slow.count() > 0
    # the raw-nanos predicate must reach the parquet scan
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ts" in plan


def test_connected_components_chain_and_clusters(spark, monkeypatch):
    from predictor_spark.operators import dedup
    from predictor_spark.operators.dedup import connected_components

    # the label rounds, not the small-graph driver finish
    monkeypatch.setattr(dedup, "MAX_CC_EDGES", -1)

    # chain 1-2-3-4 (diameter > 1 forces multiple rounds), triangle 10-11-12,
    # isolated pair 20-21
    edges = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in
         [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]]
    )
    got = {r["vertex"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pii_redaction_patterns(spark):
    from predictor_spark.operators.text import redact_pii

    df = spark.createDataFrame([Row(doc_id=1, text=(
        "mail alice.smith+x@corp.example.org, ssn 123-45-6789, "
        "ip 192.168.0.12, call +1 (555) 123-4567 now"
    ))])
    row = redact_pii(df).collect()[0]
    assert "[EMAIL]" in row["redacted"] and "alice" not in row["redacted"]
    assert "[SSN]" in row["redacted"] and "123-45-6789" not in row["redacted"]
    assert "[IP]" in row["redacted"] and "192.168" not in row["redacted"]
    assert "[PHONE]" in row["redacted"] and "4567" not in row["redacted"]
    assert row["n_redactions"] == 4


def test_repetition_stats(spark):
    from predictor_spark.operators.text import with_repetition_stats

    df = spark.createDataFrame([
        Row(doc_id=1, text="a a a a"),          # 1 distinct of 4
        Row(doc_id=2, text="w x y z"),          # all distinct
    ])
    got = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert got[1]["dup_token_fraction"] == 0.75 and got[1]["top_token_ratio"] == 1.0
    assert got[2]["dup_token_fraction"] == 0.0 and got[2]["top_token_ratio"] == 0.25


def test_kmeans_matches_numpy_lloyds(spark):
    import numpy as np
    from tests.conftest import SF_DIR
    from predictor_spark.operators.kmeans import kmeans_fit
    from predictor_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    k, iters = 3, 4
    cents, assigned = kmeans_fit(emb, k=k, n_iter=iters)

    pdf = emb.toPandas().sort_values("vec_id")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for c in range(k):
            if (lab == c).any():
                C[c] = X[lab == c].mean(axis=0)
    # kmeans_fit returns the assignment recomputed from the FINAL centroids
    lab = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert np.allclose(np.array(cents), C, atol=1e-9)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    want = dict(zip(pdf["vec_id"].tolist(), lab.tolist()))
    assert got == want


def test_asof_join_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd
    from predictor_spark.operators.asof import asof_join

    rng = np.random.default_rng(3)
    base = np.datetime64("2024-01-01T00:00:00")
    def mk(n, uid_mod):
        ts = np.sort(rng.choice(200000, size=n, replace=False)).astype("timedelta64[s]")
        return pd.DataFrame({
            "ts": (base + ts).astype("datetime64[us]"),
            "user_id": rng.integers(0, uid_mod, n),
            "value": rng.normal(size=n).round(3),
        })
    lpdf = mk(300, 5).assign(event_id=range(300))
    rpdf = mk(120, 5)
    got = asof_join(
        spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
        by=["user_id"], right_cols=["ts", "value"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    want = pd.merge_asof(
        lpdf.sort_values("ts"), rpdf.sort_values("ts"),
        on="ts", by="user_id", suffixes=("", "_right"),
        tolerance=pd.Timedelta(hours=1), direction="backward",
    ).sort_values("event_id").reset_index(drop=True)
    assert got["value_right"].equals(want["value_right"])
    # matched ts only present when within tolerance
    matched = got["ts_right"].notna()
    assert ((got.loc[matched, "ts"] - got.loc[matched, "ts_right"])
            <= pd.Timedelta(hours=1)).all()


def test_asof_self_join_matches_two_scan(spark):
    """Single-scan same-table variant returns exactly what the two-scan
    asof_join returns on the same predicates — including rows matching
    BOTH predicates (self-match at equal ts) and no-match rows."""
    import numpy as np
    import pandas as pd
    from predictor_spark.operators.asof import asof_join, asof_self_join

    rng = np.random.default_rng(9)
    base = np.datetime64("2024-01-01T00:00:00")
    n = 400
    ts = np.sort(rng.choice(100000, size=n, replace=False)).astype("timedelta64[s]")
    pdf = pd.DataFrame({
        "ts": (base + ts).astype("datetime64[us]"),
        "user_id": rng.integers(0, 6, n),
        # 'both' rows satisfy left AND right predicates
        "kind": rng.choice(["l", "r", "both", "neither"], n),
        "value": rng.normal(size=n).round(3),
        "event_id": range(n),
    })
    df = spark.createDataFrame(pdf)
    lp = F.col("kind").isin("l", "both")
    rp = F.col("kind").isin("r", "both")
    tol = F.expr("INTERVAL 2 HOURS")
    one = asof_self_join(
        df, lp, rp, by=["user_id"], right_cols=["ts", "value"],
        tolerance=tol,
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    two = asof_join(
        df.filter(lp), df.filter(rp), by=["user_id"],
        right_cols=["ts", "value"], tolerance=tol,
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    assert one["event_id"].equals(two["event_id"])
    assert one["ts_right"].equals(two["ts_right"])
    assert one["value_right"].equals(two["value_right"])
    # a 'both' row with no earlier right row must match itself
    both_rows = one[one["kind"] == "both"]
    assert (both_rows["ts_right"].notna()).all()


def test_ivf_recall_vs_bruteforce(spark):
    """VERDICT r1 #5: the IVF path must use the real k-means quantizer and
    reach recall >= 0.9 against exact bruteforce top-k at sf0.01."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR_MID
    from predictor_spark.operators import similarity
    from predictor_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR_MID, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in similarity.cosine_topk(emb, q, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in similarity.ivf_cosine_topk(
               emb, q, k=5, n_centroids=8, n_iter=2, nprobe=3).collect()}
    assert len(bf & ivf) / len(bf) >= 0.9


def test_connected_components_star_matches_min_label(spark, monkeypatch):
    """Large/small-star CC bit-matches min-label propagation on chain,
    triangle, isolated-pair and a random graph — and converges on a
    200-vertex chain where min-label would need 199 rounds.  Both run
    their distributed rounds here, not the small-graph driver finish."""
    import random

    from predictor_spark.operators import dedup
    from predictor_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    monkeypatch.setattr(dedup, "MAX_CC_EDGES", -1)

    edges = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in
         [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]]
    )
    want = sorted(map(tuple, connected_components(edges).collect()))
    got = sorted(map(tuple, connected_components_star(edges).collect()))
    assert got == want

    # random graph, 60 vertices, seeded
    rnd = random.Random(9)
    redges = spark.createDataFrame(
        [Row(id_a=rnd.randrange(60), id_b=rnd.randrange(60)) for _ in range(70)]
    ).filter("id_a != id_b")
    want = sorted(map(tuple, connected_components(redges, max_iter=60).collect()))
    got = sorted(map(tuple, connected_components_star(redges).collect()))
    assert got == want

    # 200-chain: diameter 199 — star must finish within its default
    # max_iter (O(log n) rounds), where min-label propagation cannot
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(199)]
    )
    got = {r["vertex"]: r["component"]
           for r in connected_components_star(chain).collect()}
    assert got == {i: 0 for i in range(200)}
