"""Tests for the round-7 catalog families (the catalog_r7_* modules).

Each family is checked against an independent pure-pandas
reimplementation of the metric spec (the DuckDB oracle proves Spark ==
SQL replay; this proves both match the MATH)."""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd
import pytest

from tests.conftest import SF_DIR


def _r7_rows() -> list[str]:
    """Names of every query the catalog_r7_* modules register."""
    import __spark_entry__ as entry_mod

    cat = entry_mod._load_catalog()
    return [n for n, fn in cat.QUERIES.items()
            if fn.__module__.startswith("predictor_spark.plans.catalog_r7_")]


def test_load_staged_registers_oracle_backed_rows():
    import predictor_spark.plans.catalog as catalog

    names = _r7_rows()
    assert "ndcg_at_10_brands" in names
    for n in names:
        assert n in catalog.ORACLE, f"round-7 row {n} has no oracle"


@pytest.fixture(scope="module")
def ireval_expected():
    """Pure-pandas recompute of the three ranking metrics from raw
    parquet — same spec (popularity ranking, micro-unit quantization),
    independent implementation (no Spark, no shared SQL)."""
    con = duckdb.connect()
    q = lambda s: con.execute(s).fetchdf()  # noqa: E731
    orders = q(f"SELECT o_orderkey, o_custkey, o_orderdate FROM '{SF_DIR}/orders.parquet'")
    li = q(f"SELECT l_orderkey, l_partkey FROM '{SF_DIR}/lineitem.parquet'")
    part = q(f"SELECT p_partkey, p_brand FROM '{SF_DIR}/part.parquet'")
    cust = q(f"SELECT c_custkey, c_mktsegment FROM '{SF_DIR}/customer.parquet'")
    con.close()

    bought = (orders.merge(li, left_on="o_orderkey", right_on="l_orderkey")
              .merge(part, left_on="l_partkey", right_on="p_partkey"))
    split = pd.Timestamp("1999-01-01")
    train = bought[bought.o_orderdate < split][
        ["o_custkey", "p_brand"]].drop_duplicates()
    test = bought[bought.o_orderdate >= split][
        ["o_custkey", "p_brand"]].drop_duplicates()
    pop = (train.groupby("p_brand")["o_custkey"].nunique()
           .reset_index(name="pop")
           .sort_values(["pop", "p_brand"], ascending=[False, True]))
    rank_of = {b: i + 1 for i, b in enumerate(pop.p_brand)}

    disc = {r: round(1e9 / math.log2(r + 1)) for r in range(1, 11)}
    idcg = {m: sum(disc[r] for r in range(1, m + 1)) for m in range(1, 11)}

    rows = []
    for cust_key, grp in test.groupby("o_custkey"):
        ranks = sorted(rank_of[b] for b in grp.p_brand if b in rank_of)
        n_rel = len(grp)
        m = min(n_rel, 10)
        dcg = sum(disc[r] for r in ranks if r <= 10)
        ndcg_micro = math.floor((1e6 * dcg) / idcg[m])
        numer = sum((i + 1) * (2520 // r)
                    for i, r in enumerate(ranks) if r <= 10)
        ap_micro = math.floor((1e6 * numer) / (2520.0 * m))
        rr_micro = 1000000 // ranks[0] if ranks else 0
        rows.append((cust_key, ndcg_micro, ap_micro, rr_micro))
    per_user = pd.DataFrame(
        rows, columns=["o_custkey", "ndcg", "ap", "rr"]).merge(
        cust, left_on="o_custkey", right_on="c_custkey")
    agg = per_user.groupby("c_mktsegment").agg(
        n_users=("o_custkey", "count"), ndcg=("ndcg", "sum"),
        ap=("ap", "sum"), rr=("rr", "sum"))
    for col in ("ndcg", "ap", "rr"):
        agg[col] = (agg[col] / (agg.n_users * 1e6)).round(6)
    return agg


def _run(spark, name):
    import __spark_entry__ as entry_mod

    cat = entry_mod._load_catalog()
    return cat.QUERIES[name](spark, SF_DIR).toPandas()


@pytest.mark.parametrize("qname,col", [
    ("ndcg_at_10_brands", "ndcg_at_10"),
    ("map_at_10_brands", "map_at_10"),
    ("mrr_brands", "mrr"),
])
def test_ireval_matches_pandas_recompute(spark, ireval_expected, qname, col):
    out = _run(spark, qname).set_index("segment").sort_index()
    exp = ireval_expected.sort_index()
    assert list(out.index) == list(exp.index)
    assert (out.n_users == exp.n_users).all()
    metric = {"ndcg_at_10": "ndcg", "map_at_10": "ap", "mrr": "rr"}[col]
    pd.testing.assert_series_equal(
        out[col], exp[metric], check_names=False, atol=1e-9, rtol=0)
    assert ((out[col] >= 0) & (out[col] <= 1)).all()


def test_staged_rows_have_no_nested_outputs(spark):
    """Same schema rule as registered rows (driver canonicalizer)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_correctness import nested_output_columns
    import predictor_spark.plans.catalog as catalog

    for name in _r7_rows():
        df = catalog.QUERIES[name](spark, SF_DIR)
        assert nested_output_columns(df) == [], name


def test_staged_oracles_quantize_before_mean():
    """Every round-7 ranking oracle must carry the micro-unit floor (the
    determinism contract documented in the module): a raw float mean
    over users would be summation-order sensitive."""
    import predictor_spark.plans.catalog as catalog

    for name in _r7_rows():
        if name.endswith("_brands"):
            assert re.search(r"floor|//", catalog.ORACLE[name]), name


# ---------------------------------------------------------------------------
# nonparametric rank statistics family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def li_small():
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT CAST(l_quantity AS BIGINT) AS q, l_discount AS d "
        f"FROM '{SF_DIR}/lineitem.parquet'").fetchdf()
    con.close()
    return pdf


def test_spearman_matches_pandas_ranks(spark, li_small):
    """Spearman = Pearson over pandas average ranks (scipy-free)."""
    out = _run(spark, "spearman_qty_discount")
    rq = li_small["q"].rank(method="average")
    rd = li_small["d"].rank(method="average")
    expected = rq.corr(rd)  # plain Pearson over ranks
    assert abs(out.spearman_rho[0] - round(expected, 6)) <= 1e-6
    assert out.n[0] == len(li_small)


def test_kendall_matches_cell_recount(spark, li_small):
    """tau-b recomputed from a pandas crosstab with an independent
    double loop over cells (different code path from the Spark
    broadcast self-join)."""
    ct = pd.crosstab(li_small["q"], li_small["d"])
    xs, ys, cs = [], [], []
    for xi, x in enumerate(ct.index):
        for yi, y in enumerate(ct.columns):
            c = int(ct.iloc[xi, yi])
            if c:
                xs.append(x); ys.append(y); cs.append(c)
    nc = nd = 0
    for i in range(len(cs)):
        for j in range(len(cs)):
            if xs[j] > xs[i]:
                if ys[j] > ys[i]:
                    nc += cs[i] * cs[j]
                elif ys[j] < ys[i]:
                    nd += cs[i] * cs[j]
    n = len(li_small)
    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in li_small["q"].value_counts())
    n2 = sum(t * (t - 1) // 2 for t in li_small["d"].value_counts())
    expected = (nc - nd) / math.sqrt((n0 - n1) * (n0 - n2))
    out = _run(spark, "kendall_tau_qty_discount")
    assert out.concordant[0] == nc and out.discordant[0] == nd
    assert abs(out.tau_b[0] - round(expected, 6)) <= 1e-6
    assert out.n[0] == n


def test_kruskal_wallis_matches_manual_ranks(spark):
    """Recompute H with pandas average ranks + the textbook formula."""
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, value FROM '{SF_DIR}/events.parquet'").fetchdf()
    con.close()
    ev["rank"] = ev["value"].rank(method="average")
    n = len(ev)
    rterm = sum(g["rank"].sum() ** 2 / len(g)
                for _, g in ev.groupby("event_type"))
    h = 12.0 * rterm / (n * (n + 1)) - 3.0 * (n + 1)
    ties = ev.groupby("value").size()
    h /= 1.0 - float((ties ** 3 - ties).sum()) / (n ** 3 - n)
    out = _run(spark, "kruskal_wallis_value_by_type")
    assert abs(out.h_statistic[0] - round(h, 6)) <= 1e-5
    assert out.n[0] == n
    assert out.df[0] == ev.event_type.nunique() - 1


# ---------------------------------------------------------------------------
# finance risk family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def daily_rets():
    """Micro-unit daily returns per type recomputed in pure pandas."""
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, CAST(ts AS DATE) AS d, value "
        f"FROM '{SF_DIR}/events.parquet'").fetchdf()
    con.close()
    bars = (ev.groupby(["event_type", "d"])["value"].sum().round(6)
            .reset_index(name="bar").sort_values(["event_type", "d"]))
    bars["prev"] = bars.groupby("event_type")["bar"].shift(1)
    bars = bars[bars.prev.notna() & (bars.prev > 0)]
    bars["r"] = (1e6 * (bars.bar / bars.prev - 1.0)).round().astype("int64")
    mk = (ev.groupby("d")["value"].sum().round(6)
          .reset_index(name="bar").sort_values("d"))
    mk["prev"] = mk.bar.shift(1)
    mk = mk[mk.prev.notna() & (mk.prev > 0)]
    mk["m"] = (1e6 * (mk.bar / mk.prev - 1.0)).round().astype("int64")
    return bars, mk[["d", "m"]]


def test_sharpe_sortino_matches_numpy(spark, daily_rets):
    import numpy as np

    bars, _ = daily_rets
    out = _run(spark, "sharpe_sortino_by_type").set_index("event_type")
    for t, g in bars.groupby("event_type"):
        r = g.r.to_numpy(dtype=float)
        sharpe = r.mean() / r.std(ddof=1)
        neg = np.minimum(r, 0.0)
        sortino = r.mean() / math.sqrt((neg ** 2).mean())
        assert out.loc[t, "n_days"] == len(r)
        assert abs(out.loc[t, "sharpe"] - round(sharpe, 6)) <= 1e-6, t
        assert abs(out.loc[t, "sortino"] - round(sortino, 6)) <= 1e-6, t


def test_var95_is_exact_order_statistic(spark, daily_rets):
    bars, _ = daily_rets
    out = _run(spark, "var_historical_95").set_index("event_type")
    for t, g in bars.groupby("event_type"):
        r = sorted(g.r)
        k = (len(r) - 1) * 5 // 100 + 1
        assert abs(out.loc[t, "var_95"] - round(-r[k - 1] / 1e6, 6)) <= 1e-9


def test_capm_beta_matches_numpy_lstsq(spark, daily_rets):
    import numpy as np

    bars, mk = daily_rets
    out = _run(spark, "capm_beta_by_type").set_index("event_type")
    for t, g in bars.groupby("event_type"):
        j = g.merge(mk, on="d")
        x = j.m.to_numpy(dtype=float)
        y = j.r.to_numpy(dtype=float)
        beta, alpha = np.polyfit(x, y, 1)
        assert out.loc[t, "n_days"] == len(j)
        assert abs(out.loc[t, "beta"] - beta) <= 1e-4, t
        assert abs(out.loc[t, "alpha"] - alpha / 1e6) <= 1e-4, t


def test_drawdown_duration_matches_pandas(spark):
    """Independent pandas recomputation of the hourly underwater spells
    (r8 re-grain, VERDICT r7 #1) — and a non-vacuity pin: the hourly bar
    curve must actually dip at this SF, with more than one spell per
    type (the bug class the 0-row r7 grade hid was a constant
    gaps-and-islands rank difference collapsing all spells into one)."""
    con = duckdb.connect()
    hourly = con.execute(f"""
        SELECT event_type, date_trunc('hour', ts) AS hr,
               sum(CAST(round(value * 100) AS BIGINT)) AS bar
        FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2
        ORDER BY 1, 2""").fetchdf()
    con.close()
    out = _run(spark, "drawdown_duration").set_index("event_type")
    assert len(out) > 0
    for t, g in hourly.groupby("event_type"):
        bar = g.sort_values("hr").bar
        under = (bar.cummax() - bar) > 0
        spells, run = [], 0
        for u in under:
            if u:
                run += 1
            elif run:
                spells.append(run)
                run = 0
        if run:
            spells.append(run)
        if not spells:
            assert t not in out.index, t
            continue
        assert out.loc[t, "n_spells"] == len(spells), t
        assert out.loc[t, "longest_spell_hours"] == max(spells), t
        assert out.loc[t, "underwater_hours"] == sum(spells), t
        assert len(spells) > 1, f"vacuous at this SF: {t}"


# ---------------------------------------------------------------------------
# multi-touch attribution family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def journeys():
    """(matched, none, total_cents): lookback pairs recomputed in pure
    pandas — cents quantized in duckdb so round() semantics (half-up)
    match both engines, window applied with pandas timestamps."""
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_id, user_id, event_type, ts, "
        f"CAST(round(value * 100) AS BIGINT) AS cents "
        f"FROM '{SF_DIR}/events.parquet'").fetchdf()
    con.close()
    conv = (ev[ev.event_type == "purchase"]
            [["event_id", "user_id", "ts", "cents"]]
            .rename(columns={"event_id": "conv_id", "ts": "conv_ts"}))
    touch = (ev[ev.event_type.isin(["view", "click"])]
             [["user_id", "event_type", "ts", "event_id"]]
             .rename(columns={"event_type": "channel", "ts": "touch_ts",
                              "event_id": "touch_id"}))
    m = conv.merge(touch, on="user_id", how="inner")
    m = m[(m.touch_ts < m.conv_ts)
          & (m.touch_ts >= m.conv_ts - pd.Timedelta(days=7))]
    none = conv[~conv.conv_id.isin(m.conv_id)]
    return m, none, int(conv.cents.sum())


@pytest.mark.parametrize("qname,last", [
    ("attribution_last_touch", True),
    ("attribution_first_touch", False),
])
def test_single_touch_attribution_matches_pandas(spark, journeys, qname, last):
    m, none, total_cents = journeys
    ordered = m.sort_values(["touch_ts", "touch_id"]).groupby("conv_id")
    pick = ordered.tail(1) if last else ordered.head(1)
    exp = (pick.groupby("channel")
           .agg(n_conversions=("conv_id", "nunique"), s=("cents", "sum")))
    if len(none):
        exp.loc["(none)"] = [none.conv_id.nunique(), none.cents.sum()]
    out = _run(spark, qname).set_index("channel").sort_index()
    exp = exp.sort_index()
    assert list(out.index) == list(exp.index)
    assert (out.n_conversions == exp.n_conversions).all()
    for ch in exp.index:
        assert abs(out.loc[ch, "attributed_value"]
                   - round(exp.loc[ch, "s"] / 100, 2)) <= 1e-9, ch
    # single-touch models assign whole conversions: exact reconciliation
    assert int(exp.s.sum()) == total_cents


def test_linear_attribution_matches_pandas(spark, journeys):
    m, none, total_cents = journeys
    n = m.groupby("conv_id")["touch_id"].transform("count")
    credit = (m.cents * 1_000_000) // n
    cr = pd.DataFrame({"channel": m.channel, "conv_id": m.conv_id,
                       "credit": credit})
    if len(none):
        cr = pd.concat([cr, pd.DataFrame({
            "channel": "(none)", "conv_id": none.conv_id,
            "credit": none.cents * 1_000_000})])
    exp = (cr.groupby("channel")
           .agg(n_conversions=("conv_id", "nunique"), s=("credit", "sum")))
    out = _run(spark, "attribution_linear").set_index("channel").sort_index()
    exp = exp.sort_index()
    assert list(out.index) == list(exp.index)
    assert (out.n_conversions == exp.n_conversions).all()
    for ch in exp.index:
        assert abs(out.loc[ch, "attributed_value"]
                   - round(exp.loc[ch, "s"] / 1e8, 4)) <= 1e-9, ch
    # integer-div truncation loses < n micro-cents per conversion
    assert 0 <= total_cents * 1_000_000 - int(exp.s.sum()) < len(m)


def test_shapley_attribution_matches_pandas(spark, journeys):
    m, _, _ = journeys
    sets = (m.groupby("conv_id")
            .agg(cents=("cents", "max"),
                 hv=("channel", lambda s: int((s == "view").any())),
                 hc=("channel", lambda s: int((s == "click").any()))))
    nv = int(((sets.hv == 1) & (sets.hc == 0)).sum())
    nc = int(((sets.hv == 0) & (sets.hc == 1)).sum())
    nb = int(((sets.hv == 1) & (sets.hc == 1)).sum())
    cv = int(sets.cents[(sets.hv == 1) & (sets.hc == 0)].sum())
    cc = int(sets.cents[(sets.hv == 0) & (sets.hc == 1)].sum())
    cb = int(sets.cents[(sets.hv == 1) & (sets.hc == 1)].sum())
    out = _run(spark, "attribution_shapley").set_index("channel")
    assert abs(out.loc["view", "shapley_conversions"]
               - (nv + nb / 2)) <= 1e-9
    assert abs(out.loc["click", "shapley_conversions"]
               - (nc + nb / 2)) <= 1e-9
    assert abs(out.loc["view", "shapley_value"]
               - round((cv + cb / 2) / 100, 4)) <= 1e-9
    assert abs(out.loc["click", "shapley_value"]
               - round((cc + cb / 2) / 100, 4)) <= 1e-9
    # efficiency axiom: shares sum to the grand coalition's value
    assert abs(out.shapley_conversions.sum() - len(sets)) <= 1e-9
    assert abs(out.shapley_value.sum()
               - round(sets.cents.sum() / 100, 4)) <= 1e-6


def test_markov_removal_matches_linear_solve(spark, journeys):
    """Independent check: build the transition matrix in pandas, solve
    the FULL absorbing chain with numpy (p = (I-Q)^-1 R, not the
    closed form the query uses), verify p_start == 1, and recompute
    removal effects by re-solving the chain with each channel's rows
    zeroed."""
    import numpy as np

    m, _, _ = journeys
    s = m.sort_values(["touch_ts", "touch_id"]).copy()
    s["prev"] = s.groupby("conv_id")["channel"].shift(1)
    s["rd"] = (s.groupby("conv_id").cumcount(ascending=False) + 1)
    states = ["view", "click"]
    # counts: START->x, x->y, x->CONV
    start = s[s.prev.isna()].channel.value_counts()
    trans = s[s.prev.notna()].groupby(["prev", "channel"]).size()
    conv = s[s.rd == 1].channel.value_counts()
    tot_cents = int(s[s.rd == 1].cents.sum())

    def solve(removed=None):
        q = np.zeros((2, 2))
        r = np.zeros(2)
        for i, a in enumerate(states):
            out = sum(trans.get((a, b), 0) for b in states) + conv.get(a, 0)
            for j, b in enumerate(states):
                q[i, j] = trans.get((a, b), 0) / out
            r[i] = conv.get(a, 0) / out
        s0 = np.array([start.get(a, 0) for a in states], dtype=float)
        s0 /= s0.sum()
        if removed is not None:
            k = states.index(removed)
            q[:, k] = 0.0   # paths into the removed state are lost
            q[k, :] = 0.0
            r[k] = 0.0
            s0[k] = 0.0
        p = np.linalg.solve(np.eye(2) - q, r)
        return float(s0 @ p)

    assert abs(solve() - 1.0) < 1e-12  # every modeled journey converts
    re = {c: 1.0 - solve(removed=c) for c in states}
    tot = sum(re.values())
    out = _run(spark, "attribution_markov_removal").set_index("channel")
    for c in states:
        assert abs(out.loc[c, "removal_effect"] - round(re[c], 6)) \
            <= 1e-9, c
        assert abs(out.loc[c, "attribution_share"]
                   - round(re[c] / tot, 6)) <= 1e-9, c
        assert abs(out.loc[c, "attributed_value"]
                   - round(re[c] / tot * tot_cents / 100, 2)) <= 0.02, c


# ---------------------------------------------------------------------------
# governance / privacy-audit family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def cust_qi():
    """Customer quasi-identifier tuple recomputed in pure pandas."""
    con = duckdb.connect()
    c = con.execute(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal "
        f"FROM '{SF_DIR}/customer.parquet'").fetchdf()
    con.close()
    c["balband"] = (c.c_acctbal / 1000).apply(math.floor).astype(int)
    return c


def test_k_anonymity_histogram_matches_pandas(spark, cust_qi):
    k = (cust_qi.groupby(["c_nationkey", "c_mktsegment", "balband"])
         .size().rename("k").reset_index())

    def bucket(v):
        return "1" if v == 1 else "2-4" if v <= 4 else "5-9" if v <= 9 \
            else "10+"

    k["b"] = k.k.map(bucket)
    exp = k.groupby("b").agg(n_classes=("k", "size"), n_rows=("k", "sum"))
    out = _run(spark, "k_anonymity_histogram").set_index("k_bucket")
    assert sorted(out.index) == sorted(exp.index)
    for b in exp.index:
        assert out.loc[b, "n_classes"] == exp.loc[b, "n_classes"], b
        assert out.loc[b, "n_rows"] == exp.loc[b, "n_rows"], b
        assert abs(out.loc[b, "pct_rows"]
                   - round(100.0 * exp.loc[b, "n_rows"] / len(cust_qi), 4)) \
            <= 1e-9, b
    # histogram partitions the table exactly
    assert out.n_rows.sum() == len(cust_qi)


def test_l_diversity_audit_matches_pandas(spark):
    con = duckdb.connect()
    o = con.execute(
        f"SELECT o_orderpriority AS priority, "
        f"CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus "
        f"FROM '{SF_DIR}/orders.parquet'").fetchdf()
    con.close()
    g = o.groupby(["priority", "order_year"])["o_orderstatus"]
    exp = g.agg(k="size", l_distinct="nunique",
                mx=lambda s: s.value_counts().iloc[0])
    out = (_run(spark, "l_diversity_audit")
           .set_index(["priority", "order_year"]).sort_index())
    exp = exp.sort_index()
    assert list(out.index) == list(exp.index)
    assert (out.k == exp.k).all()
    assert (out.l_distinct == exp.l_distinct).all()
    for ix in exp.index:
        assert abs(out.loc[ix, "dominant_share"]
                   - round(exp.loc[ix, "mx"] / exp.loc[ix, "k"], 4)) \
            <= 1e-9, ix
    # every order lands in exactly one class
    assert out.k.sum() == len(o)


def test_reid_risk_ladder_matches_pandas(spark, cust_qi):
    ladders = {
        "nation": ["c_nationkey"],
        "nation+segment": ["c_nationkey", "c_mktsegment"],
        "nation+segment+balband": ["c_nationkey", "c_mktsegment",
                                   "balband"],
    }
    out = _run(spark, "reid_risk_ladder").set_index("qi_set")
    assert sorted(out.index) == sorted(ladders)
    n = len(cust_qi)
    prev_singletons = -1
    for label, cols in ladders.items():
        k = cust_qi.groupby(cols).size()
        singles = int((k == 1).sum())
        assert out.loc[label, "n_classes"] == len(k), label
        assert out.loc[label, "n_singletons"] == singles, label
        assert abs(out.loc[label, "uniqueness_pct"]
                   - round(100.0 * singles / n, 4)) <= 1e-9, label
        assert abs(out.loc[label, "avg_class_size"]
                   - round(n / len(k), 4)) <= 1e-9, label
        # risk is monotone in the QI set: singletons can only grow
        assert singles >= prev_singletons
        prev_singletons = singles


# ---------------------------------------------------------------------------
# range-based volatility family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def ohlc_bars():
    """Daily OHLC bars (integer cents) recomputed in pure pandas with
    the same total (ts, event_id) intra-day order."""
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, "
        f"CAST(round(value * 100) AS BIGINT) AS c "
        f"FROM '{SF_DIR}/events.parquet'").fetchdf()
    con.close()
    ev["day"] = ev.ts.dt.day
    ev = ev.sort_values(["ts", "event_id"])
    g = ev.groupby(["event_type", "day"])
    bars = g.agg(high=("c", "max"), low=("c", "min"),
                 open=("c", "first"), close=("c", "last")).reset_index()
    return bars[bars.low > 0]


def test_parkinson_volatility_matches_numpy(spark, ohlc_bars):
    import numpy as np

    b = ohlc_bars
    hl2 = np.round(1e9 * np.log(b.high / b.low) ** 2).astype("int64")
    exp = (pd.DataFrame({"event_type": b.event_type, "hl2": hl2})
           .groupby("event_type").agg(n=("hl2", "size"), s=("hl2", "sum")))
    out = _run(spark, "parkinson_volatility").set_index("event_type")
    assert sorted(out.index) == sorted(exp.index)
    for t in exp.index:
        assert out.loc[t, "n_days"] == exp.loc[t, "n"], t
        want = math.sqrt(exp.loc[t, "s"]
                         / (1e9 * 4 * math.log(2) * exp.loc[t, "n"]))
        assert abs(out.loc[t, "parkinson_vol"] - round(want, 6)) <= 1e-9, t


def test_garman_klass_volatility_matches_numpy(spark, ohlc_bars):
    import numpy as np

    b = ohlc_bars[ohlc_bars.open > 0]
    hl2 = np.round(1e9 * np.log(b.high / b.low) ** 2)
    co2 = np.round(1e9 * np.log(b.close / b.open) ** 2)
    term = np.round(0.5 * hl2 - (2 * math.log(2) - 1) * co2).astype("int64")
    exp = (pd.DataFrame({"event_type": b.event_type, "t": term})
           .groupby("event_type").agg(n=("t", "size"), s=("t", "sum")))
    out = _run(spark, "garman_klass_volatility").set_index("event_type")
    assert sorted(out.index) == sorted(exp.index)
    for t in exp.index:
        assert out.loc[t, "n_days"] == exp.loc[t, "n"], t
        want = math.sqrt(max(exp.loc[t, "s"] / (1e9 * exp.loc[t, "n"]), 0.0))
        assert abs(out.loc[t, "gk_vol"] - round(want, 6)) <= 1e-9, t
    # GK is more efficient than Parkinson but same scale: sanity band
    pk = _run(spark, "parkinson_volatility").set_index("event_type")
    for t in exp.index:
        assert 0 < out.loc[t, "gk_vol"] < 10 * pk.loc[t, "parkinson_vol"], t


def test_realized_vol_7d_matches_pandas(spark, ohlc_bars):
    import numpy as np

    out = (_run(spark, "realized_vol_7d")
           .set_index(["event_type", "day"]).sort_index())
    rows = []
    for t, g in ohlc_bars.groupby("event_type"):
        g = g.sort_values("day")
        r = np.round(1e6 * np.log(g.close / g.close.shift(1))).dropna()
        days = g.day.iloc[1:].to_numpy()
        for i in range(6, len(r)):
            ss = int((r.iloc[i - 6:i + 1] ** 2).sum())
            rows.append((t, days[i], round(math.sqrt(ss) / 1e6, 6)))
    exp = (pd.DataFrame(rows, columns=["event_type", "day", "rv"])
           .set_index(["event_type", "day"]).sort_index())
    assert list(out.index) == list(exp.index)
    for ix in exp.index:
        assert abs(out.loc[ix, "realized_vol"] - exp.loc[ix, "rv"]) \
            <= 1e-9, ix


# ---------------------------------------------------------------------------
# causal-inference family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def causal_base():
    """Per-user causal frame recomputed in pure pandas: parity arm,
    pre-period view+click score, pre/post purchase cents, response
    label (post purchases >= 7)."""
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, ts, event_type, "
        f"CAST(round(value * 100) AS BIGINT) AS cents "
        f"FROM '{SF_DIR}/events.parquet'").fetchdf()
    con.close()
    split = pd.Timestamp("2024-01-16")
    pre = ev.ts < split
    purch = ev.event_type == "purchase"
    g = ev.assign(
        pre_act=(pre & ev.event_type.isin(["view", "click"])).astype(int),
        pre_c=(pre & purch).astype(int) * ev.cents,
        post_c=(~pre & purch).astype(int) * ev.cents,
        post_n=(~pre & purch).astype(int),
    ).groupby("user_id").agg(
        pre_activity=("pre_act", "sum"), pre_cents=("pre_c", "sum"),
        post_cents=("post_c", "sum"), post_n=("post_n", "sum"))
    g["treat"] = (g.index % 2).astype(int)
    g["label"] = (g.post_n >= 7).astype(int)
    return g.reset_index()


def test_diff_in_diff_matches_pandas(spark, causal_base):
    b = causal_base
    t, c = b[b.treat == 1], b[b.treat == 0]
    out = _run(spark, "diff_in_diff_readout").iloc[0]
    assert out.n_treat == len(t) and out.n_control == len(c)
    tp, tq = t.pre_cents.sum() / len(t), t.post_cents.sum() / len(t)
    cp, cq = c.pre_cents.sum() / len(c), c.post_cents.sum() / len(c)
    assert abs(out.treat_pre - round(tp / 100, 4)) <= 1e-9
    assert abs(out.treat_post - round(tq / 100, 4)) <= 1e-9
    assert abs(out.control_pre - round(cp / 100, 4)) <= 1e-9
    assert abs(out.control_post - round(cq / 100, 4)) <= 1e-9
    assert abs(out.did - round((tq - tp - (cq - cp)) / 100, 4)) <= 1e-9


def test_cem_att_matches_pandas(spark, causal_base):
    b = causal_base.copy()
    b["stratum"] = b.pre_activity.map(
        lambda v: "00-10" if v <= 10 else "11-13" if v <= 13
        else "14-16" if v <= 16 else "17+")
    out = _run(spark, "cem_att_purchase").set_index("stratum")
    wsum = nt_tot = 0
    for s, g in b.groupby("stratum"):
        t, c = g[g.treat == 1], g[g.treat == 0]
        if len(t) == 0 or len(c) == 0:
            assert s not in out.index  # off common support
            continue
        mt = t.post_cents.sum() / len(t)
        mc = c.post_cents.sum() / len(c)
        assert out.loc[s, "n_treat"] == len(t), s
        assert out.loc[s, "n_control"] == len(c), s
        assert abs(out.loc[s, "diff"] - round((mt - mc) / 100, 4)) \
            <= 1e-9, s
        wsum += (mt - mc) * len(t)
        nt_tot += len(t)
    assert abs(out.loc["ATT", "diff"]
               - round(wsum / nt_tot / 100, 4)) <= 1e-9
    assert out.loc["ATT", "n_treat"] == nt_tot


@pytest.fixture(scope="module")
def decile_agg(causal_base):
    """ntile(10) decile aggregation recomputed in pandas: equal-split
    buckets over (score desc, user_id), arms counted per bucket."""
    b = causal_base.sort_values(
        ["pre_activity", "user_id"], ascending=[False, True]).reset_index()
    n = len(b)
    # SQL ntile: first (n % 10) buckets get ceil(n/10) rows
    big, rem = n // 10 + 1, n % 10
    bounds, acc = [], 0
    for i in range(10):
        acc += big if i < rem else n // 10
        bounds.append(acc)
    b["decile"] = [next(i + 1 for i, e in enumerate(bounds) if r < e)
                   for r in range(n)]
    return b.groupby("decile").apply(
        lambda g: pd.Series({
            "nt": int((g.treat == 1).sum()),
            "nc": int((g.treat == 0).sum()),
            "pt": int(g[g.treat == 1].label.sum()),
            "pc": int(g[g.treat == 0].label.sum())}),
        include_groups=False)


def test_uplift_by_decile_matches_pandas(spark, decile_agg):
    out = _run(spark, "uplift_by_decile").set_index("decile").sort_index()
    exp = decile_agg
    assert list(out.index) == list(exp.index)
    for d in exp.index:
        e = exp.loc[d]
        assert out.loc[d, "n_treat"] == e.nt and \
            out.loc[d, "n_control"] == e.nc, d
        if e.nt > 0 and e.nc > 0:
            assert abs(out.loc[d, "uplift"]
                       - round(e.pt / e.nt - e.pc / e.nc, 4)) <= 1e-9, d
        else:
            assert pd.isna(out.loc[d, "uplift"]), d


def test_qini_curve_matches_pandas(spark, decile_agg):
    out = _run(spark, "qini_curve_points").set_index("decile").sort_index()
    c = decile_agg.cumsum()
    assert list(out.index) == list(c.index)
    for d in c.index:
        e = c.loc[d]
        assert out.loc[d, "cum_treat"] == e.nt, d
        assert out.loc[d, "cum_control"] == e.nc, d
        if e.nc > 0:
            assert abs(out.loc[d, "qini"]
                       - round(e.pt - e.pc * e.nt / e.nc, 4)) <= 1e-9, d
    # full-depth Qini reconciles with the overall uplift scaled by N_t
    full = c.loc[10]
    assert abs(out.loc[10, "qini"]
               - round(full.pt - full.pc * full.nt / full.nc, 4)) <= 1e-9


# ---------------------------------------------------------------------------
# link-analysis family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def trade_edges():
    """Directed top-decile trade edges recomputed independently: pair
    volumes in pandas, the p90 as the smallest w whose cdf >= 0.9."""
    con = duckdb.connect()
    pc = con.execute(f"""
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               count(DISTINCT o.o_orderkey) AS w
        FROM '{SF_DIR}/orders.parquet' o
        JOIN '{SF_DIR}/customer.parquet' c ON o.o_custkey = c.c_custkey
        JOIN '{SF_DIR}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
        JOIN '{SF_DIR}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2""").fetchdf()
    nations = con.execute(
        f"SELECT n_nationkey FROM '{SF_DIR}/nation.parquet'"
    ).fetchdf().n_nationkey.tolist()
    con.close()
    ws = pc.w.sort_values().to_numpy()
    import numpy as np
    cdf = np.arange(1, len(ws) + 1) / len(ws)
    thr = ws[cdf >= 0.9][0]
    e = pc[pc.w >= thr][["src", "dst"]]
    return set(zip(e.src, e.dst)), nations


def test_hits_matches_numpy(spark, trade_edges):
    import numpy as np

    edges, nations = trade_edges
    idx = {n: i for i, n in enumerate(nations)}
    A = np.zeros((len(nations), len(nations)), dtype=np.int64)
    for s, d in edges:
        A[idx[s], idx[d]] = 1
    h = np.ones(len(nations), dtype=np.int64)
    for _ in range(3):
        a = A.T @ h
        h = A @ a
    out = _run(spark, "hits_hubs_authorities").set_index("n_nationkey")
    for n in nations:
        assert abs(out.loc[n, "hub"] - round(h[idx[n]] / h.sum(), 6)) \
            <= 1e-9, n
        assert abs(out.loc[n, "authority"]
                   - round(a[idx[n]] / a.sum(), 6)) <= 1e-9, n
    # scores are distributions
    assert abs(out.hub.sum() - 1.0) < 1e-4
    assert abs(out.authority.sum() - 1.0) < 1e-4


def test_katz_matches_numpy(spark, trade_edges):
    import numpy as np

    edges, nations = trade_edges
    idx = {n: i for i, n in enumerate(nations)}
    A = np.zeros((len(nations), len(nations)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    c = np.ones(len(nations))
    for _ in range(3):
        c = np.round(1.0 + 0.05 * (A.T @ c), 9)
    out = _run(spark, "katz_centrality_trade").set_index("n_nationkey")
    for n in nations:
        assert abs(out.loc[n, "katz"] - round(c[idx[n]] - 1.0, 6)) \
            <= 1e-9, n


@pytest.fixture(scope="module")
def und_graph(trade_edges):
    edges, nations = trade_edges
    neigh: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        neigh.setdefault(s, set()).add(d)
        neigh.setdefault(d, set()).add(s)
    return neigh


def test_adamic_adar_matches_python(spark, und_graph):
    neigh = und_graph
    exp = {}
    ns = sorted(neigh)
    for i, u in enumerate(ns):
        for v in ns[i + 1:]:
            common = [z for z in neigh[u] & neigh[v] if len(neigh[z]) > 1]
            if common:
                t = sum(round(1e9 / math.log(len(neigh[z])))
                        for z in common)
                exp[(u, v)] = (len(common), round(t / 1e9, 4))
    out = _run(spark, "adamic_adar_links").set_index(["u", "v"])
    assert sorted(out.index) == sorted(exp)
    for k, (nc, aa) in exp.items():
        assert out.loc[k, "n_common"] == nc, k
        assert abs(out.loc[k, "adamic_adar"] - aa) <= 1e-9, k


def test_degree_assortativity_matches_numpy(spark, und_graph):
    import numpy as np

    neigh = und_graph
    xs, ys = [], []
    for u, zs in neigh.items():
        for z in zs:
            xs.append(len(neigh[u]))
            ys.append(len(neigh[z]))
    out = _run(spark, "degree_assortativity").iloc[0]
    assert out.n_edges == len(xs) // 2
    x, y = np.array(xs, dtype=float), np.array(ys, dtype=float)
    if x.std() == 0 or y.std() == 0:
        assert pd.isna(out.assortativity)
    else:
        r = np.corrcoef(x, y)[0, 1]
        assert abs(out.assortativity - round(r, 6)) <= 1e-6


def test_kcore_matches_unbounded_python_peel(spark, und_graph):
    """The query truncates peeling at 6 rounds; this peel runs to the
    TRUE fixed point — equality proves 6 rounds suffice on this
    graph."""
    def peel(k):
        neigh = {u: set(zs) for u, zs in und_graph.items()}
        while True:
            drop = [u for u, zs in neigh.items() if len(zs) < k]
            if not drop:
                return set(neigh)
            for u in drop:
                for z in neigh[u]:
                    neigh[z].discard(u)
                del neigh[u]

    core2, core3 = peel(2), peel(3)
    out = _run(spark, "kcore_membership").set_index("n_nationkey")
    assert len(out) == 25
    for n in out.index:
        assert out.loc[n, "in_2core"] == int(n in core2), n
        assert out.loc[n, "in_3core"] == int(n in core3), n
    # core nesting: 3-core subset of 2-core
    assert (out.in_3core <= out.in_2core).all()


# ---------------------------------------------------------------------------
# readability / lexical-richness family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def doc_tokens():
    con = duckdb.connect()
    d = con.execute(f"SELECT doc_id, source, text "
                    f"FROM '{SF_DIR}/documents.parquet'").fetchdf()
    con.close()
    d["toks"] = d.text.str.strip().str.split()
    return d


def _syllables(word: str) -> int:
    groups = len(re.findall(r"[aeiouy]+", word.lower()))
    return max(groups, 1)


def test_flesch_matches_python(spark, doc_tokens):
    rows = []
    for _, r in doc_tokens.iterrows():
        w = len(r.toks)
        if w == 0:
            continue
        syl = sum(_syllables(t) for t in r.toks)
        sent = math.ceil(w / 15)
        f = 206.835 - 1.015 * w / sent - 84.6 * syl / w
        rows.append((r.source, round(1e6 * f)))
    exp = (pd.DataFrame(rows, columns=["source", "fm"])
           .groupby("source").agg(n=("fm", "size"), s=("fm", "sum")))
    out = _run(spark, "flesch_reading_ease").set_index("source")
    assert sorted(out.index) == sorted(exp.index)
    for s in exp.index:
        assert out.loc[s, "n_docs"] == exp.loc[s, "n"], s
        assert abs(out.loc[s, "avg_flesch"]
                   - round(exp.loc[s, "s"] / exp.loc[s, "n"] / 1e6, 4)) \
            <= 1e-9, s


def test_type_token_ratio_matches_python(spark, doc_tokens):
    rows = []
    for _, r in doc_tokens.iterrows():
        w = len(r.toks)
        if w == 0:
            continue
        d = len(set(r.toks))
        rows.append((r.source, round(1e6 * d / w), d, w))
    exp = (pd.DataFrame(rows, columns=["source", "tm", "d", "w"])
           .groupby("source")
           .agg(n=("tm", "size"), s=("tm", "sum"),
                sd=("d", "sum"), sw=("w", "sum")))
    out = _run(spark, "type_token_ratio").set_index("source")
    assert sorted(out.index) == sorted(exp.index)
    for s in exp.index:
        e = exp.loc[s]
        assert out.loc[s, "n_docs"] == e.n, s
        assert abs(out.loc[s, "avg_ttr"]
                   - round(e.s / e.n / 1e6, 4)) <= 1e-9, s
        assert abs(out.loc[s, "pooled_ttr"]
                   - round(e.sd / e.sw, 4)) <= 1e-9, s
        # per-doc TTR <= 1 always; pooled collapses on a tiny vocab
        assert 0 < out.loc[s, "avg_ttr"] <= 1.0


def test_trigram_hapax_matches_python(spark, doc_tokens):
    from collections import Counter

    streams = []
    for _, r in doc_tokens.iterrows():
        t = r.toks
        streams.append((r.source,
                        [" ".join(t[i:i + 3])
                         for i in range(len(t) - 2)]))
    hist = Counter(g for _, gs in streams for g in gs)
    exp = {}
    for src, gs in streams:
        n, h = exp.get(src, (0, 0))
        exp[src] = (n + len(gs), h + sum(1 for g in gs if hist[g] == 1))
    out = _run(spark, "trigram_hapax_share").set_index("source")
    assert sorted(out.index) == sorted(exp)
    for s, (n, h) in exp.items():
        assert out.loc[s, "n_trigrams"] == n, s
        assert out.loc[s, "n_hapax"] == h, s
        assert abs(out.loc[s, "hapax_share"] - round(h / n, 6)) <= 1e-9, s
    # the corpus genuinely carries trigram-level rarity
    assert out.n_hapax.sum() > 0


def test_pmi_collocations_matches_python(spark, doc_tokens):
    from collections import Counter

    uni, bi = Counter(), Counter()
    for _, r in doc_tokens.iterrows():
        t = r.toks
        uni.update(t)
        bi.update(zip(t, t[1:]))
    n, b = sum(uni.values()), sum(bi.values())
    scored = []
    for (w1, w2), c in bi.items():
        if c >= 10:
            pmi = round(math.log((c / b) / ((uni[w1] / n)
                                           * (uni[w2] / n))), 6)
            scored.append((-pmi, w1, w2, c))
    scored.sort()
    out = _run(spark, "pmi_collocations")
    assert len(out) == min(10, len(scored))
    for i, (_, w1, w2, c) in enumerate(scored[:len(out)]):
        assert out.iloc[i].w1 == w1 and out.iloc[i].w2 == w2, i
        assert out.iloc[i].n_pair == c, i
        assert abs(out.iloc[i].pmi - (-scored[i][0])) <= 1e-9, i


# ---------------------------------------------------------------------------
# index-number economics family
# ---------------------------------------------------------------------------

def test_fisher_price_index_matches_pandas(spark):
    con = duckdb.connect()
    py = con.execute(f"""
        SELECT l_partkey AS pk, year(l_shipdate) AS yr,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sp,
               sum(CAST(round(l_quantity) AS BIGINT)) AS sq
        FROM '{SF_DIR}/lineitem.parquet' GROUP BY 1, 2
        HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 0""").fetchdf()
    con.close()
    base = py[py.yr == 1995].set_index("pk")
    out = _run(spark, "fisher_price_index").set_index("ship_year")
    for yr, g in py[py.yr > 1995].groupby("yr"):
        g = g[g.pk.isin(base.index)]
        b = base.loc[g.pk]
        l_num = int(sum(round(1e4 * spt * sq0 / sqt)
                        for spt, sqt, sq0
                        in zip(g.sp, g.sq, b.sq)))
        l_den = int(b.sp.sum()) * 10000
        p_num = int(g.sp.sum()) * 10000
        p_den = int(sum(round(1e4 * sp0 * sqt / sq0)
                        for sp0, sq0, sqt
                        in zip(b.sp, b.sq, g.sq)))
        assert out.loc[yr, "n_parts"] == len(g), yr
        lasp, paas = l_num / l_den, p_num / p_den
        assert abs(out.loc[yr, "laspeyres"] - round(lasp, 6)) <= 1e-9, yr
        assert abs(out.loc[yr, "paasche"] - round(paas, 6)) <= 1e-9, yr
        assert abs(out.loc[yr, "fisher"]
                   - round(math.sqrt(lasp * paas), 6)) <= 1e-9, yr
        # Fisher lies between its two legs
        lo, hi = sorted([out.loc[yr, "laspeyres"],
                         out.loc[yr, "paasche"]])
        assert lo - 1e-6 <= out.loc[yr, "fisher"] <= hi + 1e-6, yr


def test_rca_balassa_matches_pandas(spark):
    con = duckdb.connect()
    cells = con.execute(f"""
        SELECT sn.n_name AS nation,
               string_split(p.p_type, ' ')[1] AS type_class,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS x
        FROM '{SF_DIR}/lineitem.parquet' l
        JOIN '{SF_DIR}/supplier.parquet' s ON s.s_suppkey = l.l_suppkey
        JOIN '{SF_DIR}/nation.parquet' sn
          ON sn.n_nationkey = s.s_nationkey
        JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2""").fetchdf()
    con.close()
    xn = cells.groupby("nation").x.sum()
    xp = cells.groupby("type_class").x.sum()
    xt = cells.x.sum()
    out = (_run(spark, "rca_balassa_index")
           .set_index(["nation", "type_class"]).sort_index())
    assert len(out) == len(cells)
    for _, r in cells.iterrows():
        ix = (r.nation, r.type_class)
        rca = (r.x / xn[r.nation]) / (xp[r.type_class] / xt)
        assert abs(out.loc[ix, "rca"] - round(rca, 6)) <= 1e-9, ix
    # weighted-by-class-share RCA averages to 1 per nation (identity)
    for nation, g in cells.groupby("nation"):
        w = sum((row.x / xn[nation])
                for _, row in g.iterrows())
        assert abs(w - 1.0) < 1e-12, nation


# ---------------------------------------------------------------------------
# forecast-accuracy battery + cumulative hazard
# ---------------------------------------------------------------------------

def test_forecast_accuracy_battery_matches_pandas(spark):
    con = duckdb.connect()
    bars = con.execute(f"""
        SELECT event_type, day(ts) AS day,
               sum(CAST(round(value * 100) AS BIGINT)) AS bar
        FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2
        ORDER BY 1, 2""").fetchdf()
    con.close()
    out = (_run(spark, "forecast_accuracy_battery")
           .set_index(["event_type", "model"]).sort_index())
    for t, g in bars.groupby("event_type"):
        g = g.sort_values("day").reset_index(drop=True)
        diffs = (g.bar - g.bar.shift(1)).abs()
        train = diffs[(g.day <= 15) & g.bar.shift(1).notna()]
        scale = train.sum() / len(train)
        for model, lagk in [("persistence", 1), ("seasonal_naive", 7)]:
            f = g.bar.shift(lagk)
            # mirror the query's sMAPE-undefined row filter too
            mask = ((g.day > 15) & f.notna()
                    & ((g.bar.abs() + f.abs()) > 0))
            a, fv = g.bar[mask], f[mask]
            ae = (a - fv).abs()
            sm = ((2e6 * ae / (a.abs() + fv.abs())).round()
                  .astype("int64"))
            ix = (t, model)
            assert out.loc[ix, "n_test"] == int(mask.sum()), ix
            assert abs(out.loc[ix, "mae"]
                       - round(ae.sum() / mask.sum() / 100, 4)) \
                <= 1e-9, ix
            assert abs(out.loc[ix, "smape"]
                       - round(sm.sum() / mask.sum() / 1e6, 6)) \
                <= 1e-9, ix
            assert abs(out.loc[ix, "wape"]
                       - round(ae.sum() / a.abs().sum(), 6)) <= 1e-9, ix
            assert abs(out.loc[ix, "mase"]
                       - round(ae.sum() / mask.sum() / scale, 6)) \
                <= 1e-9, ix
    # persistence beats seasonal-naive on MASE for a random-walk-ish
    # series in aggregate (sanity: both finite, positive)
    assert (out.mase > 0).all()


def test_nelson_aalen_consistent_with_km(spark):
    """NA/KM cross-consistency: same framing, so both estimators share
    (t, d, n_risk) exactly; H(t) = sum d/n (pico-quantized) and
    exp(-H) >= KM survival (standard inequality), with both close."""
    import __spark_entry__ as entry_mod

    km_fn = entry_mod.queries()["survival_km_conversion"]
    na = (_run(spark, "nelson_aalen_hazard")
          .set_index("dur_h").sort_index())
    km = km_fn(spark, SF_DIR).toPandas().set_index("dur_h").sort_index()
    assert list(na.index) == list(km.index)
    assert (na.n_died == km.n_died).all()
    assert (na.n_risk == km.n_risk).all()
    run = 0
    for t in na.index:
        run += round(1e12 * na.loc[t, "n_died"] / na.loc[t, "n_risk"])
        assert abs(na.loc[t, "cum_hazard"] - round(run / 1e12, 6)) \
            <= 1e-9, t
        assert abs(na.loc[t, "fh_survival"]
                   - round(math.exp(-run / 1e12), 6)) <= 1e-9, t
        # Fleming-Harrington dominates Kaplan-Meier
        assert na.loc[t, "fh_survival"] >= km.loc[t, "survival"] - 1e-9
    # hazard is nondecreasing
    assert na.cum_hazard.is_monotonic_increasing


# ---------------------------------------------------------------------------
# fulfillment / SLA operations family
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def lead_times():
    con = duckdb.connect()
    d = con.execute(f"""
        SELECT o.o_orderpriority AS priority,
               CAST(year(o.o_orderdate) AS INT) AS order_year,
               datediff('day', o.o_orderdate, l.l_shipdate) AS days
        FROM '{SF_DIR}/lineitem.parquet' l
        JOIN '{SF_DIR}/orders.parquet' o
          ON l.l_orderkey = o.o_orderkey""").fetchdf()
    con.close()
    return d


def test_lead_time_percentiles_match_pandas(spark, lead_times):
    out = _run(spark, "lead_time_percentiles").set_index("priority")
    for p, g in lead_times.groupby("priority"):
        v = g.days.sort_values().to_numpy()
        n = len(v)
        assert out.loc[p, "n_lines"] == n, p
        for q, col in [(50, "p50_days"), (90, "p90_days"),
                       (99, "p99_days")]:
            assert out.loc[p, col] == v[(n - 1) * q // 100], (p, q)
    # order statistics are monotone in q
    assert (out.p50_days <= out.p90_days).all()
    assert (out.p90_days <= out.p99_days).all()


def test_sla_on_time_rate_matches_pandas(spark, lead_times):
    out = _run(spark, "sla_on_time_rate").set_index("priority")
    for p, g in lead_times.groupby("priority"):
        n = len(g)
        assert out.loc[p, "n_lines"] == n, p
        for d, col in [(30, "within_30d"), (60, "within_60d"),
                       (90, "within_90d")]:
            assert abs(out.loc[p, col]
                       - round(int((g.days <= d).sum()) / n, 6)) \
                <= 1e-9, (p, d)
        assert out.loc[p, "n_backdated"] == int((g.days < 0).sum()), p
    # cumulative SLA curves are monotone
    assert (out.within_30d <= out.within_60d).all()
    assert (out.within_60d <= out.within_90d).all()


def test_lead_time_yearly_trend_matches_pandas(spark, lead_times):
    out = (_run(spark, "lead_time_yearly_trend")
           .set_index(["order_year", "priority"]).sort_index())
    exp = (lead_times.groupby(["order_year", "priority"])
           .agg(n=("days", "size"), s=("days", "sum")).sort_index())
    assert list(out.index) == list(exp.index)
    for ix in exp.index:
        assert out.loc[ix, "n_lines"] == exp.loc[ix, "n"], ix
        assert abs(out.loc[ix, "avg_lead_days"]
                   - round(exp.loc[ix, "s"] / exp.loc[ix, "n"], 4)) \
            <= 1e-9, ix
    # partition identity: yearly cells sum to the whole fact
    assert out.n_lines.sum() == len(lead_times)


def test_position_u_attribution_matches_pandas(spark, journeys):
    m, none, total_cents = journeys
    s = m.sort_values(["touch_ts", "touch_id"]).copy()
    s["ra"] = s.groupby("conv_id").cumcount() + 1
    s["n"] = s.groupby("conv_id")["touch_id"].transform("count")
    s["rd"] = s.n - s.ra + 1

    def credit(r):
        if r.n == 1:
            return r.cents * 1_000_000
        if r.n == 2:
            return r.cents * 500_000
        if r.ra == 1 or r.rd == 1:
            return r.cents * 400_000
        return (r.cents * 200_000) // (r.n - 2)

    s["credit"] = s.apply(credit, axis=1)
    cr = s[["channel", "conv_id", "credit"]]
    if len(none):
        cr = pd.concat([cr, pd.DataFrame({
            "channel": "(none)", "conv_id": none.conv_id,
            "credit": none.cents * 1_000_000})])
    exp = (cr.groupby("channel")
           .agg(n_conversions=("conv_id", "nunique"), s=("credit", "sum")))
    out = _run(spark, "attribution_position_u").set_index("channel").sort_index()
    exp = exp.sort_index()
    assert list(out.index) == list(exp.index)
    assert (out.n_conversions == exp.n_conversions).all()
    for ch in exp.index:
        assert abs(out.loc[ch, "attributed_value"]
                   - round(exp.loc[ch, "s"] / 1e8, 4)) <= 1e-9, ch
