"""Tests for the STAGED round-8 catalog families.

Same contract as test_staged_r7.py: the DuckDB oracle sweep proves
Spark == SQL replay; these tests prove both match the MATH via an
independent pure-pandas/numpy reimplementation of each metric spec,
plus family-specific invariants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def split_cents():
    ev = _events()
    cents = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
    early = ev["ts"] < pd.Timestamp("2024-01-16")
    return cents[early.to_numpy()], cents[~early.to_numpy()]


class TestDistDist:
    def test_wasserstein_matches_bruteforce(self, spark, split_cents):
        from predictor_spark.plans.catalog_r8_distdist import (
            wasserstein_value_drift)

        a, b = split_cents
        # brute force: mean absolute difference of matched quantiles is
        # NOT the grouped-CDF form — integrate |Fa - Fb| over the grid
        grid = np.unique(np.concatenate([a, b]))
        fa = np.searchsorted(np.sort(a), grid, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
        w1 = float(np.sum(np.abs(fa - fb)[:-1] * np.diff(grid))) / 100.0

        row = wasserstein_value_drift(spark, SF_DIR).collect()[0]
        assert row["n_early"] == len(a) and row["n_late"] == len(b)
        assert row["wasserstein_1"] == pytest.approx(w1, abs=2e-6)

    def test_cvm_matches_bruteforce(self, spark, split_cents):
        from predictor_spark.plans.catalog_r8_distdist import (
            cramer_von_mises_drift)

        a, b = split_cents
        pooled = np.concatenate([a, b])
        grid, cnt = np.unique(pooled, return_counts=True)
        fa = np.searchsorted(np.sort(a), grid, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
        n = len(pooled)
        t = len(a) * len(b) / n**2 * float(
            np.sum(cnt * (fa - fb) ** 2))

        row = cramer_von_mises_drift(spark, SF_DIR).collect()[0]
        assert row["cvm_t"] == pytest.approx(t, abs=2e-6)

    def test_energy_matches_bruteforce(self, spark, split_cents):
        from predictor_spark.plans.catalog_r8_distdist import (
            energy_distance_drift)

        a, b = split_cents
        axy = np.abs(a[:, None] - b[None, :]).mean()
        axx = np.abs(a[:, None] - a[None, :]).mean()
        ayy = np.abs(b[:, None] - b[None, :]).mean()
        e = float(2 * axy - axx - ayy) / 100.0

        row = energy_distance_drift(spark, SF_DIR).collect()[0]
        assert row["energy_distance"] == pytest.approx(e, abs=2e-6)

    def test_energy_distance_nonnegative(self, spark):
        """Energy distance is a metric — the V-statistic is >= 0."""
        from predictor_spark.plans.catalog_r8_distdist import (
            energy_distance_drift)

        row = energy_distance_drift(spark, SF_DIR).collect()[0]
        assert row["energy_distance"] >= 0.0


def _brute_profile(x: np.ndarray, m: int, excl: int):
    """O(n^2 m) loop-form matrix profile — independent of the engine's
    vectorized stride-trick kernel."""
    nsub = len(x) - m + 1
    mp = np.full(nsub, np.iinfo(np.int64).max, dtype=np.int64)
    nn = np.zeros(nsub, dtype=np.int64)
    for i in range(nsub):
        for j in range(nsub):
            if abs(i - j) < excl:
                continue
            d = int(((x[i:i + m] - x[j:j + m]) ** 2).sum())
            if d < mp[i]:
                mp[i], nn[i] = d, j
    return mp, nn


@pytest.fixture(scope="module")
def bars_by_type():
    ev = _events()
    ev = ev.assign(
        slot=(ev["ts"].astype("int64") // (14_400_000 * 1_000_000)),
        cents=np.round(ev["value"].to_numpy() * 100).astype(np.int64))
    g = (ev.groupby(["event_type", "slot"])["cents"].sum()
         .reset_index(name="bar"))
    return {t: grp.sort_values("slot")["bar"].to_numpy(dtype=np.int64)
            for t, grp in g.groupby("event_type")}


class TestMatrixProfile:
    def test_profile_matches_bruteforce(self, spark, bars_by_type):
        from predictor_spark.plans.catalog_r8_matrixprofile import (
            _EXCL, _M, matrix_profile_4h)

        got = (matrix_profile_4h(spark, SF_DIR).toPandas()
               .set_index(["event_type", "i"]))
        for t, x in bars_by_type.items():
            if len(x) < _M + 2 * _EXCL:
                continue
            mp, nn = _brute_profile(x, _M, _EXCL)
            for i in range(len(mp)):
                row = got.loc[(t, i + 1)]
                assert row["mp_d2"] == mp[i], (t, i)
                assert row["nn_idx"] == nn[i] + 1, (t, i)

    def test_motif_is_global_minimum(self, spark, bars_by_type):
        from predictor_spark.plans.catalog_r8_matrixprofile import (
            _EXCL, _M, motif_top_pair)

        got = motif_top_pair(spark, SF_DIR).toPandas().set_index("event_type")
        for t, x in bars_by_type.items():
            if len(x) < _M + 2 * _EXCL:
                continue
            mp, _ = _brute_profile(x, _M, _EXCL)
            row = got.loc[t]
            assert row["motif_d2"] == mp.min()
            a, b = int(row["motif_a"]) - 1, int(row["motif_b"]) - 1
            assert a < b and b - a >= _EXCL
            d = int(((x[a:a + _M] - x[b:b + _M]) ** 2).sum())
            assert d == mp.min()

    def test_discord_is_profile_maximum(self, spark, bars_by_type):
        from predictor_spark.plans.catalog_r8_matrixprofile import (
            _EXCL, _M, discord_top)

        got = discord_top(spark, SF_DIR).toPandas().set_index("event_type")
        for t, x in bars_by_type.items():
            if len(x) < _M + 2 * _EXCL:
                continue
            mp, _ = _brute_profile(x, _M, _EXCL)
            row = got.loc[t]
            assert row["discord_d2"] == mp.max()
            # smallest-index tie-break
            assert int(row["discord_idx"]) - 1 == int(np.argmax(mp))


class TestInventory:
    @pytest.fixture(scope="class")
    def li_orders(self):
        li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
        part = pd.read_parquet(f"{SF_DIR}/part.parquet")
        df = (li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
              .merge(part, left_on="l_partkey", right_on="p_partkey"))
        df["ship_day"] = df["l_shipdate"].dt.normalize()
        return df

    def test_croston_matches_loop(self, spark, li_orders):
        from predictor_spark.plans.catalog_r8_inventory import (
            croston_forecast)

        got = (croston_forecast(spark, SF_DIR).toPandas()
               .set_index("part_key"))
        epoch = pd.Timestamp("1995-01-01")
        df = li_orders[li_orders.l_partkey <= 20]
        daily = (df.groupby(["l_partkey", "ship_day"])["l_quantity"].sum()
                 .reset_index())
        for pk, grp in daily.groupby("l_partkey"):
            grp = grp.sort_values("ship_day")
            if len(grp) < 2:
                assert pk not in got.index
                continue
            d = ((grp["ship_day"] - epoch).dt.days + 1).to_numpy()
            s = grp["l_quantity"].to_numpy()
            z, q = float(s[0]), float(d[0])
            for k in range(1, len(s)):
                z = 0.2 * float(s[k]) + 0.8 * z
                q = 0.2 * float(d[k] - d[k - 1]) + 0.8 * q
            row = got.loc[pk]
            assert row["n_demand_days"] == len(grp)
            assert row["size_ewma"] == pytest.approx(z, abs=1e-6)
            assert row["croston_rate"] == pytest.approx(z / q, abs=1e-6)

    def test_safety_stock_matches_pandas(self, spark, li_orders):
        from predictor_spark.plans.catalog_r8_inventory import (
            safety_stock_reorder_point)

        got = (safety_stock_reorder_point(spark, SF_DIR).toPandas()
               .set_index("brand"))
        ld = (li_orders["ship_day"]
              - li_orders["o_orderdate"].dt.normalize()).dt.days
        df = li_orders.assign(ld=ld.clip(lower=0))
        for brand, grp in df.groupby("p_brand"):
            daily = grp.groupby("ship_day")["l_quantity"].sum()
            mu, sd = daily.mean(), daily.std(ddof=1)
            lead = grp["ld"].mean()
            row = got.loc[brand]
            assert row["mu_daily"] == pytest.approx(mu, abs=1e-5)
            assert row["sigma_daily"] == pytest.approx(sd, abs=1e-5)
            assert row["lead_days"] == pytest.approx(lead, abs=1e-5)
            assert row["reorder_point"] == pytest.approx(
                mu * lead + 1.6449 * sd * np.sqrt(lead), abs=1e-3)

    def test_eoq_formula(self, spark, li_orders):
        from predictor_spark.plans.catalog_r8_inventory import (
            eoq_order_quantity)

        got = eoq_order_quantity(spark, SF_DIR).toPandas().set_index("brand")
        span = (li_orders["ship_day"].max()
                - li_orders["ship_day"].min()).days + 1
        for brand, grp in li_orders.groupby("p_brand"):
            tot_q = grp["l_quantity"].sum()
            dem = tot_q * 365.0 / span
            hold = 0.2 * (grp["l_extendedprice"].sum() / tot_q)
            row = got.loc[brand]
            assert row["annual_demand"] == pytest.approx(dem, rel=1e-6)
            assert row["holding_cost"] == pytest.approx(hold, rel=1e-6)
            assert row["eoq"] == pytest.approx(
                np.sqrt(2 * dem * 100.0 / hold), abs=1e-3)

    def test_xyz_classes_partition_brands(self, spark):
        from predictor_spark.plans.catalog_r8_inventory import (
            xyz_demand_variability)

        got = xyz_demand_variability(spark, SF_DIR).toPandas()
        assert len(got) == 25
        assert set(got["xyz_class"]) <= {"X", "Y", "Z"}
        # class boundaries are consistent with the reported CV
        for _, r in got.iterrows():
            expect = "X" if r.demand_cv < 0.5 else (
                "Y" if r.demand_cv < 1.0 else "Z")
            assert r.xyz_class == expect


class TestMcda:
    def test_skyline_matches_bruteforce_dominance(self, spark):
        from predictor_spark.plans.catalog_r8_mcda import skyline_parts

        part = pd.read_parquet(f"{SF_DIR}/part.parquet")
        price = np.round(part["p_retailprice"].to_numpy() * 100).astype(
            np.int64)
        size = part["p_size"].to_numpy(dtype=np.int64)
        # O(n^2) dominance: q dominates p iff q.price <= p.price and
        # q.size >= p.size, strict on at least one axis
        dominated = np.zeros(len(part), dtype=bool)
        for i in range(len(part)):
            dom = ((price <= price[i]) & (size >= size[i])
                   & ((price < price[i]) | (size > size[i])))
            dominated[i] = bool(dom.any())
        expect = set(part["p_partkey"].to_numpy()[~dominated])

        got = skyline_parts(spark, SF_DIR).toPandas()
        assert set(got["p_partkey"]) == expect
        # frontier sanity: a pricier skyline part must be strictly
        # larger (else the cheaper one would dominate it)
        g = got.sort_values("price")
        assert (np.diff(g["size"].to_numpy()) > 0).all() or len(g) == 1

    def test_borda_matches_pandas_ranks(self, spark):
        from predictor_spark.plans.catalog_r8_mcda import (
            borda_brand_ranking)

        li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
        part = pd.read_parquet(f"{SF_DIR}/part.parquet")
        df = (li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
              .merge(part, left_on="l_partkey", right_on="p_partkey"))
        df["rev_c"] = np.round(
            df["l_extendedprice"] * (1 - df["l_discount"]) * 100)
        stats = df.groupby("p_brand").agg(
            rev=("rev_c", "sum"), cust=("o_custkey", "nunique"),
            qty=("l_quantity", "sum"))
        n = len(stats)
        ranks = stats.rank(method="min", ascending=False)
        borda = (3 * n - ranks.sum(axis=1)).astype(int)

        got = (borda_brand_ranking(spark, SF_DIR).toPandas()
               .set_index("brand"))
        for brand in stats.index:
            assert got.loc[brand, "borda_score"] == borda[brand]

    def test_topsis_closeness_and_rank(self, spark):
        from predictor_spark.plans.catalog_r8_mcda import (
            topsis_supplier_ranking)

        li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        li["rev_c"] = np.round(
            li["l_extendedprice"] * (1 - li["l_discount"]) * 100)
        li["disc_c"] = np.round(li["l_discount"] * 100)
        s = li.groupby("l_suppkey").agg(
            rev=("rev_c", "sum"), qty=("l_quantity", "sum"),
            disc=("disc_c", "sum"), n=("l_orderkey", "size"))
        crit = np.stack([s["rev"].to_numpy(dtype=float),
                         s["qty"].to_numpy(dtype=float),
                         (s["disc"] / s["n"]).to_numpy(dtype=float)], axis=1)
        v = crit / np.sqrt((crit**2).sum(axis=0)) / 3.0
        ideal = np.array([v[:, 0].max(), v[:, 1].max(), v[:, 2].min()])
        anti = np.array([v[:, 0].min(), v[:, 1].min(), v[:, 2].max()])
        dp = np.sqrt(((v - ideal)**2).sum(axis=1))
        dm = np.sqrt(((v - anti)**2).sum(axis=1))
        close = dm / (dp + dm)

        got = (topsis_supplier_ranking(spark, SF_DIR).toPandas()
               .set_index("suppkey"))
        for key, c in zip(s.index, close):
            assert got.loc[key, "closeness"] == pytest.approx(c, abs=2e-6)
        # closeness in [0,1]; ranks are a permutation
        assert got["closeness"].between(0, 1).all()
        assert sorted(got["topsis_rank"]) == list(range(1, len(got) + 1))


class TestScorecard:
    def test_woe_iv_matches_pandas(self, spark):
        from predictor_spark.plans.catalog_r8_scorecard import (
            woe_iv_discount_returns)

        li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        li["bad"] = (li["l_returnflag"] == "R").astype(int)
        tab = li.groupby("l_discount")["bad"].agg(["count", "sum"])
        good, bad = tab["count"] - tab["sum"], tab["sum"]
        g_tot, b_tot = good.sum(), bad.sum()
        woe = np.log((good / g_tot) / (bad / b_tot))
        iv = (good / g_tot - bad / b_tot) * woe

        got = (woe_iv_discount_returns(spark, SF_DIR).toPandas()
               .set_index("discount"))
        for disc in tab.index:
            assert got.loc[disc, "woe"] == pytest.approx(
                woe[disc], abs=1e-6)
            assert got.loc[disc, "iv_term"] == pytest.approx(
                iv[disc], abs=1e-6)

    def test_somers_d_equals_2auc_minus_1(self, spark):
        """For binary Y, Somers' D_{Y|X} is exactly 2*AUC - 1 of X as
        the score — recompute AUC by midranks, independently."""
        from predictor_spark.plans.catalog_r8_scorecard import (
            somers_d_qty_returns)

        li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        y = (li["l_returnflag"] == "R").astype(int).to_numpy()
        x = li["l_quantity"].to_numpy()
        r = pd.Series(x).rank(method="average").to_numpy()
        n1, n0 = int(y.sum()), int((1 - y).sum())
        auc = (r[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)

        row = somers_d_qty_returns(spark, SF_DIR).collect()[0]
        assert row["somers_d"] == pytest.approx(2 * auc - 1, abs=1e-6)
        assert row["n"] == len(li)

    def test_brier_terms_recompose(self, spark):
        """Sum(brier_term) over bins == the exact mean squared error of
        the (score/1e6, label) pairs, and REL - RES + UNC matches it up
        to the nonnegative within-bin variance."""
        from predictor_spark.plans.catalog_r8_scorecard import (
            brier_decomposition)

        ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
        split = pd.Timestamp("2024-01-16")
        g = ev.assign(
            early=(ev["ts"] < split).astype(int),
            early_p=((ev["ts"] < split)
                     & (ev["event_type"] == "purchase")).astype(int),
            late_p=((ev["ts"] >= split)
                    & (ev["event_type"] == "purchase")).astype(int),
        ).groupby("user_id")[["early", "early_p", "late_p"]].sum()
        g = g[g["early"] > 0]
        score = np.floor(1e6 * g["early_p"] / g["early"]).astype(np.int64)
        label = (g["late_p"] >= 7).astype(int)
        brier = float(((score / 1e6 - label) ** 2).mean())
        ybar = label.mean()

        got = brier_decomposition(spark, SF_DIR).toPandas()
        assert got["brier_term"].sum() == pytest.approx(brier, abs=1e-5)
        rel, res = got["reliability_term"].sum(), got["resolution_term"].sum()
        unc = ybar * (1 - ybar)
        within = brier - (rel - res + unc)
        assert within >= -1e-5  # within-bin variance is nonnegative
        # weighted bin means recompose the global mean forecast
        n = got["n"].sum()
        assert (got["n"] * got["event_rate"]).sum() / n == pytest.approx(
            ybar, abs=1e-4)


class TestPrivacy:
    def test_dp_histogram_noise_is_seeded_laplace(self, spark):
        import hashlib

        from predictor_spark.plans.catalog_r8_privacy import (
            dp_histogram_laplace)

        ev = _events()
        truth = ev.groupby("event_type").size()
        got = (dp_histogram_laplace(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, c in truth.items():
            h = int(hashlib.md5(f"dp|{t}".encode()).hexdigest()[:7], 16)
            u = (h + 0.5) / 2**28
            v = u - 0.5
            noise = -np.sign(v) * np.log(1 - 2 * abs(v)) / 1.0
            row = got.loc[t]
            assert row["true_count"] == c
            assert row["laplace_noise"] == pytest.approx(noise, abs=1e-6)
            assert row["dp_count"] == pytest.approx(c + noise, abs=1e-6)

    def test_dp_noise_distribution_properties(self, spark):
        """The inverse-CDF transform maps u=0.5 to 0 and is symmetric:
        check the implementation's transform directly over a grid."""
        for u in np.linspace(0.01, 0.99, 23):
            v = u - 0.5
            nz = -np.sign(v) * np.log(1 - 2 * abs(v))
            nz_mirror = -np.sign(-v) * np.log(1 - 2 * abs(-v))
            assert nz == pytest.approx(-nz_mirror)
        assert -np.sign(0.0) * np.log(1.0) == 0.0

    def test_randomized_response_estimator(self, spark):
        import hashlib

        from predictor_spark.plans.catalog_r8_privacy import (
            randomized_response_share)

        ev = _events()
        truth = (ev.assign(p=(ev["event_type"] == "purchase").astype(int))
                 .groupby("user_id")["p"].max())
        reported = []
        for uid, t in truth.items():
            h = int(hashlib.md5(f"rr|{uid}".encode()).hexdigest()[:7], 16)
            u = (h + 0.5) / 2**28
            reported.append(t if u < 0.75 else 1 - t)
        lam = np.mean(reported)

        row = randomized_response_share(spark, SF_DIR).collect()[0]
        assert row["n_users"] == len(truth)
        assert row["true_share"] == pytest.approx(truth.mean(), abs=1e-6)
        assert row["reported_share"] == pytest.approx(lam, abs=1e-6)
        assert row["estimated_share"] == pytest.approx(
            (lam - 0.25) / 0.5, abs=1e-5)
        # the estimator should land near the truth (plausible
        # deniability without destroying the aggregate)
        assert abs(row["estimated_share"] - row["true_share"]) < 0.1


@pytest.fixture(scope="module")
def daily_bars():
    ev = _events()
    ev = ev.assign(day=ev["ts"].dt.normalize(),
                   cents=np.round(ev["value"].to_numpy() * 100)
                   .astype(np.int64))
    g = ev.groupby(["event_type", "day"])["cents"].sum().reset_index()
    return {t: grp.sort_values("day")["cents"].to_numpy(dtype=np.int64)
            for t, grp in g.groupby("event_type")}


class TestForecast2:
    def test_ses_matches_loop(self, spark, daily_bars):
        from predictor_spark.plans.catalog_r8_forecast2 import (
            ses_forecast_per_series)

        got = (ses_forecast_per_series(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, x in daily_bars.items():
            if len(x) < 3:
                continue
            l, err = float(x[0]), 0.0
            for k in range(1, len(x)):
                err += abs(float(x[k]) - l)
                l = 0.3 * float(x[k]) + 0.7 * l
            row = got.loc[t]
            assert row["n"] == len(x)
            assert row["ses_level"] == pytest.approx(l / 100, abs=1e-5)
            assert row["one_step_mae"] == pytest.approx(
                err / (len(x) - 1) / 100, abs=1e-5)

    def test_theta_matches_loop(self, spark, daily_bars):
        from predictor_spark.plans.catalog_r8_forecast2 import (
            theta_method_per_series)

        got = (theta_method_per_series(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, x in daily_bars.items():
            n = len(x)
            if n < 3:
                continue
            tt = np.arange(1, n + 1, dtype=float)
            b, a = np.polyfit(tt, x.astype(float), 1)
            theta2 = 2 * x.astype(float) - (a + b * tt)
            l = theta2[0]
            for k in range(1, n):
                l = 0.5 * theta2[k] + 0.5 * l
            row = got.loc[t]
            assert row["trend_slope"] == pytest.approx(b / 100, abs=1e-4)
            assert row["theta2_level"] == pytest.approx(l / 100, rel=1e-5)
            for h in (1, 2, 3):
                assert row[f"fc{h}"] == pytest.approx(
                    0.5 * (l + a + b * (n + h)) / 100, rel=1e-5)

    def test_drift_line_through_endpoints(self, spark, daily_bars):
        from predictor_spark.plans.catalog_r8_forecast2 import (
            drift_forecast_per_series)

        got = (drift_forecast_per_series(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, x in daily_bars.items():
            n = len(x)
            if n < 3:
                continue
            slope = (float(x[-1]) - float(x[0])) / (n - 1)
            row = got.loc[t]
            assert row["drift_per_day"] == pytest.approx(
                slope / 100, abs=1e-5)
            assert row["fc1"] == pytest.approx(
                (x[-1] + slope) / 100, abs=1e-4)
            assert row["fc3"] == pytest.approx(
                (x[-1] + 3 * slope) / 100, abs=1e-4)
            # fc extends the endpoint line: fc3 - fc1 == 2 * slope
            assert row["fc3"] - row["fc1"] == pytest.approx(
                2 * slope / 100, abs=1e-4)


def _sse(x: np.ndarray) -> float:
    return float(((x - x.mean()) ** 2).sum())


def _brute_binseg(x: np.ndarray, minseg: int = 3):
    """O(n^2) loop-form best mean split — independent of the window
    algebra: try every k, recompute segment SSEs from scratch."""
    n = len(x)
    best_k, best_gain = None, -np.inf
    total = _sse(x.astype(float))
    for k in range(minseg, n - minseg + 1):
        gain = total - _sse(x[:k].astype(float)) - _sse(x[k:].astype(float))
        if gain > best_gain + 1e-9:
            best_k, best_gain = k, gain
    return best_k, best_gain


class TestChangepoint:
    def test_best_split_matches_bruteforce(self, spark, daily_bars):
        from predictor_spark.plans.catalog_r8_changepoint import (
            binseg_mean_split)

        got = (binseg_mean_split(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, x in daily_bars.items():
            k, gain = _brute_binseg(x)
            row = got.loc[t]
            assert row["split_idx"] == k
            assert row["gain"] == pytest.approx(gain / 1e4, rel=1e-6)
            assert row["mean_left"] == pytest.approx(
                x[:k].mean() / 100, abs=1e-4)
            assert row["mean_right"] == pytest.approx(
                x[k:].mean() / 100, abs=1e-4)

    def test_second_split_matches_bruteforce(self, spark, daily_bars):
        from predictor_spark.plans.catalog_r8_changepoint import (
            binseg_second_split)

        got = (binseg_second_split(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, x in daily_bars.items():
            k1, _ = _brute_binseg(x)
            cands = []
            kl, gl = _brute_binseg(x[:k1])
            if kl is not None:
                cands.append((gl, 0, kl))
            kr, gr = _brute_binseg(x[k1:])
            if kr is not None:
                cands.append((gr, 1, kr + k1))
            if not cands:
                assert t not in got.index
                continue
            gain2, _, k2 = max(cands, key=lambda c: (round(c[0], 2), -c[1]))
            row = got.loc[t]
            assert row["split1_idx"] == k1
            assert row["split2_idx"] == k2
            assert row["gain2"] == pytest.approx(gain2 / 1e4, rel=1e-6)

    def test_t_stat_matches_scipy_free_formula(self, spark, daily_bars):
        from predictor_spark.plans.catalog_r8_changepoint import (
            level_shift_t_stat)

        got = (level_shift_t_stat(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, x in daily_bars.items():
            k, _ = _brute_binseg(x)
            a, b = x[:k].astype(float), x[k:].astype(float)
            n = len(x)
            shift = b.mean() - a.mean()
            pooled = np.sqrt((_sse(a) + _sse(b)) / (n - 2))
            tstat = shift / pooled / np.sqrt(1 / k + 1 / (n - k))
            row = got.loc[t]
            assert row["level_shift"] == pytest.approx(
                shift / 100, abs=1e-4)
            assert row["t_stat"] == pytest.approx(tstat, abs=1e-3)


class TestBlockingQuality:
    def test_report_consistent_with_dedup_rows(self, spark):
        """The report's legs must agree with the engine's own dedup
        rows: n_true == |dedup_ngram_jaccard| and the caught count
        equals |dedup_minhash_lsh| (candidates verified >= threshold
        == truth ∩ candidates, since truth IS the >=-threshold set)."""
        from predictor_spark.plans.catalog_r8_dedupeval import (
            blocking_quality_report)
        from predictor_spark.plans.catalog_text import (
            dedup_minhash_lsh, dedup_ngram_jaccard)

        row = blocking_quality_report(spark, SF_DIR).collect()[0]
        n_true = dedup_ngram_jaccard(spark, SF_DIR).count()
        n_lsh = dedup_minhash_lsh(spark, SF_DIR).count()
        assert row["n_true_pairs"] == n_true
        assert row["n_caught"] == n_lsh
        assert 0 <= row["n_caught"] <= row["n_true_pairs"]
        assert row["n_candidate_pairs"] >= row["n_caught"]
        assert 0.0 <= row["pair_completeness"] <= 1.0
        # blocking must actually block: candidate pairs a small
        # fraction of the quadratic total
        assert row["reduction_ratio"] > 0.9
        # ratios recompute from the integer counts
        total = row["n_docs"] * (row["n_docs"] - 1) / 2
        assert row["reduction_ratio"] == pytest.approx(
            1 - row["n_candidate_pairs"] / total, abs=2e-6)
        assert row["pair_completeness"] == pytest.approx(
            row["n_caught"] / n_true, abs=2e-6)


class TestEstimation:
    def test_gumbel_fit_matches_numpy(self, spark):
        from predictor_spark.plans.catalog_r8_estimation import (
            gumbel_return_level)

        ev = _events()
        ev = ev.assign(day=ev["ts"].dt.normalize(),
                       cents=np.round(ev["value"].to_numpy() * 100)
                       .astype(np.int64))
        got = (gumbel_return_level(spark, SF_DIR).toPandas()
               .set_index("event_type"))
        for t, grp in ev.groupby("event_type"):
            mx = grp.groupby("day")["cents"].max().to_numpy(dtype=float)
            s = mx.std(ddof=1) / 100
            beta = s * np.sqrt(6) / np.pi
            mu = mx.mean() / 100 - 0.5772156649015329 * beta
            rl = mu - beta * np.log(-np.log(0.99))
            row = got.loc[t]
            assert row["n_days"] == len(mx)
            assert row["gumbel_beta"] == pytest.approx(beta, rel=1e-6)
            assert row["gumbel_mu"] == pytest.approx(mu, rel=1e-6)
            assert row["return_level_100d"] == pytest.approx(rl, rel=1e-6)
            # the 100-day level must exceed the location parameter
            assert row["return_level_100d"] > row["gumbel_mu"]

    def test_horvitz_thompson_matches_hashlib(self, spark):
        import hashlib

        from predictor_spark.plans.catalog_r8_estimation import (
            horvitz_thompson_total)

        ev = _events()
        y = (ev.assign(p=(ev["event_type"] == "purchase").astype(int))
             .groupby("user_id")["p"].sum())
        ht = vhat = 0.0
        n_s = 0
        for uid, yi in y.items():
            pi = 0.1 if uid % 2 == 0 else 0.3
            h = int(hashlib.md5(f"ht|{uid}".encode()).hexdigest()[:7], 16)
            if (h + 0.5) / 2**28 < pi:
                n_s += 1
                ht += yi / pi
                vhat += (1 - pi) / pi**2 * yi * yi
        row = horvitz_thompson_total(spark, SF_DIR).collect()[0]
        assert row["n_sampled"] == n_s
        assert row["ht_total"] == pytest.approx(ht, abs=1e-3)
        assert row["ht_variance"] == pytest.approx(vhat, abs=1e-1)
        assert row["true_total"] == int(y.sum())
        # design-unbiasedness sanity: the estimate is within 4 sd of
        # the truth (deterministic data, so this is a fixed fact)
        assert abs(row["ht_total"] - row["true_total"]) \
            <= 4 * np.sqrt(row["ht_variance"]) + 1e-9

    def test_lincoln_petersen_matches_pandas(self, spark):
        from predictor_spark.plans.catalog_r8_estimation import (
            lincoln_petersen_users)

        ev = _events()
        c1 = set(ev.loc[ev["ts"] < pd.Timestamp("2024-01-08"), "user_id"])
        c2 = set(ev.loc[(ev["ts"] >= pd.Timestamp("2024-01-15"))
                        & (ev["ts"] < pd.Timestamp("2024-01-22")),
                        "user_id"])
        m = len(c1 & c2)
        chapman = (len(c1) + 1) * (len(c2) + 1) / (m + 1) - 1
        row = lincoln_petersen_users(spark, SF_DIR).collect()[0]
        assert row["n_capture1"] == len(c1)
        assert row["n_capture2"] == len(c2)
        assert row["n_recaptured"] == m
        assert row["chapman_estimate"] == pytest.approx(chapman, abs=1e-3)
        assert row["true_users"] == ev["user_id"].nunique()


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def pq_numpy(self):
        """Independent numpy PQ: per-subspace Lloyd's (same lowest-id
        init / rounding conventions) over the same _FIT_N lowest-md5
        fit sample, encode, ADC with 6-dp-rounded table terms — no
        Spark, no shared SQL."""
        import hashlib

        from predictor_spark.plans.catalog_r8_pq import (_FIT_N, _ITER, _K,
                                                         _M, _SUB)

        pdf = (pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
               .sort_values("vec_id").reset_index(drop=True))
        X = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf["embedding"]])
        ids = pdf["vec_id"].to_numpy()
        fit_ids = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:_FIT_N]
        fit_rows = np.array(sorted(
            np.flatnonzero(np.isin(ids, fit_ids)), key=lambda r: ids[r]))
        books, codes = [], []
        for m in range(_M):
            S = X[:, m * _SUB:(m + 1) * _SUB]
            Sf = S[fit_rows]
            C = Sf[:_K].copy()
            for _ in range(_ITER):
                d = np.round(((Sf[:, None, :] - C[None, :, :]) ** 2)
                             .sum(axis=2), 6)
                lab = d.argmin(axis=1)
                C = np.stack([
                    np.round(Sf[lab == c].mean(axis=0), 8)
                    if (lab == c).any() else C[c] for c in range(_K)])
            books.append(C)
            d = np.round(((S[:, None, :] - C[None, :, :]) ** 2)
                         .sum(axis=2), 6)
            codes.append(d.argmin(axis=1))
        return X, ids, books, np.stack(codes, axis=1)

    def test_fit_codebooks_matches_spark_form(self, spark):
        """The r15 driver-side Lloyd fit must be BIT-identical to the
        r14 Spark-expression form it replaced (same rounding, same
        fold order; the avg sum-order difference must vanish under the
        8-dp centroid rounding)."""
        import struct

        from pyspark.sql import functions as F

        from predictor_spark.operators.localrel import local_df
        from predictor_spark.operators.similarity import as_double_vec
        from predictor_spark.plans import catalog_r8_pq as pq
        from predictor_spark.plans.catalog import _t

        emb_v = (_t(spark, SF_DIR, "embeddings")
                 .select("vec_id", as_double_vec("embedding").alias("v")))
        fit_rows = pq._fit_sample(emb_v).collect()
        _M, _SUB, _K, _ITER = pq._M, pq._SUB, pq._K, pq._ITER
        init = sorted(fit_rows, key=lambda r: r["vec_id"])[:_K]
        books = [[list(r["v"])[m * _SUB:(m + 1) * _SUB] for r in init]
                 for m in range(_M)]
        ex = local_df(
            spark,
            [(r["vec_id"], m, list(r["v"])[m * _SUB:(m + 1) * _SUB])
             for r in fit_rows for m in range(_M)],
            "vec_id long, m int, sv array<double>")
        for _ in range(_ITER):
            cb = local_df(
                spark,
                [(m, c, books[m][c]) for m in range(_M) for c in range(_K)],
                "m int, c int, cv array<double>")
            rows = (pq._assign(ex, cb).groupBy("m", "code")
                    .agg(*[F.round(F.avg(F.element_at("sv", d + 1)), 8)
                           .alias(f"c{d}") for d in range(_SUB)])
                    .collect())
            new = {(r["m"], r["code"]): [r[f"c{d}"] for d in range(_SUB)]
                   for r in rows}
            books = [[new.get((m, c), books[m][c]) for c in range(_K)]
                     for m in range(_M)]
        got = pq._fit_codebooks(spark, fit_rows)
        assert all(
            struct.pack("d", x) == struct.pack("d", y)
            for mo, mn in zip(books, got) for co, cn in zip(mo, mn)
            for x, y in zip(co, cn))

    def test_pq_topk_matches_numpy_adc_rerank(self, spark, pq_numpy):
        from predictor_spark.plans.catalog_r8_pq import (_M, _SHORT, _SUB,
                                                         pq_adc_topk)

        X, ids, books, codes = pq_numpy
        got = pq_adc_topk(spark, SF_DIR).toPandas()
        for q in range(10):
            qv = X[ids == q][0]
            approx = np.zeros(len(ids))
            for m in range(_M):
                qs = qv[m * _SUB:(m + 1) * _SUB]
                table = np.round(
                    ((books[m] - qs[None, :]) ** 2).sum(axis=1), 6)
                approx += table[codes[:, m]]
            short = [i for i in np.lexsort((ids, np.round(approx, 9)))
                     if ids[i] != q][:_SHORT]
            d = ((X - qv[None, :]) ** 2).sum(axis=1)
            order = sorted(short, key=lambda i: (round(d[i], 6), ids[i]))[:5]
            g = got[got.query_id == q].sort_values("rank")
            assert list(g["neighbor_id"]) == [int(ids[i]) for i in order]
            for want_i, (_, r) in zip(order, g.iterrows()):
                assert r["approx_d2"] == pytest.approx(
                    approx[want_i], abs=2e-6)
                assert r["exact_d2"] == pytest.approx(
                    d[want_i], abs=2e-6)

    def test_pq_rerank_recall_vs_bruteforce(self, spark, pq_numpy):
        """The ADC+R arrangement must FIND neighbors: recall@5 of the
        reranked shortlist against exact L2 top-5 over the 10 queries
        (deterministic data -> a fixed fact; 0.88 at sf0.001
        with the _FIT_N-sample quantizer)."""
        from predictor_spark.plans.catalog_r8_pq import pq_adc_topk

        X, ids, _, _ = pq_numpy
        got = pq_adc_topk(spark, SF_DIR).toPandas()
        hits = total = 0
        for q in range(10):
            qv = X[ids == q][0]
            d = ((X - qv[None, :]) ** 2).sum(axis=1)
            exact = [int(ids[i]) for i in np.argsort(d, kind="stable")
                     if ids[i] != q][:5]
            pq = set(got[got.query_id == q]["neighbor_id"])
            hits += len(pq & set(exact))
            total += 5
        assert hits / total >= 0.85


class TestSequential:
    def test_sprt_matches_python_walk(self, spark):
        import math

        from predictor_spark.plans.catalog_r8_sequential import (
            _CAP, _LN_A, _LN_B, _P0, _P1, sprt_purchase_rate)

        ev = (_events().sort_values(["ts", "event_id"]).head(_CAP))
        y = (ev["event_type"] == "purchase").astype(int).to_numpy()
        l1 = math.log(_P1 / _P0)
        l0 = math.log((1 - _P1) / (1 - _P0))
        k = llr = 0.0
        decision = None
        for n in range(1, len(y) + 1):
            k += y[n - 1]
            llr = round(k * l1 + (n - k) * l0, 6)
            if llr >= _LN_A or llr <= _LN_B:
                decision = (n, int(k), llr,
                            "accept_h1" if llr >= _LN_A else "accept_h0")
                break
        assert decision is not None, "no crossing in the capped stream"
        row = sprt_purchase_rate(spark, SF_DIR).collect()[0]
        assert (row["n_at_decision"], row["successes"]) == decision[:2]
        assert row["llr"] == pytest.approx(decision[2], abs=1e-6)
        assert row["decision"] == decision[3]
        # the sequential design decided far before the cap
        assert row["n_at_decision"] < _CAP / 2

    def test_obf_looks_match_pandas(self, spark):
        from predictor_spark.plans.catalog_r8_sequential import (
            _Z_OBF, obrien_fleming_looks)

        ev = _events()
        g = (ev.assign(p=(ev["event_type"] == "purchase").astype(int),
                       e=(ev["event_type"] == "error").astype(int))
             .groupby("user_id")
             .agg(first=("ts", "min"), p=("p", "sum"), e=("e", "sum")))
        g["y"] = (g["p"] > g["e"]).astype(int)
        g["arm"] = g.index % 2
        got = (obrien_fleming_looks(spark, SF_DIR).toPandas()
               .set_index("look"))
        assert list(got.index) == [1, 2, 3, 4, 5]
        for look in range(1, 6):
            cutoff = pd.Timestamp("2024-01-01") + pd.Timedelta(
                days=6 * look)
            sub = g[g["first"].dt.normalize() < cutoff]
            n0, n1 = (sub.arm == 0).sum(), (sub.arm == 1).sum()
            y0 = sub.loc[sub.arm == 0, "y"].sum()
            y1 = sub.loc[sub.arm == 1, "y"].sum()
            pbar = (y0 + y1) / (n0 + n1)
            z = (y1 / n1 - y0 / n0) / np.sqrt(
                pbar * (1 - pbar) * (1 / n0 + 1 / n1))
            row = got.loc[look]
            assert row["n_users"] == n0 + n1
            assert row["z_stat"] == pytest.approx(z, abs=1e-5)
            assert row["obf_boundary"] == pytest.approx(
                _Z_OBF * np.sqrt(5 / look), abs=1e-6)
            assert bool(row["crossed"]) == bool(
                abs(z) >= _Z_OBF * np.sqrt(5 / look))
        # OBF boundaries shrink monotonically toward the final look
        b = got["obf_boundary"].to_numpy()
        assert (np.diff(b) < 0).all()


class TestSeqPred:
    def test_markov_accuracy_matches_pandas(self, spark):
        from predictor_spark.plans.catalog_r8_seqpred import (
            markov_next_event_accuracy)

        ev = (_events().sort_values(["ts", "event_id"])
              .assign(period=lambda d: (d["ts"]
                                        >= pd.Timestamp("2024-01-16"))
                      .astype(int)))
        pairs = []
        for (_, _), grp in ev.groupby(["user_id", "period"]):
            et = grp["event_type"].tolist()
            pairs += [(grp["period"].iloc[0], a, b)
                      for a, b in zip(et, et[1:])]
        pp = pd.DataFrame(pairs, columns=["period", "src", "dst"])
        train, test = pp[pp.period == 0], pp[pp.period == 1]
        model = {}
        for src, grp in train.groupby("src"):
            c = grp.groupby("dst").size().reset_index(name="n")
            c = c.sort_values(["n", "dst"], ascending=[False, True])
            model[src] = c["dst"].iloc[0]
        mc = train.groupby("dst").size().reset_index(name="n")
        mc = mc.sort_values(["n", "dst"], ascending=[False, True])
        majority = mc["dst"].iloc[0]
        scored = test[test["src"].isin(model)]
        acc_m = (scored["src"].map(model) == scored["dst"]).mean()
        acc_b = (scored["dst"] == majority).mean()

        row = markov_next_event_accuracy(spark, SF_DIR).collect()[0]
        assert row["n_train_transitions"] == len(train)
        assert row["n_test_transitions"] == len(scored)
        assert row["markov_accuracy"] == pytest.approx(acc_m, abs=2e-6)
        assert row["baseline_accuracy"] == pytest.approx(acc_b, abs=2e-6)
        # the Markov model must not lose to its own majority baseline
        # by more than noise on this data (fixed fact, slack pinned)
        assert row["markov_accuracy"] >= row["baseline_accuracy"] - 0.02


def _sessions_pandas():
    """Independent 30-min-gap sessionization: (start_ms, dur_ms)."""
    ev = _events().sort_values(["user_id", "ts", "event_id"])
    # explicit ms unit: a bare astype(int64) yields the column's native
    # resolution (us in pandas 2), silently off by 1000
    ev["ms"] = ev["ts"].astype("datetime64[ms]").astype("int64")
    out = []
    for _, grp in ev.groupby("user_id"):
        start = prev = None
        for m in grp["ms"]:
            if prev is None or m - prev > 1_800_000:
                if start is not None:
                    out.append((start, prev - start))
                start = m
            prev = m
        out.append((start, prev - start))
    return out, int(ev["ms"].max() - ev["ms"].min())


class TestOpsResearch:
    def test_newsvendor_is_exact_order_statistic(self, spark):
        from predictor_spark.plans.catalog_r9_opsresearch import (
            newsvendor_order_quantile)

        li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        part = pd.read_parquet(f"{SF_DIR}/part.parquet")
        df = li.merge(part, left_on="l_partkey", right_on="p_partkey")
        df["day"] = df["l_shipdate"].dt.normalize()
        got = (newsvendor_order_quantile(spark, SF_DIR).toPandas()
               .set_index("brand"))
        for brand, grp in df.groupby("p_brand"):
            dq = (grp.groupby("day")["l_quantity"].sum()
                  .sort_values().to_numpy())
            n = len(dq)
            idx = (8 * n + 9) // 10  # ceil(0.8 n), pure integers
            row = got.loc[brand]
            assert row["n_days"] == n
            assert row["order_up_to"] == int(dq[idx - 1])
            # the chosen level covers >= 80% of observed days
            assert (dq <= row["order_up_to"]).mean() >= 0.8

    def test_erlang_b_matches_recursion(self, spark):
        from predictor_spark.plans.catalog_r9_opsresearch import (
            erlang_b_blocking)

        sessions, span = _sessions_pandas()
        a = sum(d for _, d in sessions) / span
        b = 1.0
        for j in range(1, 9):
            b = a * b / (j + a * b)
        row = erlang_b_blocking(spark, SF_DIR).collect()[0]
        assert row["n_sessions"] == len(sessions)
        assert row["offered_load"] == pytest.approx(a, abs=1e-6)
        assert row["blocking_prob"] == pytest.approx(b, abs=1e-6)
        assert 0.0 <= row["blocking_prob"] < 1.0

    def test_kingman_matches_moment_formula(self, spark):
        import math

        from predictor_spark.plans.catalog_r9_opsresearch import (
            kingman_wait_estimate)

        sessions, span = _sessions_pandas()
        starts = sorted(s for s, _ in sessions)
        gaps = np.diff(np.array(starts, dtype=np.int64))
        durs = np.array([d for _, d in sessions], dtype=np.float64)
        ca2 = gaps.var() / gaps.mean() ** 2
        cs2 = durs.var() / durs.mean() ** 2
        a = durs.sum() / span
        m = math.ceil(1.25 * a)
        rho = a / m
        wq = rho / (1 - rho) * ((ca2 + cs2) / 2) * (durs.mean() / 60000)
        row = kingman_wait_estimate(spark, SF_DIR).collect()[0]
        assert row["n_sessions"] == len(sessions)
        assert row["ca_squared"] == pytest.approx(ca2, rel=1e-4)
        assert row["cs_squared"] == pytest.approx(cs2, rel=1e-4)
        assert row["m_servers"] == m
        assert row["utilization"] == pytest.approx(rho, abs=1e-6)
        assert row["kingman_wq_min"] == pytest.approx(wq, rel=1e-4)
        assert 0 < row["utilization"] < 1  # the derived m keeps it so

