"""Round-13 second-batch operators: Durbin-Watson, Ljung-Box, runs
test, Jarque-Bera, Chatterjee's xi — each pinned to an independent
brute-force replay (numpy / pure Python) of the published formulas,
plus shape/edge goldens."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


def _daily(spark, rows):
    """rows: list[(date_str, value)] -> a raw 'event' frame whose
    per-day sums are exactly the given values (one row per day)."""
    return spark.createDataFrame(
        [(d, float(v)) for d, v in rows], "d string, value double"
    ).select(F.to_timestamp("d").alias("ts"), "value")


class TestDurbinWatson:
    def test_matches_numpy_brute_force(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import durbin_watson

        rng = np.random.RandomState(7)
        vals = np.round(rng.uniform(10, 500, 40), 2)
        days = [
            (f"2024-03-{d+1:02d}" if d < 31 else f"2024-04-{d-30:02d}", v)
            for d, v in enumerate(vals)
        ]
        got = durbin_watson(_daily(spark, days), "ts", "value").collect()[0]

        # brute force: OLS on index, micro-quantized residual sums
        n = len(vals)
        i = np.arange(1, n + 1, dtype=float)
        st, stt = i.sum(), (i * i).sum()
        sv, stv = vals.sum(), (i * vals).sum()
        slope = (n * stv - st * sv) / (n * stt - st * st)
        a = (sv - slope * st) / n
        e = vals - a - slope * i
        em = np.round(e * 1e6)
        dw = np.sum(np.diff(em) ** 2) / np.sum(em**2)
        assert got["n_days"] == n
        assert got["dw_stat"] == pytest.approx(dw, abs=2e-6)
        assert got["slope"] == pytest.approx(slope, abs=2e-6)

    def test_alternating_series_dw_near_4(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import durbin_watson

        days = [
            (f"2024-03-{d+1:02d}", 100.0 if d % 2 == 0 else 200.0)
            for d in range(20)
        ]
        got = durbin_watson(_daily(spark, days), "ts", "value").collect()[0]
        assert got["dw_stat"] > 3.5  # perfect alternation -> DW ~ 4

    def test_short_series_null(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import durbin_watson

        got = durbin_watson(
            _daily(spark, [("2024-03-01", 10.0), ("2024-03-02", 20.0)]),
            "ts",
            "value",
        ).collect()[0]
        assert got["dw_stat"] is None


class TestLjungBox:
    def test_matches_numpy_brute_force(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import ljung_box

        rng = np.random.RandomState(11)
        vals = np.round(rng.uniform(50, 150, 36), 2)
        days = [
            (f"2024-0{1 + d // 28}-{d % 28 + 1:02d}", v)
            for d, v in enumerate(vals)
        ]
        h = 5
        got = ljung_box(_daily(spark, days), "ts", "value", h).collect()[0]

        n = len(vals)
        m = vals.mean()
        den = np.sum((vals - m) ** 2)
        q = 0.0
        for k in range(1, h + 1):
            rk = np.sum((vals[:-k] - m) * (vals[k:] - m)) / den
            q += rk * rk / (n - k)
        q *= n * (n + 2)
        assert got["n_days"] == n
        assert got["df"] == h
        assert got["q_stat"] == pytest.approx(q, abs=1e-4)

    def test_strong_ar1_large_q(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import ljung_box

        # trending ramp: heavy autocorrelation at all lags
        days = [(f"2024-03-{d+1:02d}", 100.0 + 10 * d) for d in range(28)]
        got = ljung_box(_daily(spark, days), "ts", "value", 3).collect()[0]
        assert got["q_stat"] > 30.0

    def test_series_shorter_than_lags_null(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import ljung_box

        days = [(f"2024-03-{d+1:02d}", float(d)) for d in range(4)]
        got = ljung_box(_daily(spark, days), "ts", "value", 7).collect()[0]
        assert got["q_stat"] is None


class TestRunsTest:
    def test_textbook_sequence(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import runs_test

        # mean of [12,13,...,21] = 16.5; sequence sides:
        # 12 18 13 19 14 20 15 21 16 17 -> B A B A B A B A B A
        # runs = 10 (perfect alternation)
        vals = [12, 18, 13, 19, 14, 20, 15, 21, 16, 17]
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
        )
        got = runs_test(df, "v", ["i"]).collect()[0]
        n1 = sum(1 for v in vals if v > 16.5)
        n2 = len(vals) - n1
        assert (got["n_above"], got["n_below"]) == (n1, n2)
        assert got["runs"] == 10
        two = 2.0 * n1 * n2
        n = float(len(vals))
        mu = 1.0 + two / n
        var = two * (two - n) / (n * n * (n - 1.0))
        z = (10 - mu) / math.sqrt(var)
        assert got["z"] == pytest.approx(z, abs=1e-6)
        # perfect alternation is significantly non-random
        assert got["p_value"] < 0.05

    def test_clumped_sequence_low_runs(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import runs_test

        vals = [1.0] * 10 + [100.0] * 10
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "i long, v double"
        )
        got = runs_test(df, "v", ["i"]).collect()[0]
        assert got["runs"] == 2
        assert got["z"] < -3
        assert got["p_value"] < 0.001

    def test_one_sided_sample_null_z(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import runs_test

        df = spark.createDataFrame(
            [(i, 5.0) for i in range(6)], "i long, v double"
        )
        got = runs_test(df, "v", ["i"]).collect()[0]
        assert got["z"] is None and got["p_value"] is None


class TestJarqueBera:
    def test_matches_numpy_brute_force(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import jarque_bera

        rng = np.random.RandomState(3)
        vals = np.round(rng.exponential(100, 500), 2)
        df = spark.createDataFrame(
            [(float(v),) for v in vals], "v double"
        )
        got = jarque_bera(df, "v").collect()[0]

        c = np.round(vals * 100)  # exact cents, the engine's domain
        n = len(c)
        m = c.mean()
        m2 = np.mean((c - m) ** 2)
        skew = np.mean((c - m) ** 3) / m2**1.5
        kurt = np.mean((c - m) ** 4) / m2**2 - 3.0
        jb = n * (skew**2 / 6 + kurt**2 / 24)
        assert got["n"] == n
        assert got["skewness"] == pytest.approx(skew, abs=1e-5)
        assert got["kurtosis_excess"] == pytest.approx(kurt, abs=1e-5)
        assert got["jb_stat"] == pytest.approx(jb, rel=1e-6)
        assert got["p_value"] == pytest.approx(
            math.exp(-min(jb, 128.0) / 2), abs=1e-6
        )

    def test_symmetric_flat_sample_small_jb(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import jarque_bera

        # symmetric two-point mass: skew 0, kurtosis -2, JB = n/6
        df = spark.createDataFrame(
            [(1.0,), (3.0,)] * 30, "v double"
        )
        got = jarque_bera(df, "v").collect()[0]
        assert got["skewness"] == 0.0
        assert got["kurtosis_excess"] == -2.0
        assert got["jb_stat"] == pytest.approx(60 * 4 / 24, abs=1e-6)

    def test_constant_null(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import jarque_bera

        df = spark.createDataFrame([(7.0,)] * 10, "v double")
        got = jarque_bera(df, "v").collect()[0]
        assert got["jb_stat"] is None and got["p_value"] is None


class TestChatterjeeXi:
    @staticmethod
    def _brute(xs, ys):
        """Tie-robust xi per Chatterjee 2021 eq. (1.1), x-ties broken
        by input order (the engine's id tiebreak)."""
        n = len(xs)
        order = sorted(range(n), key=lambda i: (xs[i], i))
        r = [sum(1 for j in range(n) if ys[j] <= ys[i]) for i in order]
        l = [sum(1 for j in range(n) if ys[j] >= ys[i]) for i in order]
        num = sum(abs(r[i + 1] - r[i]) for i in range(n - 1))
        den = 2.0 * sum(li * (n - li) for li in l)
        return 1.0 - n * num / den

    def test_matches_brute_force_with_ties(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import chatterjee_xi

        rng = np.random.RandomState(5)
        xs = rng.randint(0, 20, 60).tolist()  # heavy x-ties
        ys = np.round(
            np.sin(np.array(xs, dtype=float)) * 50
            + rng.uniform(-5, 5, 60),
            2,
        ).tolist()
        df = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
            "id long, x double, y double",
        )
        got = chatterjee_xi(df, "x", "y", "id").collect()[0]
        assert got["n"] == 60
        assert got["xi"] == pytest.approx(self._brute(xs, ys), abs=1e-6)

    def test_functional_dependence_high_xi(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import chatterjee_xi

        # y = (x - 50)^2: non-monotone function, Pearson ~ 0, xi high
        rows = [(i, float(i), float((i - 50) ** 2)) for i in range(100)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = chatterjee_xi(df, "x", "y", "id").collect()[0]
        assert got["xi"] > 0.8

    def test_constant_y_null(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import chatterjee_xi

        rows = [(i, float(i), 3.0) for i in range(10)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = chatterjee_xi(df, "x", "y", "id").collect()[0]
        assert got["xi"] is None


class TestRosnerEsd:
    def test_matches_iterative_numpy_replay(self, spark):
        from etl_orders_to_bq_spark.operators.quality import rosner_esd

        rng = np.random.RandomState(9)
        vals = np.round(rng.normal(100, 10, 50), 2).tolist()
        vals += [220.5, 230.25, 15.75]  # three planted outliers
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = rosner_esd(df, "v", k=3).collect()

        work = sorted(vals)
        for it in range(3):
            arr = np.array(work)
            n, m, s = len(arr), arr.mean(), arr.std(ddof=1)
            dev = np.abs(arr - m)
            # argmax with value tie-break toward the LARGER value
            best = max(range(n), key=lambda i: (dev[i], arr[i]))
            r = got[it]
            assert r["iteration"] == it + 1
            assert r["n_used"] == n
            assert r["suspect_value"] == pytest.approx(arr[best])
            assert r["r_stat"] == pytest.approx(dev[best] / s, abs=1e-6)
            assert r["mean"] == pytest.approx(m, abs=1e-6)
            work.remove(arr[best])

    def test_duplicate_extreme_removed_one_copy_per_round(self, spark):
        from etl_orders_to_bq_spark.operators.quality import rosner_esd

        vals = [10.0] * 20 + [99.0, 99.0]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = rosner_esd(df, "v", k=2).collect()
        assert got[0]["suspect_value"] == 99.0
        assert got[1]["suspect_value"] == 99.0
        assert got[0]["n_used"] == 22 and got[1]["n_used"] == 21

    def test_degenerate_round_nulls(self, spark):
        from etl_orders_to_bq_spark.operators.quality import rosner_esd

        df = spark.createDataFrame([(5.0,)] * 4, "v double")
        got = rosner_esd(df, "v", k=2).collect()
        assert all(r["r_stat"] is None for r in got)
        assert [r["n_used"] for r in got] == [4, 3]


class TestCramerVonMises:
    @staticmethod
    def _brute(a, b):
        """scipy.stats.cramervonmises_2samp semantics: combined
        midranks, per-sample own ranks 1..n on the sorted sample."""
        import itertools

        n, m = len(a), len(b)
        comb = sorted(a + b)

        def midrank(v):
            lo = sum(1 for c in comb if c < v)
            eq = sum(1 for c in comb if c == v)
            return lo + (eq + 1) / 2.0

        ra = [midrank(v) for v in sorted(a)]
        rb = [midrank(v) for v in sorted(b)]
        u = n * sum((r - (i + 1)) ** 2 for i, r in enumerate(ra)) + m * sum(
            (s - (j + 1)) ** 2 for j, s in enumerate(rb)
        )
        t = u / (n * m * (n + m)) - (4.0 * n * m - 1) / (6.0 * (n + m))
        return u, t

    def test_matches_brute_force_with_ties(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            cramer_von_mises,
        )

        rng = np.random.RandomState(13)
        a = np.round(rng.uniform(0, 30, 40), 0).tolist()  # heavy ties
        b = np.round(rng.uniform(5, 35, 35), 0).tolist()
        rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
        df = spark.createDataFrame(rows, "g string, v double")
        got = cramer_von_mises(df, "g", "v", "a", "b").collect()[0]
        u, t = self._brute(a, b)
        assert (got["n_a"], got["n_b"]) == (40, 35)
        assert float(got["u_stat"]) == pytest.approx(u, abs=1e-4)
        assert got["t_stat"] == pytest.approx(t, abs=1e-6)

    def test_identical_samples_small_t(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            cramer_von_mises,
        )

        rows = [("a", float(v)) for v in range(20)] + [
            ("b", float(v)) for v in range(20)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = cramer_von_mises(df, "g", "v", "a", "b").collect()[0]
        u, t = self._brute(
            [float(v) for v in range(20)], [float(v) for v in range(20)]
        )
        assert got["t_stat"] == pytest.approx(t, abs=1e-6)
        assert got["t_stat"] < 0.05


class TestKuiper:
    def test_matches_brute_force(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            kuiper_two_sample,
        )

        rng = np.random.RandomState(17)
        a = np.round(rng.normal(50, 10, 60), 1).tolist()
        b = np.round(rng.normal(55, 12, 45), 1).tolist()
        rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
        df = spark.createDataFrame(rows, "g string, v double")
        got = kuiper_two_sample(df, "g", "v", "a", "b").collect()[0]

        vals = sorted(set(a + b))
        dplus = max(
            round(
                sum(1 for x in a if x <= v) / len(a)
                - sum(1 for x in b if x <= v) / len(b),
                6,
            )
            for v in vals
        )
        dminus = max(
            round(
                sum(1 for x in b if x <= v) / len(b)
                - sum(1 for x in a if x <= v) / len(a),
                6,
            )
            for v in vals
        )
        assert got["d_plus"] == pytest.approx(max(dplus, 0.0), abs=1e-9)
        assert got["d_minus"] == pytest.approx(max(dminus, 0.0), abs=1e-9)
        assert got["v_stat"] == pytest.approx(
            round(max(dplus, 0) + max(dminus, 0), 6), abs=1e-9
        )

    def test_shifted_sample_v_exceeds_ks_d(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            ks_two_sample,
            kuiper_two_sample,
        )

        rows = [("a", float(v)) for v in range(40)] + [
            ("b", float(v) + 5.5) for v in range(40)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        v = kuiper_two_sample(df, "g", "v", "a", "b").collect()[0]
        d = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
        assert v["v_stat"] >= d["d_stat"]


class TestHbos:
    def test_matches_numpy_replay(self, spark):
        from etl_orders_to_bq_spark.operators.quality import hbos_outliers

        rng = np.random.RandomState(21)
        xs = np.round(rng.normal(100, 15, 200), 2)
        ys = np.round(rng.exponential(50, 200), 2)
        xs[7], ys[7] = 400.0, 900.0  # planted outlier
        rows = [
            (i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))
        ]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = hbos_outliers(df, "id", ["x", "y"], n_bins=10, top_n=5)
        got = got.collect()

        k = 10
        scores = np.zeros(len(rows))
        for col in (xs, ys):
            c = np.round(col * 100).astype(np.int64)
            lo, hi = c.min(), c.max()
            bins = ((c - lo) * k) // (hi - lo + 1)
            cnt = {b: int((bins == b).sum()) for b in set(bins.tolist())}
            mx = max(cnt.values())
            for i, b in enumerate(bins.tolist()):
                t = np.floor(abs(np.log(mx / cnt[b])) * 1e6 + 0.5) / 1e6
                scores[i] += t
        order = sorted(
            range(len(rows)), key=lambda i: (-scores[i], i)
        )[:5]
        assert [r["id"] for r in got] == order
        assert got[0]["id"] == 7
        for r, i in zip(got, order):
            assert r["score"] == pytest.approx(scores[i], abs=2e-6)

    def test_constant_feature_contributes_zero(self, spark):
        from etl_orders_to_bq_spark.operators.quality import hbos_outliers

        rows = [(i, float(i % 3), 5.0) for i in range(30)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = hbos_outliers(df, "id", ["x", "y"], n_bins=5, top_n=3)
        rows_out = got.collect()
        # x is uniform over 3 values (max/cnt = 1 -> log 0); y constant
        assert all(r["score"] == 0.0 for r in rows_out)


class TestEcod:
    def test_matches_numpy_replay(self, spark):
        from etl_orders_to_bq_spark.operators.quality import ecod_outliers

        rng = np.random.RandomState(23)
        xs = np.round(rng.normal(100, 15, 150), 2)
        ys = np.round(rng.normal(40, 5, 150), 2)
        xs[3] = 350.0  # right-tail outlier in x
        ys[11] = 2.0  # left-tail outlier in y
        rows = [
            (i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))
        ]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = ecod_outliers(df, "id", ["x", "y"], top_n=5).collect()

        n = len(rows)
        ol = np.zeros(n)
        orr = np.zeros(n)
        for col in (xs, ys):
            c = np.round(col * 100).astype(np.int64)
            for i in range(n):
                le = int((c <= c[i]).sum())
                ge = int((c >= c[i]).sum())
                tl = np.floor(abs(-np.log(le / n)) * 1e6 + 0.5)
                tr = np.floor(abs(-np.log(ge / n)) * 1e6 + 0.5)
                ol[i] += tl
                orr[i] += tr
        sc = np.maximum(ol, orr)
        order = sorted(range(n), key=lambda i: (-sc[i], i))[:5]
        assert [r["id"] for r in got] == order
        assert {3, 11} <= set(r["id"] for r in got)
        for r, i in zip(got, order):
            assert r["score"] == pytest.approx(sc[i] / 1e6, abs=2e-6)


class TestThetaForecast:
    def test_matches_integer_fold_replay(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            theta_forecast,
        )

        rng = np.random.RandomState(29)
        vals = np.round(rng.uniform(100, 300, 30) + np.arange(30) * 5, 2)
        days = [(f"2024-03-{d+1:02d}", v) for d, v in enumerate(vals)]
        got = theta_forecast(
            _daily(spark, days), "ts", "value", alpha=0.5, horizon=7
        ).collect()[0]

        n = len(vals)
        i = np.arange(1, n + 1, dtype=float)
        st, stt = i.sum(), (i * i).sum()
        sv, stv = vals.sum(), (i * vals).sum()
        b = (n * stv - st * sv) / (n * stt - st * st)
        a = (sv - b * st) / n
        theta2 = 2 * vals - (a + b * i)
        ym = [
            int(np.floor(abs(v) * 1e6 + 0.5) * np.sign(v))
            if v >= 0
            else -int(np.floor(abs(v) * 1e6 + 0.5))
            for v in theta2
        ]
        l = ym[0]
        for y in ym[1:]:
            l = int(np.floor((y + l) / 2.0))
        fc1 = 0.5 * (l / 1e6 + (a + b * (n + 1)))
        fc7 = 0.5 * (l / 1e6 + (a + b * (n + 7)))
        assert got["n_days"] == n
        assert got["slope"] == pytest.approx(b, abs=1e-6)
        assert got["ses_level"] == pytest.approx(l / 1e6, abs=1e-6)
        assert got["forecast_1"] == pytest.approx(fc1, abs=2e-6)
        assert got["forecast_h"] == pytest.approx(fc7, abs=2e-6)

    def test_linear_series_forecast_extends_line(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            theta_forecast,
        )

        days = [(f"2024-03-{d+1:02d}", 100.0 + 10 * d) for d in range(20)]
        got = theta_forecast(_daily(spark, days), "ts", "value").collect()[0]
        # exact line: theta2 == line, SES trails but forecast stays close
        assert got["forecast_1"] == pytest.approx(300.0, abs=12.0)

    def test_short_series_nulls(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            theta_forecast,
        )

        got = theta_forecast(
            _daily(spark, [("2024-03-01", 5.0), ("2024-03-02", 6.0)]),
            "ts",
            "value",
        ).collect()[0]
        assert got["forecast_1"] is None


class TestCroston:
    def test_hand_sequence(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            croston_forecast,
        )

        # demand on days 1, 4, 6 (offsets), sizes 10, 20, 30
        days = [
            ("2024-03-01", 10.0),
            ("2024-03-02", 0.0),
            ("2024-03-03", 0.0),
            ("2024-03-04", 20.0),
            ("2024-03-05", 0.0),
            ("2024-03-06", 30.0),
        ]
        got = croston_forecast(
            _daily(spark, days), "ts", "value", demand_threshold=0.0
        ).collect()[0]
        # fold: z0=10e6, p0=1e6 (first demand at offset 1)
        # day4: gap=3: z=floor((20e6+10e6)/2)=15e6, p=floor((3e6+1e6)/2)=2e6
        # day6: gap=2: z=floor((30e6+15e6)/2)=22.5e6, p=floor((2e6+2e6)/2)=2e6
        assert got["n_demand_days"] == 3
        assert got["level_size"] == pytest.approx(22.5)
        assert got["level_interval_days"] == pytest.approx(2.0)
        assert got["forecast_per_day"] == pytest.approx(11.25)

    def test_single_demand_day_nulls(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            croston_forecast,
        )

        days = [("2024-03-01", 0.0), ("2024-03-02", 7.0)]
        got = croston_forecast(
            _daily(spark, days), "ts", "value", demand_threshold=0.0
        ).collect()[0]
        assert got["forecast_per_day"] is None


class TestHurst:
    def test_matches_numpy_replay(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            hurst_exponent,
        )

        rng = np.random.RandomState(31)
        vals = np.round(np.cumsum(rng.normal(0, 10, 64)) + 500, 2)
        days = []
        for d in range(64):
            m, dd = divmod(d, 28)
            days.append((f"2024-{3+m:02d}-{dd+1:02d}", float(vals[d])))
        got = hurst_exponent(
            _daily(spark, days), "ts", "value", block_sizes=(8, 16, 32)
        ).collect()[0]

        pts = []
        for s in (8, 16, 32):
            nb = 64 // s
            terms = []
            for b in range(nb):
                c = np.round(vals[b * s : (b + 1) * s] * 100).astype(
                    np.int64
                )
                sc = c.sum()
                cum = np.cumsum(s * c - sc)
                rng_u = max(cum.max(), 0) - min(cum.min(), 0)
                var = (
                    float((c.astype(object) ** 2).sum())
                    - float(sc) ** 2 / s
                ) / s
                rs = (rng_u / s) / np.sqrt(var)
                terms.append(np.floor(rs * 1e6 + 0.5))
            pts.append((np.log(s), np.log(sum(terms) / nb / 1e6)))
        k = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxx = sum(p[0] ** 2 for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        h = (k * sxy - sx * sy) / (k * sxx - sx * sx)
        assert got["n_sizes"] == 3
        assert got["h_exponent"] == pytest.approx(h, abs=1e-6)
        # a random walk's H should be meaningfully above 0.5 noise floor
        assert 0.3 < got["h_exponent"] < 1.2

    def test_too_short_null(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            hurst_exponent,
        )

        days = [(f"2024-03-{d+1:02d}", float(d)) for d in range(6)]
        got = hurst_exponent(_daily(spark, days), "ts", "value").collect()[
            0
        ]
        assert got["h_exponent"] is None


class TestNelsonAalen:
    def test_hand_example_with_censoring(self, spark):
        from etl_orders_to_bq_spark.operators.survival import nelson_aalen

        durs = [(5, 1), (5, 1), (8, 0), (12, 1), (15, 0), (20, 1)]
        df = spark.createDataFrame(durs, "dur long, ev int")
        got = nelson_aalen(df, "dur", "ev").collect()
        # t=5: d=2 n=6 -> 1/3; t=12: d=1 n=3 -> +1/3; t=20: d=1 n=1 -> +1
        assert [r["t"] for r in got] == [5.0, 12.0, 20.0]
        assert [r["n_risk"] for r in got] == [6, 3, 1]
        assert got[0]["cum_hazard"] == pytest.approx(1 / 3, abs=1e-5)
        assert got[1]["cum_hazard"] == pytest.approx(2 / 3, abs=1e-5)
        assert got[2]["cum_hazard"] == pytest.approx(5 / 3, abs=1e-5)
        assert got[0]["hazard_se"] == pytest.approx(
            math.sqrt(2 / 36), abs=1e-5
        )

    def test_monotone_nondecreasing(self, spark):
        from etl_orders_to_bq_spark.operators.survival import nelson_aalen

        rng = np.random.RandomState(37)
        rows = [
            (int(d), int(e))
            for d, e in zip(
                rng.randint(1, 50, 80), rng.randint(0, 2, 80)
            )
        ]
        df = spark.createDataFrame(rows, "dur long, ev int")
        got = nelson_aalen(df, "dur", "ev").collect()
        hz = [r["cum_hazard"] for r in got]
        assert hz == sorted(hz)


class TestRddEstimate:
    def test_recovers_planted_jump(self, spark):
        from etl_orders_to_bq_spark.operators.experiment import rdd_estimate

        rows = []
        for x in range(300, 701):
            y = 50.0 + 0.1 * (x - 500)  # common slope
            if x >= 500:
                y += 25.0  # planted discontinuity
            rows.append((float(x), round(y, 2)))
        df = spark.createDataFrame(rows, "x double, y double")
        got = rdd_estimate(df, "x", "y", 500.0, 200.0).collect()[0]
        assert got["n_left"] == 200 and got["n_right"] == 201
        assert got["slope_left"] == pytest.approx(0.1, abs=1e-6)
        assert got["slope_right"] == pytest.approx(0.1, abs=1e-6)
        assert got["effect"] == pytest.approx(25.0, abs=1e-6)

    def test_no_jump_zero_effect(self, spark):
        from etl_orders_to_bq_spark.operators.experiment import rdd_estimate

        rows = [
            (float(x), round(10.0 + 0.5 * x, 2)) for x in range(0, 200)
        ]
        df = spark.createDataFrame(rows, "x double, y double")
        got = rdd_estimate(df, "x", "y", 100.0, 80.0).collect()[0]
        assert got["effect"] == pytest.approx(0.0, abs=1e-6)

    def test_empty_side_nulls(self, spark):
        from etl_orders_to_bq_spark.operators.experiment import rdd_estimate

        rows = [(float(x), 5.0) for x in range(0, 50)]
        df = spark.createDataFrame(rows, "x double, y double")
        got = rdd_estimate(df, "x", "y", 100.0, 30.0).collect()[0]
        assert got["effect"] is None


class TestPersonalizedPagerank:
    @staticmethod
    def _brute(pairs, seeds, iters=10, d=0.85):
        nodes = sorted({x for p in pairs for x in p})
        out = {v: [b for a, b in pairs if a == v] for v in nodes}
        m = len([v for v in nodes if v in seeds])
        reset = {v: (1.0 / m if v in seeds else 0.0) for v in nodes}
        rank = dict(reset)
        for _ in range(iters):
            acc = {v: 0.0 for v in nodes}
            for u in nodes:
                if out[u]:
                    c = rank[u] / len(out[u])
                    for v in out[u]:
                        acc[v] += c
            rank = {v: (1 - d) * reset[v] + d * acc[v] for v in nodes}
        return rank

    def test_matches_brute_force(self, spark):
        from etl_orders_to_bq_spark.operators.graph import (
            personalized_pagerank,
        )

        pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (4, 5), (5, 3)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        seeds = spark.createDataFrame([(1,), (5,)], "id long")
        got = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(edges, seeds).collect()
        }
        want = self._brute(pairs, {1, 5})
        for v, w in want.items():
            assert got[v] == pytest.approx(w, abs=1e-9)
        # teleport mass concentrates near the seeds
        assert got[1] > got[2]

    def test_local_matches_distributed(self, spark):
        from etl_orders_to_bq_spark.operators.graph import (
            personalized_pagerank,
        )
        from etl_orders_to_bq_spark.operators.staging import (
            local_fold_max_rows,
        )

        pairs = [(i, (i * 3 + 1) % 11) for i in range(11)] + [
            (i, (i + 5) % 11) for i in range(11)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        seeds = spark.createDataFrame([(0,), (7,)], "id long")
        loc = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(edges, seeds).collect()
        }
        with local_fold_max_rows(spark, 0):
            dist = {
                r["id"]: r["rank"]
                for r in personalized_pagerank(edges, seeds).collect()
            }
        assert set(loc) == set(dist)
        for v in loc:
            assert round(loc[v], 6) == round(dist[v], 6)

    def test_seed_outside_graph_ignored(self, spark):
        from etl_orders_to_bq_spark.operators.graph import (
            personalized_pagerank,
        )

        edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        seeds = spark.createDataFrame([(1,), (99,)], "id long")
        got = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(edges, seeds).collect()
        }
        # 99 not a node: teleport mass all on node 1
        want = self._brute([(1, 2), (2, 1)], {1})
        assert got[1] == pytest.approx(want[1], abs=1e-9)


class TestSlopeOne:
    def test_hand_example(self, spark):
        from etl_orders_to_bq_spark.operators.recs import slope_one

        # Lemire's classic shape: users A,B rate both; C lacks target
        rows = [
            ("A", "t", 1.0), ("A", "j", 1.5),
            ("B", "t", 2.0), ("B", "j", 4.0),
            ("C", "j", 3.0),
        ]
        df = spark.createDataFrame(rows, "u string, i string, r double")
        got = slope_one(df, "u", "i", "r", "t").collect()
        # dev(t, j): ((1-1.5)+(2-4))/2 = -1.25; pred(C) = 3 - 1.25
        assert len(got) == 1
        assert got[0]["user"] == "C"
        assert got[0]["prediction"] == pytest.approx(1.75)

    def test_weighted_multi_item(self, spark):
        from etl_orders_to_bq_spark.operators.recs import slope_one

        rows = [
            ("A", "t", 5.0), ("A", "j", 3.0), ("A", "k", 4.0),
            ("B", "t", 3.0), ("B", "j", 4.0),
            ("C", "j", 2.0), ("C", "k", 5.0),
        ]
        df = spark.createDataFrame(rows, "u string, i string, r double")
        got = slope_one(df, "u", "i", "r", "t").collect()
        # dev sums in cents: j: (500-300)+(300-400)=100, c=2
        #                    k: (500-400)=100, c=1
        # pred(C) = (100 + 2*200 + 100 + 1*500) / 3 = 1100/3 cents
        assert got[0]["user"] == "C"
        assert got[0]["n_items_used"] == 2
        assert got[0]["prediction"] == pytest.approx(1100 / 3 / 100, abs=1e-6)

    def test_no_cold_users_empty(self, spark):
        from etl_orders_to_bq_spark.operators.recs import slope_one

        rows = [("A", "t", 1.0), ("A", "j", 2.0)]
        df = spark.createDataFrame(rows, "u string, i string, r double")
        assert slope_one(df, "u", "i", "r", "t").count() == 0


class TestLbKeogh:
    def test_matches_numpy_replay(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            lb_keogh_pairs,
        )

        rng = np.random.RandomState(41)
        days = []
        series = {}
        for k in ("a", "b"):
            vals = np.round(rng.uniform(50, 150, 20), 2)
            series[k] = np.round(vals * 100).astype(np.int64)
            for d, v in enumerate(vals):
                days.append((k, f"2024-03-{d+1:02d}", float(v)))
        df = spark.createDataFrame(days, "k string, d string, value double")
        df = df.select(
            "k", F.to_timestamp("d").alias("ts"), "value"
        )
        got = {
            (r["key_a"], r["key_b"]): r["lb_dist"]
            for r in lb_keogh_pairs(df, "k", "ts", "value", radius=2).collect()
        }

        def lb(a, b, r=2):
            s = 0
            for t in range(len(a)):
                lo, hi = max(0, t - r), min(len(b), t + r + 1)
                u, l = b[lo:hi].max(), b[lo:hi].min()
                if a[t] > u:
                    s += int(a[t] - u) ** 2
                elif a[t] < l:
                    s += int(l - a[t]) ** 2
            return math.sqrt(s) / 100.0

        assert got[("a", "b")] == pytest.approx(
            lb(series["a"], series["b"]), abs=1e-6
        )
        assert got[("b", "a")] == pytest.approx(
            lb(series["b"], series["a"]), abs=1e-6
        )

    def test_identical_series_zero(self, spark):
        from etl_orders_to_bq_spark.operators.timeseries import (
            lb_keogh_pairs,
        )

        days = []
        for k in ("a", "b"):
            for d in range(10):
                days.append((k, f"2024-03-{d+1:02d}", 100.0 + d))
        df = spark.createDataFrame(
            days, "k string, d string, value double"
        ).select("k", F.to_timestamp("d").alias("ts"), "value")
        got = lb_keogh_pairs(df, "k", "ts", "value").collect()
        assert all(r["lb_dist"] == 0.0 for r in got)


class TestFisherExact:
    @staticmethod
    def _exact(a, b, c, d):
        from math import comb

        r1, r2, c1, n = a + b, c + d, a + c, a + b + c + d
        kmax = min(r1, c1)
        num = sum(
            comb(r1, k) * comb(r2, c1 - k) for k in range(a, kmax + 1)
        )
        return num / comb(n, c1)

    def test_matches_math_comb(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import fisher_exact

        rows = (
            [("a", 150.0)] * 12 + [("a", 50.0)] * 18
            + [("b", 150.0)] * 5 + [("b", 50.0)] * 25
        )
        df = spark.createDataFrame(rows, "g string, v double")
        got = fisher_exact(df, "g", "v", "a", "b", 100.0).collect()[0]
        assert (got["a"], got["b"], got["c"], got["d"]) == (12, 18, 5, 25)
        assert got["p_greater"] == pytest.approx(
            self._exact(12, 18, 5, 25), abs=2e-4
        )
        assert got["odds_ratio"] == pytest.approx(
            (12 * 25) / (18 * 5), abs=1e-6
        )

    def test_tea_tasting_lady(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import fisher_exact

        # Fisher's original 4/4 table: a=3,b=1,c=1,d=3
        rows = (
            [("m", 1.5)] * 3 + [("m", 0.5)] * 1
            + [("t", 1.5)] * 1 + [("t", 0.5)] * 3
        )
        df = spark.createDataFrame(rows, "g string, v double")
        got = fisher_exact(df, "g", "v", "m", "t", 1.0).collect()[0]
        # P(X >= 3) = (C(4,3)C(4,1) + C(4,4)C(4,0)) / C(8,4) = 17/70
        assert got["p_greater"] == pytest.approx(17 / 70, abs=1e-4)

    def test_observed_minimum_p_one(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import fisher_exact

        # a = 0: the whole upper tail is the full distribution
        rows = [("a", 0.5)] * 10 + [("b", 1.5)] * 5 + [("b", 0.5)] * 5
        df = spark.createDataFrame(rows, "g string, v double")
        got = fisher_exact(df, "g", "v", "a", "b", 1.0).collect()[0]
        assert got["a"] == 0
        assert got["p_greater"] == pytest.approx(1.0, abs=1e-4)


class TestWilcoxonSignedRank:
    ROWS = [
        (1.2, 1.0), (0.8, 1.0), (2.0, 1.5), (1.0, 1.0), (3.0, 2.0),
        (0.5, 1.5), (2.2, 2.0), (1.1, 0.9), (4.0, 4.5), (2.5, 2.0),
    ]

    @classmethod
    def _ref(cls, rows):
        import math
        from collections import Counter

        ds = [x - y for x, y in rows if x != y]
        cnt = Counter(abs(d) for d in ds)
        below, c = {}, 0
        for v in sorted(cnt):
            below[v] = c
            c += cnt[v]
        wp = sum(
            below[abs(d)] + (cnt[abs(d)] + 1) / 2.0 for d in ds if d > 0
        )
        n = len(ds)
        ties = sum(t**3 - t for t in cnt.values())
        var = n * (n + 1) * (2 * n + 1) / 24 - ties / 48
        z = (wp - n * (n + 1) / 4) / math.sqrt(var)
        return n, wp, z

    def test_matches_bruteforce(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            wilcoxon_signed_rank,
        )

        df = spark.createDataFrame(self.ROWS, "x double, y double")
        got = wilcoxon_signed_rank(df, "x", "y").collect()[0]
        n, wp, z = self._ref(self.ROWS)
        assert got["n"] == n == 9  # the (1.0, 1.0) zero pair drops
        assert got["w_plus"] == wp
        assert got["z"] == pytest.approx(z, abs=1e-6)

    def test_all_zero_diffs_null_z(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            wilcoxon_signed_rank,
        )

        df = spark.createDataFrame(
            [(1.0, 1.0)] * 5, "x double, y double"
        )
        got = wilcoxon_signed_rank(df, "x", "y").collect()[0]
        assert (got["n"], got["w_plus"]) == (0, 0.0)
        assert got["z"] is None and got["p_value"] is None

    def test_ties_exact_correction(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            wilcoxon_signed_rank,
        )

        rows = [(2.0, 1.0)] * 3 + [(0.0, 1.0)] * 2 + [(3.0, 1.0)] * 2
        df = spark.createDataFrame(rows, "x double, y double")
        got = wilcoxon_signed_rank(df, "x", "y").collect()[0]
        n, wp, z = self._ref(rows)
        assert got["w_plus"] == wp
        assert got["z"] == pytest.approx(z, abs=1e-6)


class TestSignTest:
    def test_exact_binomial(self, spark):
        from math import comb

        from etl_orders_to_bq_spark.operators.multitest import sign_test

        rows = (
            [(1.2, 1.0), (0.8, 1.0), (2.0, 1.5), (1.0, 1.0), (3.0, 2.0),
             (0.5, 1.5), (2.2, 2.0), (1.1, 0.9), (4.0, 4.5), (2.5, 2.0)]
        )
        df = spark.createDataFrame(rows, "x double, y double")
        got = sign_test(df, "x", "y").collect()[0]
        assert (got["n"], got["n_plus"], got["n_minus"]) == (9, 6, 3)
        pref = min(
            1.0, 2 * sum(comb(9, j) for j in range(3 + 1)) / 2**9
        )
        assert got["p_two_sided"] == pytest.approx(pref, abs=2e-5)

    def test_lopsided_small_p(self, spark):
        from math import comb

        from etl_orders_to_bq_spark.operators.multitest import sign_test

        rows = [(2.0, 1.0)] * 18 + [(0.5, 1.0)] * 2
        df = spark.createDataFrame(rows, "x double, y double")
        got = sign_test(df, "x", "y").collect()[0]
        pref = min(1.0, 2 * sum(comb(20, j) for j in range(3)) / 2**20)
        assert got["p_two_sided"] == pytest.approx(pref, abs=2e-5)

    def test_all_zero_diffs_p_one(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import sign_test

        df = spark.createDataFrame(
            [(1.0, 1.0)] * 4, "x double, y double"
        )
        got = sign_test(df, "x", "y").collect()[0]
        assert (got["n"], got["p_two_sided"]) == (0, 1.0)


class TestAssocMeasures:
    @staticmethod
    def _xyz():
        import numpy as np

        rng = np.random.RandomState(7)
        z = rng.uniform(0, 10, 200)
        x = np.round(2 * z + rng.normal(0, 2, 200), 6)
        y = np.round(-1.5 * z + rng.normal(0, 3, 200), 6)
        return x, y, np.round(z, 6)

    def test_partial_correlation_matches_numpy(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.assoc import (
            partial_correlation,
        )

        x, y, z = self._xyz()
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
            "x double, y double, z double",
        )
        got = partial_correlation(df, "x", "y", "z").collect()[0]

        def corr(a, b):
            return float(np.corrcoef(a, b)[0, 1])

        rxy, rxz, ryz = corr(x, y), corr(x, z), corr(y, z)
        pr = (rxy - rxz * ryz) / (
            ((1 - rxz**2) * (1 - ryz**2)) ** 0.5
        )
        assert got["r_xy"] == pytest.approx(rxy, abs=1e-6)
        assert got["partial_r"] == pytest.approx(pr, abs=1e-6)

    def test_partial_constant_column_null(self, spark):
        from etl_orders_to_bq_spark.operators.assoc import (
            partial_correlation,
        )

        df = spark.createDataFrame(
            [(1.0, 2.0, 5.0), (2.0, 3.0, 5.0), (3.0, 5.0, 5.0)],
            "x double, y double, z double",
        )
        got = partial_correlation(df, "x", "y", "z").collect()[0]
        assert got["r_xz"] is None and got["partial_r"] is None
        assert got["r_xy"] is not None

    def test_lins_ccc_matches_definition(self, spark):
        from etl_orders_to_bq_spark.operators.assoc import lins_ccc

        x, y, _ = self._xyz()
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, y)],
            "x double, y double",
        )
        got = lins_ccc(df, "x", "y").collect()[0]
        mx, my = x.mean(), y.mean()
        sxy = ((x - mx) * (y - my)).mean()
        vx, vy = ((x - mx) ** 2).mean(), ((y - my) ** 2).mean()
        ccc = 2 * sxy / (vx + vy + (mx - my) ** 2)
        assert got["ccc"] == pytest.approx(ccc, abs=1e-6)

    def test_ccc_perfect_agreement_is_one(self, spark):
        from etl_orders_to_bq_spark.operators.assoc import lins_ccc

        df = spark.createDataFrame(
            [(float(i), float(i)) for i in range(1, 20)],
            "x double, y double",
        )
        got = lins_ccc(df, "x", "y").collect()[0]
        assert got["ccc"] == 1.0 and got["pearson_r"] == 1.0

    def test_icc_oneway_matches_numpy(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.assoc import icc_oneway

        rng = np.random.RandomState(7)
        g = rng.randint(0, 3, 200)
        v = np.round(g * 2.0 + rng.normal(0, 1, 200), 6)
        df = spark.createDataFrame(
            [(int(a), float(b)) for a, b in zip(g, v)],
            "g int, v double",
        )
        got = icc_oneway(df, "g", "v").collect()[0]
        k, N = 3, 200
        ni = np.array([np.sum(g == i) for i in range(3)])
        si = np.array([v[g == i].sum() for i in range(3)])
        ssi = np.array([(v[g == i] ** 2).sum() for i in range(3)])
        bsum = (si**2 / ni).sum()
        msb = (bsum - v.sum() ** 2 / N) / (k - 1)
        msw = (ssi.sum() - bsum) / (N - k)
        k0 = (N - (ni**2).sum() / N) / (k - 1)
        icc = (msb - msw) / (msb + (k0 - 1) * msw)
        assert got["msb"] == pytest.approx(msb, abs=1e-4)
        assert got["msw"] == pytest.approx(msw, abs=1e-4)
        assert got["icc1"] == pytest.approx(icc, abs=1e-5)

    def test_icc_single_group_null(self, spark):
        from etl_orders_to_bq_spark.operators.assoc import icc_oneway

        df = spark.createDataFrame(
            [(1, float(i)) for i in range(10)], "g int, v double"
        )
        got = icc_oneway(df, "g", "v").collect()[0]
        assert got["k"] == 1 and got["icc1"] is None


class TestUnitRoot:
    @staticmethod
    def _series():
        import datetime

        import numpy as np

        rng = np.random.RandomState(3)
        n = 300
        y = np.zeros(n)
        for i in range(1, n):
            y[i] = 0.5 * y[i - 1] + rng.normal(0, 1)
        y = np.round(y + 10, 2)
        base = datetime.datetime(2020, 1, 1)
        rows = [
            (base + datetime.timedelta(days=i), float(v))
            for i, v in enumerate(y)
        ]
        return rows, y

    def test_adf_matches_ols(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import adf_test

        rows, y = self._series()
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        got = adf_test(df, "ts", "v").collect()[0]
        yc = np.round(y * 100).astype(np.int64).astype(float)
        x, d = yc[:-1], np.diff(yc)
        nn = len(x)
        sxx = nn * np.sum(x * x) - np.sum(x) ** 2
        sxd = nn * np.sum(x * d) - np.sum(x) * np.sum(d)
        sdd = nn * np.sum(d * d) - np.sum(d) ** 2
        beta = sxd / sxx
        t = beta / np.sqrt((sdd - beta * sxd) / (nn - 2) / sxx)
        assert got["n"] == nn
        assert got["beta"] == pytest.approx(beta, abs=1e-6)
        assert got["t_stat"] == pytest.approx(t, abs=1e-5)
        # stationary AR(1): strongly negative t
        assert got["t_stat"] < -5

    def test_adf_random_walk_near_zero(self, spark):
        import datetime

        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import adf_test

        rng = np.random.RandomState(11)
        y = np.round(np.cumsum(rng.normal(0, 1, 300)) + 100, 2)
        base = datetime.datetime(2020, 1, 1)
        rows = [
            (base + datetime.timedelta(days=i), float(v))
            for i, v in enumerate(y)
        ]
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        got = adf_test(df, "ts", "v").collect()[0]
        # unit root: t stays above the 1% DF critical value (-3.46)
        assert got["t_stat"] > -3.46

    def test_kpss_matches_definition(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import kpss_test

        rows, y = self._series()
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        got = kpss_test(df, "ts", "v").collect()[0]
        yc = np.round(y * 100).astype(np.int64).astype(float)
        e = yc - yc.mean()
        S = np.cumsum(e)
        eta = np.sum(S**2) / (len(yc) * np.sum(e**2))
        assert got["n"] == len(yc)
        assert got["kpss_stat"] == pytest.approx(eta, abs=1e-6)

    def test_kpss_constant_series_null(self, spark):
        import datetime

        from etl_orders_to_bq_spark.operators.timeseries import kpss_test

        base = datetime.datetime(2020, 1, 1)
        rows = [
            (base + datetime.timedelta(days=i), 5.0) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        got = kpss_test(df, "ts", "v").collect()[0]
        assert got["kpss_stat"] is None


class TestDtwDistance:
    @staticmethod
    def _mk(series):
        import datetime

        base = datetime.datetime(2020, 1, 1)
        rows = []
        for k, v in series.items():
            rows += [
                (k, base + datetime.timedelta(days=int(i)), float(x))
                for i, x in enumerate(v)
            ]
        return rows

    @staticmethod
    def _ref_arr(v, m=16):
        import numpy as np

        c = np.round(np.asarray(v) * 100).astype(np.int64)
        n = len(c)
        s, ss = int(c.sum()), int((c.astype(object) ** 2).sum())
        mu, var = s / n, (n * ss - s * s) / (n * n)
        out = []
        for g in range(m):
            idx = [i for i in range(n) if (i * m) // n == g]
            z = (int(c[idx].sum()) / len(idx) - mu) / var**0.5
            out.append(
                int(
                    np.copysign(np.floor(abs(z * 1e6) + 0.5), z * 1e6)
                )
            )
        return out

    @staticmethod
    def _ref_dtw(a, b):
        m = len(a)
        inf = float("inf")
        dp = [[inf] * (m + 1) for _ in range(m + 1)]
        dp[0][0] = 0
        for i in range(1, m + 1):
            for j in range(1, m + 1):
                cst = (a[i - 1] - b[j - 1]) ** 2
                dp[i][j] = cst + min(
                    dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1]
                )
        return (dp[m][m] ** 0.5) / 1e6

    def test_matches_full_dp(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import (
            dtw_distance,
        )

        rng = np.random.RandomState(5)
        t = np.arange(64)
        series = {
            "sine": np.round(
                100 + 10 * np.sin(2 * np.pi * t / 16)
                + rng.normal(0, 0.5, 64), 2
            ),
            "shift": np.round(
                100 + 10 * np.sin(2 * np.pi * (t - 3) / 16)
                + rng.normal(0, 0.5, 64), 2
            ),
            "ramp": np.round(50 + 2.0 * t + rng.normal(0, 0.5, 64), 2),
        }
        df = spark.createDataFrame(
            self._mk(series), "k string, ts timestamp, v double"
        )
        got = {
            (r["key_a"], r["key_b"]): r["dtw"]
            for r in dtw_distance(df, "k", "ts", "v").collect()
        }
        arrs = {k: self._ref_arr(v) for k, v in series.items()}
        import itertools

        for ka, kb in itertools.combinations(sorted(series), 2):
            ref = round(self._ref_dtw(arrs[ka], arrs[kb]), 6)
            assert got[(ka, kb)] == pytest.approx(ref, abs=1e-6), (
                ka, kb,
            )
        # a time-shifted copy warps closer than a different shape
        assert got[("shift", "sine")] < got[("ramp", "sine")]

    def test_identical_series_zero(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import (
            dtw_distance,
        )

        v = np.round(np.sin(np.arange(32)) * 10 + 50, 2)
        series = {"a": v, "b": v}
        df = spark.createDataFrame(
            self._mk(series), "k string, ts timestamp, v double"
        )
        got = dtw_distance(df, "k", "ts", "v").collect()
        assert len(got) == 1 and got[0]["dtw"] == 0.0

    def test_short_or_constant_series_dropped(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import (
            dtw_distance,
        )

        series = {
            "ok": np.round(np.sin(np.arange(32)) * 10 + 50, 2),
            "short": np.arange(5, dtype=float),
            "const": np.full(32, 7.0),
        }
        df = spark.createDataFrame(
            self._mk(series), "k string, ts timestamp, v double"
        )
        got = dtw_distance(df, "k", "ts", "v").collect()
        assert got == []


class TestLogisticIrls:
    def test_recovers_mle(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.classifier import (
            logistic_irls,
        )

        rng = np.random.RandomState(9)
        n = 2000
        x1 = np.round(rng.uniform(-2, 2, n), 4)
        x2 = np.round(rng.uniform(-2, 2, n), 4)
        p = 1 / (1 + np.exp(-(0.5 + 1.2 * x1 - 0.8 * x2)))
        yv = (rng.uniform(0, 1, n) < p).astype(int)
        df = spark.createDataFrame(
            [(int(a), float(b), float(c)) for a, b, c in zip(yv, x1, x2)],
            "y int, x1 double, x2 double",
        )
        got = logistic_irls(df, "x1", "x2", "y", iterations=8).collect()[0]
        # converged numpy IRLS reference (float, 25 iterations)
        X = np.column_stack([np.ones(n), x1, x2])
        b = np.zeros(3)
        for _ in range(25):
            e = X @ b
            pp = 1 / (1 + np.exp(-e))
            H = (X * (pp * (1 - pp))[:, None]).T @ X
            b = b + np.linalg.solve(H, X.T @ (yv - pp))
        assert got["iters_run"] == 8
        assert got["b0"] == pytest.approx(b[0], abs=2e-5)
        assert got["b1"] == pytest.approx(b[1], abs=2e-5)
        assert got["b2"] == pytest.approx(b[2], abs=2e-5)

    def test_separable_data_does_not_crash(self, spark):
        from etl_orders_to_bq_spark.operators.classifier import (
            logistic_irls,
        )

        # perfectly separable in x1: coefficients diverge but every
        # step stays finite through the clamped-p region (x2 carries
        # unrelated variation so the Gram matrix stays regular)
        rows = [
            (0, float(i), 0.1 * (i % 3)) for i in range(-10, 0)
        ] + [(1, float(i), 0.1 * (i % 3)) for i in range(1, 11)]
        df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
        got = logistic_irls(df, "x1", "x2", "y", iterations=4).collect()[0]
        assert got["n_rows"] == 20
        assert got["b1"] is not None and got["b1"] > 0

    def test_constant_feature_degenerate_stops(self, spark):
        from etl_orders_to_bq_spark.operators.classifier import (
            logistic_irls,
        )

        # x2 constant 0 -> singular Gram -> det == 0 -> early stop
        rows = [(i % 2, 1.0, 0.0) for i in range(20)]
        df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
        got = logistic_irls(df, "x1", "x2", "y", iterations=4).collect()[0]
        assert got["iters_run"] == 0
        assert (got["b0"], got["b1"], got["b2"]) == (0.0, 0.0, 0.0)

    def test_logistic_irls_local_matches_distributed(self, spark):
        from etl_orders_to_bq_spark.operators.classifier import (
            logistic_irls,
        )
        from etl_orders_to_bq_spark.operators.staging import (
            local_fold_max_rows,
        )

        # low-cardinality features with repeats (plus nulls dropped by
        # the filter) so the census path engages: default -> driver
        # local fit; local-fold limit 0 -> census-weighted
        # distributed loop; census_compress=False -> the original
        # full-row loop. All three must agree bit-for-bit.
        rows = [
            (i % 2, float(i % 7), 0.5 * (i % 4)) for i in range(500)
        ] + [(None, 1.0, 1.0), (1, None, 2.0)]
        df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
        a = logistic_irls(df, "x1", "x2", "y", iterations=6).collect()
        with local_fold_max_rows(spark, 0):
            b = logistic_irls(df, "x1", "x2", "y", iterations=6).collect()
        c = logistic_irls(
            df, "x1", "x2", "y", iterations=6, census_compress=False
        ).collect()
        assert a == b == c
        assert a[0]["n_rows"] == 500
        assert a[0]["iters_run"] == 6


class TestClosenessCentrality:
    def test_hub_and_path(self, spark):
        from etl_orders_to_bq_spark.operators.graph import (
            closeness_centrality,
        )

        edges = [
            (0, 1), (1, 2), (2, 3), (3, 4),
            (5, 0), (5, 1), (5, 2), (5, 3), (5, 4),
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r
            for r in closeness_centrality(df, k_sources=3).collect()
        }
        # top-3 by (degree desc, node asc): hub 5 (deg 5), then 1, 2
        assert set(got) == {5, 1, 2}
        assert got[5]["closeness"] == 1.0 and got[5]["harmonic"] == 5.0
        assert got[1]["closeness"] == pytest.approx(5 / 7, abs=1e-6)
        assert got[1]["harmonic"] == 4.0

    def test_disconnected_component(self, spark):
        from etl_orders_to_bq_spark.operators.graph import (
            closeness_centrality,
        )

        edges = [(0, 1), (0, 2), (3, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r
            for r in closeness_centrality(df, k_sources=2).collect()
        }
        # node 0 (deg 2) and then node 1 (deg 1, lowest id tie-break)
        assert set(got) == {0, 1}
        # node 0 reaches only its component: 1, 2 at dist 1
        assert got[0]["n_reached"] == 2
        assert got[0]["closeness"] == 1.0

    def test_max_hops_truncates(self, spark):
        from etl_orders_to_bq_spark.operators.graph import (
            closeness_centrality,
        )

        edges = [(i, i + 1) for i in range(6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r
            for r in closeness_centrality(
                df, k_sources=1, max_hops=2
            ).collect()
        }
        # chain 0-1-2-3-4-5-6; top degree node 1 (deg 2, lowest id);
        # within 2 hops of 1: 0,2 at 1; 3 at 2  -> plus 6? no
        (node,) = got
        r = got[node]
        assert r["n_reached"] == sum(
            1
            for d in [abs(x - node) for x in range(7) if x != node]
            if d <= 2
        )


class TestGrangerLag1:
    def test_causal_direction_detected(self, spark):
        import datetime

        import numpy as np

        from etl_orders_to_bq_spark.operators.timeseries import (
            granger_lag1,
        )

        rng = np.random.RandomState(13)
        n = 200
        x, y = np.zeros(n), np.zeros(n)
        for i in range(1, n):
            x[i] = 0.4 * x[i - 1] + rng.normal(0, 1)
            y[i] = 0.3 * y[i - 1] + 0.6 * x[i - 1] + rng.normal(0, 1)
        x, y = np.round(x + 50, 2), np.round(y + 50, 2)
        base = datetime.datetime(2021, 1, 1)
        rows = []
        for i in range(n):
            d = base + datetime.timedelta(days=i)
            rows += [("xx", d, float(x[i])), ("yy", d, float(y[i]))]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
        fwd = granger_lag1(df, "ts", "k", "v", "xx", "yy").collect()[0]
        rev = granger_lag1(df, "ts", "k", "v", "yy", "xx").collect()[0]

        # reference OLS on exact cents
        xc, yc = np.round(x * 100), np.round(y * 100)
        t, yl, xl = yc[1:], yc[:-1], xc[:-1]
        nn = len(t)

        def cm(a, b_):
            return nn * np.sum(a * b_) - a.sum() * b_.sum()

        syy, s11, s22 = cm(t, t), cm(yl, yl), cm(xl, xl)
        s12, s1t, s2t = cm(yl, xl), cm(yl, t), cm(xl, t)
        det = s11 * s22 - s12 * s12
        b = (s1t * s22 - s12 * s2t) / det
        c = (s11 * s2t - s12 * s1t) / det
        rss1 = syy - b * s1t - c * s2t
        f = (syy - (s1t / s11) * s1t - rss1) / (rss1 / (nn - 3))
        assert fwd["beta_xlag"] == pytest.approx(c, abs=1e-6)
        assert fwd["f_stat"] == pytest.approx(f, rel=1e-6)
        # the true causal direction dominates
        assert fwd["f_stat"] > 50 and rev["f_stat"] < 5

    def test_too_short_null(self, spark):
        import datetime

        from etl_orders_to_bq_spark.operators.timeseries import (
            granger_lag1,
        )

        base = datetime.datetime(2021, 1, 1)
        rows = []
        for i in range(3):
            d = base + datetime.timedelta(days=i)
            rows += [("a", d, float(i + 1)), ("b", d, float(2 * i + 1))]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
        got = granger_lag1(df, "ts", "k", "v", "a", "b").collect()[0]
        assert got["f_stat"] is None


class TestGmmEm1d:
    def test_recovers_bimodal_mixture(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.mixture import gmm_em_1d

        rng = np.random.RandomState(21)
        v = np.round(
            np.concatenate(
                [rng.normal(20, 3, 1500), rng.normal(80, 8, 500)]
            ),
            2,
        )
        df = spark.createDataFrame([(float(x),) for x in v], "v double")
        got = gmm_em_1d(df, "v", rounds=6).collect()[0]
        assert got["rounds_run"] == 6
        assert got["weight_1"] == pytest.approx(0.75, abs=0.02)
        assert got["mu_1"] == pytest.approx(20, abs=0.5)
        assert got["sigma_1"] == pytest.approx(3, abs=0.3)
        assert got["mu_2"] == pytest.approx(80, abs=1.0)
        assert got["sigma_2"] == pytest.approx(8, abs=1.0)

    def test_constant_input_freezes(self, spark):
        from etl_orders_to_bq_spark.operators.mixture import gmm_em_1d

        df = spark.createDataFrame([(5.0,)] * 50, "v double")
        got = gmm_em_1d(df, "v", rounds=6).collect()[0]
        assert got["rounds_run"] == 0
        assert got["mu_1"] == 5.0 and got["sigma_1"] == 0.0

    def test_gmm_census_fit_matches_distributed(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.mixture import gmm_em_1d

        # 1dp values with repeats so the census path engages; the
        # driver-local numpy replay (default) must equal the
        # per-round distributed scans (census_compress=False)
        # bit-for-bit — same det-exp staging, same micro floor form,
        # same exact integer sums.
        rng = np.random.RandomState(7)
        v = np.round(
            np.concatenate(
                [rng.normal(10, 2, 400), rng.normal(40, 5, 200)]
            ),
            1,
        )
        df = spark.createDataFrame([(float(x),) for x in v], "v double")
        a = gmm_em_1d(df, "v", rounds=6).collect()
        b = gmm_em_1d(df, "v", rounds=6, census_compress=False).collect()
        assert a == b
        assert a[0]["rounds_run"] == 6

    def test_empty_input_nulls(self, spark):
        from etl_orders_to_bq_spark.operators.mixture import gmm_em_1d

        df = spark.createDataFrame([], "v double")
        got = gmm_em_1d(df, "v", rounds=6).collect()[0]
        assert got["n"] == 0 and got["weight_1"] is None


class TestGammaSomersD:
    def test_matches_pair_brute_force(self, spark):
        import itertools

        import numpy as np

        from etl_orders_to_bq_spark.operators.rankcorr import (
            gamma_somers_d,
        )

        rng = np.random.RandomState(2)
        x = rng.randint(1, 5, 300)
        y = np.clip(x + rng.randint(-1, 2, 300), 0, 6)
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(x, y)], "x int, y int"
        )
        got = gamma_somers_d(df, "x", "y").collect()[0]
        C = D = Tx = Ty = 0
        for (a, b), (c, d) in itertools.combinations(zip(x, y), 2):
            if a == c and b == d:
                continue
            if a == c:
                Tx += 1
            elif b == d:
                Ty += 1
            elif (a < c) == (b < d):
                C += 1
            else:
                D += 1
        assert (got["concordant"], got["discordant"]) == (C, D)
        assert (got["tied_x_only"], got["tied_y_only"]) == (Tx, Ty)
        assert got["gamma"] == pytest.approx((C - D) / (C + D), abs=1e-6)
        assert got["somers_dyx"] == pytest.approx(
            (C - D) / (C + D + Ty), abs=1e-6
        )

    def test_perfect_order_gamma_one(self, spark):
        from etl_orders_to_bq_spark.operators.rankcorr import (
            gamma_somers_d,
        )

        df = spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "x int, y int"
        )
        got = gamma_somers_d(df, "x", "y").collect()[0]
        assert got["gamma"] == 1.0 and got["somers_dyx"] == 1.0

    def test_all_tied_null(self, spark):
        from etl_orders_to_bq_spark.operators.rankcorr import (
            gamma_somers_d,
        )

        df = spark.createDataFrame(
            [(1, 1)] * 10, "x int, y int"
        )
        got = gamma_somers_d(df, "x", "y").collect()[0]
        assert got["gamma"] is None and got["somers_dyx"] is None


class TestEffectSizes:
    def test_matches_numpy(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.assoc import effect_sizes

        rng = np.random.RandomState(4)
        a = np.round(rng.normal(10, 2, 150), 4)
        b = np.round(rng.normal(8.5, 3, 100), 4)
        rows = [("a", float(v)) for v in a] + [
            ("b", float(v)) for v in b
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = effect_sizes(df, "g", "v", "a", "b").collect()[0]
        na, nb = len(a), len(b)
        va, vb = a.var(ddof=1), b.var(ddof=1)
        sp = (((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)) ** 0.5
        d = (a.mean() - b.mean()) / sp
        assert got["cohen_d"] == pytest.approx(d, abs=1e-6)
        assert got["hedges_g"] == pytest.approx(
            d * (1 - 3 / (4 * (na + nb) - 9)), abs=1e-6
        )
        assert got["glass_delta"] == pytest.approx(
            (a.mean() - b.mean()) / vb**0.5, abs=1e-6
        )

    def test_tiny_group_nulls(self, spark):
        from etl_orders_to_bq_spark.operators.assoc import effect_sizes

        df = spark.createDataFrame(
            [("a", 1.0), ("b", 2.0), ("b", 3.0)], "g string, v double"
        )
        got = effect_sizes(df, "g", "v", "a", "b").collect()[0]
        assert got["cohen_d"] is None and got["glass_delta"] is None


class TestBrierDecomposition:
    def test_matches_murphy_decomposition(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.assoc import (
            brier_decomposition,
        )

        rng = np.random.RandomState(4)
        p = np.round(rng.uniform(0, 1, 3000), 4)
        yv = (rng.uniform(0, 1, 3000) < p).astype(int)
        df = spark.createDataFrame(
            [(float(x), int(t)) for x, t in zip(p, yv)],
            "p double, y int",
        )
        got = brier_decomposition(df, "p", "y").collect()[0]
        brier = np.mean((p - yv) ** 2)
        k = np.minimum((p * 10).astype(int), 9)
        ob = yv.mean()
        rel = res = 0.0
        for kk in range(10):
            idx = k == kk
            if idx.sum():
                rel += idx.sum() * (p[idx].mean() - yv[idx].mean()) ** 2
                res += idx.sum() * (yv[idx].mean() - ob) ** 2
        assert got["brier"] == pytest.approx(brier, abs=1e-5)
        assert got["reliability"] == pytest.approx(rel / 3000, abs=1e-5)
        assert got["resolution"] == pytest.approx(res / 3000, abs=1e-5)
        assert got["uncertainty"] == pytest.approx(
            ob * (1 - ob), abs=1e-6
        )

    def test_perfect_forecast(self, spark):
        from etl_orders_to_bq_spark.operators.assoc import (
            brier_decomposition,
        )

        rows = [(1.0, 1)] * 30 + [(0.0, 0)] * 70
        df = spark.createDataFrame(rows, "p double, y int")
        got = brier_decomposition(df, "p", "y").collect()[0]
        assert got["brier"] == 0.0
        assert got["reliability"] == 0.0
        # resolution equals uncertainty for a perfect binned forecast
        assert got["resolution"] == got["uncertainty"]


class TestAndersonDarlingK:
    @staticmethod
    def _ref(samples):
        import numpy as np

        pooled = np.concatenate(samples)
        N = len(pooled)
        vals = np.unique(pooled)
        A2 = 0.0
        for s in samples:
            ni = len(s)
            inner = 0.0
            for v in vals:
                lj = np.sum(pooled == v)
                Bj = np.sum(pooled < v) + lj / 2.0
                Mij = np.sum(s < v) + np.sum(s == v) / 2.0
                den = Bj * (N - Bj) - N * lj / 4.0
                if den <= 0:
                    continue
                inner += (lj / N) * (N * Mij - ni * Bj) ** 2 / den
            A2 += inner / ni
        return A2 * (N - 1) / N

    def test_two_sample_with_ties(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.multitest import (
            anderson_darling_k,
        )

        rng = np.random.RandomState(8)
        a = np.round(rng.normal(10, 2, 80), 1)
        b = np.round(rng.normal(11, 2, 60), 1)
        rows = [("a", float(v)) for v in a] + [
            ("b", float(v)) for v in b
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = anderson_darling_k(df, "g", "v").collect()[0]
        assert (got["k"], got["n"]) == (2, 140)
        assert got["a2_stat"] == pytest.approx(
            self._ref([a, b]), abs=1e-5
        )

    def test_three_samples(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.multitest import (
            anderson_darling_k,
        )

        rng = np.random.RandomState(5)
        gs = [
            np.round(rng.normal(m, 1.5, 50), 1) for m in (5, 5.5, 7)
        ]
        rows = [
            (f"g{i}", float(v)) for i, s in enumerate(gs) for v in s
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = anderson_darling_k(df, "g", "v").collect()[0]
        assert got["k"] == 3
        assert got["a2_stat"] == pytest.approx(self._ref(gs), abs=1e-5)

    def test_single_distinct_value_null(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            anderson_darling_k,
        )

        df = spark.createDataFrame(
            [("a", 1.0)] * 5 + [("b", 1.0)] * 5, "g string, v double"
        )
        got = anderson_darling_k(df, "g", "v").collect()[0]
        assert got["a2_stat"] is None


class TestMantelHaenszel:
    def test_matches_hand_tables(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            mantel_haenszel,
        )

        rows = []
        tables = {"s1": (30, 20, 20, 30), "s2": (8, 12, 5, 15)}
        for s, (a, b, c, d) in tables.items():
            rows += [(s, "t", 150.0)] * a + [(s, "t", 50.0)] * b
            rows += [(s, "c", 150.0)] * c + [(s, "c", 50.0)] * d
        df = spark.createDataFrame(rows, "s string, g string, v double")
        got = mantel_haenszel(
            df, "s", "g", "v", "t", "c", 100.0
        ).collect()[0]
        num = den = dev = V = 0.0
        for a, b, c, d in tables.values():
            n = a + b + c + d
            num += a * d / n
            den += b * c / n
            dev += a - (a + b) * (a + c) / n
            V += (
                (a + b) * (c + d) * (a + c) * (b + d)
                / (n * n * (n - 1))
            )
        assert got["n_strata"] == 2
        assert got["or_mh"] == pytest.approx(num / den, abs=1e-6)
        assert got["cmh_stat"] == pytest.approx(dev * dev / V, abs=1e-5)

    def test_no_association_small_cmh(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            mantel_haenszel,
        )

        rows = []
        for s in ("s1", "s2"):
            rows += [(s, "t", 150.0)] * 10 + [(s, "t", 50.0)] * 10
            rows += [(s, "c", 150.0)] * 10 + [(s, "c", 50.0)] * 10
        df = spark.createDataFrame(rows, "s string, g string, v double")
        got = mantel_haenszel(
            df, "s", "g", "v", "t", "c", 100.0
        ).collect()[0]
        assert got["or_mh"] == 1.0
        assert got["cmh_stat"] == 0.0

    def test_degenerate_strata_dropped(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            mantel_haenszel,
        )

        rows = [("s1", "t", 150.0), ("lone", "t", 150.0)] + [
            ("s1", "t", 50.0), ("s1", "c", 150.0), ("s1", "c", 50.0),
        ]
        df = spark.createDataFrame(rows, "s string, g string, v double")
        got = mantel_haenszel(
            df, "s", "g", "v", "t", "c", 100.0
        ).collect()[0]
        assert got["n_strata"] == 1


class TestFlignerKilleen:
    @staticmethod
    def _ppf(p):
        import numpy as np

        a = [-3.969683028665376e+01, 2.209460984245205e+02,
             -2.759285104469687e+02, 1.383577518672690e+02,
             -3.066479806614716e+01, 2.506628277459239e+00]
        b = [-5.447609879822406e+01, 1.615858368580409e+02,
             -1.556989798598866e+02, 6.680131188771972e+01,
             -1.328068155288572e+01]
        c = [-7.784894002430293e-03, -3.223964580411365e-01,
             -2.400758277161838e+00, -2.549732539343734e+00,
             4.374664141464968e+00, 2.938163982698783e+00]
        d = [7.784695709041462e-03, 3.224671290700398e-01,
             2.445134137142996e+00, 3.754408661907416e+00]

        def hor(cs, x):
            acc = cs[0]
            for cc in cs[1:]:
                acc = acc * x + cc
            return acc

        if p < 0.02425:
            q = np.sqrt(-2 * np.log(p))
            return hor(c, q) / (hor(d, q) * q + 1)
        if p <= 1 - 0.02425:
            q = p - 0.5
            r = q * q
            return hor(a, r) * q / (hor(b, r) * r + 1)
        q = np.sqrt(-2 * np.log(1 - p))
        return -(hor(c, q) / (hor(d, q) * q + 1))

    def test_matches_normal_scores_anova(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.multitest import (
            fligner_killeen,
        )

        rng = np.random.RandomState(6)
        gs = {
            "a": np.round(rng.normal(10, 1, 70), 2),
            "b": np.round(rng.normal(12, 3, 60), 2),
            "c": np.round(rng.normal(11, 1, 50), 2),
        }
        rows = [(g, float(v)) for g, s in gs.items() for v in s]
        df = spark.createDataFrame(rows, "g string, v double")
        got = fligner_killeen(df, "g", "v").collect()[0]

        def med(x):
            xs = np.sort(x)
            n = len(xs)
            return (xs[(n + 1) // 2 - 1] + xs[n // 2]) / 2.0

        pooled, glab = [], []
        for g, s in gs.items():
            m = med(s)
            for v in s:
                pooled.append(
                    abs(round(v * 1000) - round(m * 1000)) / 1000.0
                )
                glab.append(g)
        pooled, glab = np.array(pooled), np.array(glab)
        N = len(pooled)
        vals, inv, cnts = np.unique(
            pooled, return_inverse=True, return_counts=True
        )
        below = np.concatenate([[0], np.cumsum(cnts)[:-1]])
        aval = np.array(
            [
                self._ppf(
                    0.5 + (2 * below[i] + cnts[i] + 1) / (4.0 * (N + 1))
                )
                for i in range(len(vals))
            ]
        )
        a = (np.round(aval * 1e9) / 1e9)[inv]
        abar = a.mean()
        ss = sum(
            (glab == g).sum() * (a[glab == g].mean() - abar) ** 2
            for g in gs
        )
        ref = ss / a.var(ddof=1)
        assert (got["k"], got["n"]) == (3, 180)
        assert got["fk_stat"] == pytest.approx(ref, rel=1e-6)
        # variance genuinely differs across groups -> large statistic
        assert got["fk_stat"] > 20

    def test_equal_scales_small_stat(self, spark):
        import numpy as np

        from etl_orders_to_bq_spark.operators.multitest import (
            fligner_killeen,
        )

        rng = np.random.RandomState(12)
        rows = [
            (f"g{i % 3}", float(np.round(rng.normal(5, 2), 2)))
            for i in range(240)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = fligner_killeen(df, "g", "v").collect()[0]
        assert got["fk_stat"] is not None and got["fk_stat"] < 8

    def test_degenerate_null(self, spark):
        from etl_orders_to_bq_spark.operators.multitest import (
            fligner_killeen,
        )

        df = spark.createDataFrame(
            [("a", 1.0)] * 6 + [("b", 1.0)] * 6, "g string, v double"
        )
        got = fligner_killeen(df, "g", "v").collect()[0]
        assert got["fk_stat"] is None
