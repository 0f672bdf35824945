"""Series-stats operators (ACF / CUSUM / profile / periodogram) vs
brute-force pandas/numpy oracles, including constant and tiny series."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from ts2g2_spark.operators.seriesstats import (
    acf, cusum_changepoint, periodogram, series_profile,
)

TS = dt.datetime
BASE = TS(2024, 1, 1)


def _events(seed=21, n=500, n_keys=6):
    rng = np.random.default_rng(seed)
    secs = rng.integers(0, 40_000, n)
    df = pd.DataFrame({
        "user_id": rng.integers(0, n_keys, n),
        "ts": [BASE + dt.timedelta(seconds=int(s)) for s in secs],
        "value": rng.normal(size=n).round(2),
        "event_id": np.arange(n, dtype=np.int64),
    })
    # a constant series and a 1-point series exercise the NULL paths
    extra = pd.DataFrame({
        "user_id": [90] * 6 + [91],
        "ts": [BASE + dt.timedelta(seconds=i) for i in range(6)] + [BASE],
        "value": [7.0] * 6 + [3.0],
        "event_id": np.arange(n, n + 7, dtype=np.int64),
    })
    return pd.concat([df, extra], ignore_index=True)


def _sorted_series(pdf):
    for u, g in pdf.groupby("user_id"):
        yield u, g.sort_values(["ts", "event_id"])["value"].to_numpy()


def test_acf_matches_bruteforce(spark):
    pdf = _events()
    got = {(r.user_id, r.lag): (r.n_pairs, r.acf)
           for r in acf(spark.createDataFrame(pdf), max_lag=4,
                        order_col="event_id").collect()}
    want = {}
    for u, x in _sorted_series(pdf):
        d = x - x.mean()
        den = float(d @ d)
        for k in range(1, 5):
            np_pairs = max(len(x) - k, 0)
            a = (round(float(d[k:] @ d[:-k]) / den, 6)
                 if den > 0 and np_pairs > 0 else None)
            want[(u, k)] = (np_pairs, a)
    assert set(got) == set(want)
    for k, (wn, wa) in want.items():
        gn, ga = got[k]
        assert gn == wn, k
        if wa is None:
            assert ga is None, k
        else:
            assert ga == pytest.approx(wa, abs=2e-6), k


def test_acf_bad_lag_raises(spark):
    with pytest.raises(ValueError, match="max_lag"):
        acf(None, max_lag=0)


def test_cusum_matches_bruteforce(spark):
    pdf = _events(seed=3)
    got = {r.user_id: r for r in cusum_changepoint(
        spark.createDataFrame(pdf), order_col="event_id").collect()}
    for u, x in _sorted_series(pdf):
        r = got[u]
        assert r.n == len(x)
        sd = x.std(ddof=1) if len(x) > 1 else 0.0
        if not sd > 0:
            assert r.max_abs_cusum is None and r.cp_rn is None \
                and r.cp_ts is None and r.cusum_score is None
            continue
        s = np.round(np.cumsum((x - x.mean()) / sd), 6)
        i = int(np.argmax(np.abs(s)))  # argmax: first occurrence wins
        assert r.max_abs_cusum == pytest.approx(abs(s[i]), abs=2e-6)
        assert r.cp_rn == i + 1
        assert r.cusum_score == pytest.approx(
            abs(s[i]) / math.sqrt(len(x)), abs=2e-6)


def test_cusum_step_series_peaks_at_step(spark):
    # 10 zeros then 10 tens: |cusum| of z peaks exactly at the step edge
    pdf = pd.DataFrame({
        "user_id": [1] * 20,
        "ts": [BASE + dt.timedelta(seconds=i) for i in range(20)],
        "value": [0.0] * 10 + [10.0] * 10,
        "event_id": range(20),
    })
    r = cusum_changepoint(spark.createDataFrame(pdf),
                          order_col="event_id").collect()[0]
    assert r.cp_rn == 10 and r.cp_ts == BASE + dt.timedelta(seconds=9)


def test_series_profile_matches_bruteforce(spark):
    pdf = _events(seed=11)
    got = {r.user_id: r for r in series_profile(
        spark.createDataFrame(pdf)).collect()}
    for u, g in pdf.groupby("user_id"):
        x = g["value"].to_numpy()
        r = got[u]
        assert r.n == len(x)
        assert r.mean == pytest.approx(x.mean(), abs=2e-6)
        if len(x) > 1:
            assert r.sd == pytest.approx(x.std(ddof=1), abs=2e-6)
        else:
            assert r.sd is None
        assert (r.min_val, r.max_val) == (x.min(), x.max())
        q = np.quantile(x, [0.25, 0.5, 0.75, 0.9])  # linear interp
        for gq, wq in zip((r.p25, r.p50, r.p75, r.p90), q):
            assert gq == pytest.approx(wq, abs=2e-6)
        q25, q75 = round(float(q[0]), 6), round(float(q[2]), 6)
        lo, hi = q25 - 1.5 * (q75 - q25), q75 + 1.5 * (q75 - q25)
        assert r.n_outliers == int(((x < lo) | (x > hi)).sum())


def test_periodogram_pure_sinusoid_and_constant(spark):
    n, p = 96, 24
    rows = []
    for i in range(n):
        rows.append((1, BASE + dt.timedelta(seconds=i),
                     math.sin(2 * math.pi * i / p), i))
    for i in range(10):  # constant series -> power exactly 0
        rows.append((2, BASE + dt.timedelta(seconds=i), 5.0, n + i))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    got = {(r.user_id, r.period): r.power for r in periodogram(
        spark.createDataFrame(pdf), periods=[12, 24],
        order_col="event_id").collect()}
    # z-normalized pure sinusoid: c^2+s^2 = (n/2)^2 / var-scale ->
    # power ~ (n/2)^2 * 2 / n^2 = 0.5 (sample-sd normalization, ddof=1)
    assert got[(1, 24)] == pytest.approx(0.5, abs=0.02)
    assert got[(1, 12)] == pytest.approx(0.0, abs=0.02)
    assert got[(2, 12)] == 0.0 and got[(2, 24)] == 0.0


def test_periodogram_matches_bruteforce(spark):
    pdf = _events(seed=17)
    got = {(r.user_id, r.period): (r.n, r.power) for r in periodogram(
        spark.createDataFrame(pdf), periods=[8, 24],
        order_col="event_id").collect()}
    for u, x in _sorted_series(pdf):
        sd = x.std(ddof=1) if len(x) > 1 else 0.0
        z = (x - x.mean()) / sd if sd > 0 else np.zeros_like(x)
        t = np.arange(len(x), dtype=float)
        for p in (8, 24):
            c = float(z @ np.cos(2 * math.pi * t / p))
            s = float(z @ np.sin(2 * math.pi * t / p))
            want = (c * c + s * s) / len(x) ** 2
            assert got[(u, p)][1] == pytest.approx(want, abs=2e-6), (u, p)


def test_periodogram_bad_period_raises(spark):
    with pytest.raises(ValueError, match="period"):
        periodogram(None, periods=[1])


def _decompose_model(x, period):
    """The operator's documented contract (2xp-MA for even periods,
    per-phase means of the detrended series, centered; intermediates
    stay RAW doubles — only outputs are rounded)."""
    n = len(x)
    h = period // 2
    trend = np.full(n, np.nan)
    for t in range(n):
        if t - h < 0 or t + h >= n:
            continue
        w = x[t - h:t + h + 1]
        if period % 2 == 0:
            trend[t] = (w.sum() - 0.5 * (w[0] + w[-1])) / period
        else:
            trend[t] = w.sum() / period
    det = x - trend
    pm = np.full(period, np.nan)
    for ph in range(period):
        d = det[ph::period]
        d = d[~np.isnan(d)]
        if len(d):
            pm[ph] = float(d.mean())
    seasonal = np.round(pm - np.nanmean(pm), 9)
    return trend, seasonal


def test_seasonal_decompose_matches_bruteforce(spark):
    from ts2g2_spark.operators.seriesstats import seasonal_decompose

    pdf = _events(seed=29)
    got = {(r.user_id, r.pos): r for r in seasonal_decompose(
        spark.createDataFrame(pdf), period=6,
        order_col="event_id").collect()}
    n_expected = 0
    for u, x in _sorted_series(pdf):
        trend, seasonal = _decompose_model(x, 6)
        n_expected += len(x)
        for t in range(len(x)):
            r = got[(u, t)]
            assert r.value == pytest.approx(x[t], abs=1e-12)
            if np.isnan(trend[t]):
                assert r.trend is None and r.resid is None, (u, t)
            else:
                assert r.trend == pytest.approx(trend[t], abs=1e-8), (u, t)
                assert r.resid == pytest.approx(
                    x[t] - trend[t] - seasonal[t % 6], abs=1e-8), (u, t)
            if np.isnan(seasonal[t % 6]):
                assert r.seasonal is None
            else:
                assert r.seasonal == pytest.approx(
                    seasonal[t % 6], abs=1e-8), (u, t)
    assert len(got) == n_expected


def test_seasonal_decompose_recovers_planted_cycle(spark):
    # pure seasonal square wave + linear trend: resid ~ 0 in the interior
    per = 4
    n = 40
    base_vals = np.tile([1.0, -1.0, 2.0, -2.0], n // per)
    x = base_vals + 0.5 * np.arange(n)
    pdf = pd.DataFrame({
        "user_id": [1] * n,
        "ts": [BASE + dt.timedelta(seconds=i) for i in range(n)],
        "value": x,
        "event_id": range(n),
    })
    from ts2g2_spark.operators.seriesstats import seasonal_decompose
    rows = seasonal_decompose(
        spark.createDataFrame(pdf), period=per,
        order_col="event_id").collect()
    for r in rows:
        if r.trend is not None:
            assert abs(r.resid) < 1e-6, r


def test_seasonal_decompose_bad_period_raises(spark):
    from ts2g2_spark.operators.seriesstats import seasonal_decompose
    with pytest.raises(ValueError, match="period"):
        seasonal_decompose(None, period=1)


def test_ewma_matches_pandas(spark):
    from ts2g2_spark.operators.seriesstats import ewma

    pdf = _events(seed=37)
    got = {(r.user_id, r.pos): r.ewma for r in ewma(
        spark.createDataFrame(pdf), alpha=0.3,
        order_col="event_id").collect()}
    for u, x in _sorted_series(pdf):
        exp = pd.Series(x).ewm(alpha=0.3, adjust=True).mean().to_numpy()
        for t in range(len(x)):
            # truncated kernel vs pandas' full recursion: < 1e-13 rel
            assert got[(u, t)] == pytest.approx(exp[t], abs=1e-8), (u, t)


def test_ewma_first_point_and_validation(spark):
    from ts2g2_spark.operators.seriesstats import ewma, ewma_weights

    pdf = _events(seed=41)
    rows = ewma(spark.createDataFrame(pdf), alpha=0.5,
                order_col="event_id").collect()
    for r in rows:
        if r.pos == 0:
            assert r.ewma == pytest.approx(r.value, abs=1e-9)
    with pytest.raises(ValueError, match="alpha"):
        ewma(None, alpha=0.0)
    with pytest.raises(ValueError, match="alpha"):
        ewma(None, alpha=1.5)
    with pytest.raises(ValueError, match="max_lags"):
        ewma_weights(alpha=1e-4)


def test_ewma_weights_prefix_is_left_fold():
    from ts2g2_spark.operators.seriesstats import ewma_weights

    w, p = ewma_weights(0.3)
    assert w[0] == 1.0 and len(w) == len(p)
    acc = 0.0
    for i, wi in enumerate(w):
        acc = acc + wi
        assert p[i] == acc  # bit-exact, not approx — the fold IS the spec
    assert w[-1] < 1e-13 * (1 - 0.3) ** -1  # K is the first sub-tol lag


def _hampel_oracle(x, k, n_sigmas=3.0):
    """Brute-force Hampel: exact median via sort + two-middle average."""
    def med(a):
        s = np.sort(a)
        n = len(s)
        return (s[(n + 1) // 2 - 1] + s[n // 2]) / 2
    out = []
    for t in range(len(x)):
        w = x[max(0, t - k): t + k + 1]
        m = med(w)
        mad = med(np.abs(w - m))
        out.append((m, mad, abs(x[t] - m) > n_sigmas * (1.4826 * mad)))
    return out


def test_hampel_matches_bruteforce(spark):
    from ts2g2_spark.operators.seriesstats import hampel_filter

    pdf = _events(seed=53)
    got = {(r.user_id, r.pos): r for r in hampel_filter(
        spark.createDataFrame(pdf), k=3,
        order_col="event_id").collect()}
    for u, x in _sorted_series(pdf):
        for t, (m, mad, flag) in enumerate(_hampel_oracle(x, k=3)):
            r = got[(u, t)]
            assert r.med == pytest.approx(m, abs=1e-9), (u, t)
            assert r.mad == pytest.approx(mad, abs=1e-9), (u, t)
            assert r.is_outlier == flag, (u, t)


def test_hampel_flags_spike_zscore_misses(spark):
    # the robustness point: a huge spike inflates rolling mean/std but
    # not the window median/MAD
    from ts2g2_spark.operators.seriesstats import hampel_filter

    n = 40
    vals = np.sin(np.arange(n) / 2).round(3)
    vals[20] = 500.0
    pdf = pd.DataFrame({
        "user_id": [1] * n,
        "ts": [BASE + dt.timedelta(seconds=i) for i in range(n)],
        "value": vals,
        "event_id": np.arange(n, dtype=np.int64),
    })
    rows = hampel_filter(spark.createDataFrame(pdf), k=3,
                         order_col="event_id").collect()
    flagged = {r.pos for r in rows if r.is_outlier}
    assert 20 in flagged
    assert not flagged & {17, 18, 19, 21, 22, 23}  # neighbours survive
    with pytest.raises(ValueError, match="k must be"):
        hampel_filter(None, k=0)


def test_residual_anomalies_flags_planted_spike(spark):
    import pandas as pd

    from ts2g2_spark.operators.seriesstats import (residual_anomalies,
                                                   seasonal_decompose)

    rng = np.random.default_rng(9)
    rows = []
    for u in (1, 2):
        for i in range(96):
            v = 10 * np.sin(2 * np.pi * i / 24) + rng.normal(0, 0.3)
            if u == 1 and i == 50:
                v += 25  # planted anomaly on a seasonal series
            rows.append((u, BASE + dt.timedelta(hours=i), round(v, 3), i))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    df = spark.createDataFrame(pdf)
    out = residual_anomalies(df, period=24, order_col="event_id").collect()
    flagged = {(r.user_id, r.pos) for r in out if r.is_anomaly}
    assert (1, 50) in flagged
    assert not any(u == 2 for u, _ in flagged)
    # z matches recomputation from the decompose residuals
    dec = {(r.user_id, r.pos): r.resid
           for r in seasonal_decompose(df, 24,
                                       order_col="event_id").collect()
           if r.resid is not None}
    import statistics
    for u in (1, 2):
        res = [v for (uu, _), v in dec.items() if uu == u]
        mu, sd = statistics.fmean(res), statistics.stdev(res)
        for r in out:
            if r.user_id == u:
                assert r.z == pytest.approx(
                    round((dec[(u, r.pos)] - mu) / sd, 6), abs=1e-6)
    # rows with undefined residuals are excluded
    assert all(r.resid is not None for r in out)


# ----------------------------------------------------------- theil-sen

def _theil_sen_oracle(pdf, dp=9):
    rows = []
    pdf = pdf.copy()
    pdf["b"] = pdf["ts"].dt.floor("h")
    s = 10.0 ** dp

    def q(x):
        return float(np.floor(x * s + 0.5) / s) + 0.0

    for u, g in pdf.groupby("user_id"):
        m = g.groupby("b")["value"].mean().round(6).sort_index()
        if len(m) < 2:
            continue
        y = m.to_numpy()
        t = (m.index.asi8 // 1_000_000_000).astype(float) / 3600.0
        i, j = np.triu_indices(len(y), 1)
        slope = float(np.median((y[j] - y[i]) / (t[j] - t[i])))
        rows.append((u, len(y), q(slope),
                     q(float(np.median(y - slope * t)))))
    return pd.DataFrame(rows, columns=[
        "user_id", "n_buckets", "slope", "intercept"])


def test_theil_sen_matches_scalar_oracle(spark):
    from ts2g2_spark.operators.seriesstats import theil_sen_trend

    pdf = _events(seed=9, n=700, n_keys=8)
    got = theil_sen_trend(
        spark.createDataFrame(pdf[["user_id", "ts", "value"]])).toPandas()
    want = _theil_sen_oracle(pdf)
    for df in (got, want):
        df.sort_values("user_id", inplace=True, ignore_index=True)
    assert len(got) == len(want) and len(got) > 0
    # the 1-point series (user 91) must be skipped
    assert 91 not in set(got.user_id)
    for c in want.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_theil_sen_ignores_outliers(spark):
    """20% wild outliers on an exact line: the median-of-slopes trend
    recovers the true slope exactly (the breakdown point is ~29%)."""
    from ts2g2_spark.operators.seriesstats import theil_sen_trend

    hours = np.arange(20)
    vals = 2.5 * hours + 4.0
    vals[[3, 8, 13, 17]] += np.array([500.0, -900.0, 777.0, -321.0])
    pdf = pd.DataFrame({
        "user_id": 1,
        "ts": [BASE + dt.timedelta(hours=int(h)) for h in hours],
        "value": vals,
    })
    got = theil_sen_trend(spark.createDataFrame(pdf)).collect()
    assert len(got) == 1
    # slope per epoch-HOUR equals the construction slope exactly
    assert got[0].slope == 2.5


def test_mann_kendall_matches_scalar_oracle(spark):
    from ts2g2_spark.operators.seriesstats import mann_kendall

    pdf = _events(seed=13, n=600, n_keys=7)
    got = mann_kendall(
        spark.createDataFrame(pdf[["user_id", "ts", "value"]])).toPandas()
    # scalar reference
    rows = []
    p2 = pdf.copy()
    p2["b"] = p2["ts"].dt.floor("h")
    for u, g in p2.groupby("user_id"):
        m = g.groupby("b")["value"].mean().round(6).sort_index()
        y = m.to_numpy()
        n = len(y)
        if n < 2:
            continue
        i, j = np.triu_indices(n, 1)
        s = int(np.sign(y[j] - y[i]).sum())
        _, tc = np.unique(y, return_counts=True)
        t = tc[tc > 1].astype(np.int64)
        var_s = (n * (n - 1) * (2 * n + 5)
                 - int((t * (t - 1) * (2 * t + 5)).sum())) / 18.0
        if s == 0:
            z = 0.0
        else:
            z = float(np.floor(((s - 1 if s > 0 else s + 1)
                                / np.sqrt(var_s)) * 1e9 + 0.5) / 1e9) + 0.0
        trend = ("no trend" if abs(z) <= 1.96
                 else "increasing" if z > 0 else "decreasing")
        rows.append((u, n, s, var_s, z, trend))
    want = pd.DataFrame(rows, columns=[
        "user_id", "n_buckets", "s_stat", "var_s", "z", "trend"])
    for df in (got, want):
        df.sort_values("user_id", inplace=True, ignore_index=True)
    assert len(got) == len(want) and len(got) > 0
    # user 90 (constant series, 6 points in one bucket) collapses to 1
    # bucket -> skipped; user 91 single point -> skipped
    assert not {90, 91} & set(got.user_id)
    for c in want.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_mann_kendall_detects_monotonic_trend(spark):
    from ts2g2_spark.operators.seriesstats import mann_kendall

    hours = np.arange(24)
    pdf = pd.DataFrame({
        "user_id": [1] * 24 + [2] * 24,
        "ts": [BASE + dt.timedelta(hours=int(h)) for h in hours] * 2,
        "value": np.concatenate([
            hours.astype(float),            # strictly increasing
            np.full(24, 5.0),               # constant (all ties)
        ]),
    })
    got = {r.user_id: r for r in mann_kendall(
        spark.createDataFrame(pdf)).collect()}
    assert got[1].trend == "increasing"
    assert got[1].s_stat == 24 * 23 // 2  # every pair ascending
    assert got[2].trend == "no trend" and got[2].z == 0.0 \
        and got[2].s_stat == 0


def test_decompose_strength_classifies_signals(spark):
    """Pure period-24 sinusoid -> seasonal_strength ~1, trend ~weak;
    steep line + small noise -> trend_strength ~1; strengths recompute
    from the decompose output exactly."""
    from ts2g2_spark.operators.seriesstats import (
        decompose_strength, seasonal_decompose,
    )

    rng = np.random.default_rng(3)
    n = 24 * 6
    hours = np.arange(n)
    pdf = pd.concat([
        pd.DataFrame({
            "user_id": 1,
            "ts": [BASE + dt.timedelta(hours=int(h)) for h in hours],
            "value": 10 * np.sin(2 * np.pi * hours / 24)
            + rng.normal(0, 0.1, n),
        }),
        pd.DataFrame({
            "user_id": 2,
            "ts": [BASE + dt.timedelta(hours=int(h)) for h in hours],
            "value": 3.0 * hours + rng.normal(0, 0.5, n),
        }),
    ], ignore_index=True)
    df = spark.createDataFrame(pdf)
    got = {r.user_id: r for r in decompose_strength(
        df, 24, series_cols=["user_id"]).collect()}
    assert got[1].seasonal_strength > 0.99
    assert got[2].trend_strength > 0.99
    assert got[2].seasonal_strength < 0.6

    dec = seasonal_decompose(df, 24, series_cols=["user_id"]).toPandas()
    dec = dec[dec.resid.notna()]
    for u in (1, 2):
        g = dec[dec.user_id == u]
        vr = g.resid.var(ddof=1)
        fs = max(0.0, round(1 - vr / (g.seasonal + g.resid).var(ddof=1), 6))
        ft = max(0.0, round(1 - vr / (g.trend + g.resid).var(ddof=1), 6))
        assert got[u].seasonal_strength == pytest.approx(fs, abs=2e-6)
        assert got[u].trend_strength == pytest.approx(ft, abs=2e-6)
        assert got[u].n_rows == len(g)


def _mp_brute(x, m, excl):
    """Brute-force z-normalized matrix profile (loops, stumpy rules)."""
    n = len(x)
    p = n - m + 1
    out = []
    for i in range(p):
        a = x[i:i + m]
        sa = a.std()
        best, bj = None, None
        for j in range(p):
            if abs(i - j) <= excl:
                continue
            b = x[j:j + m]
            sb = b.std()
            if sa <= 1e-12 and sb <= 1e-12:
                d = 0.0
            elif sa <= 1e-12 or sb <= 1e-12:
                d = math.sqrt(m)
            else:
                za = (a - a.mean()) / sa
                zb = (b - b.mean()) / sb
                d = float(np.sqrt(((za - zb) ** 2).sum()))
            if best is None or d < best - 1e-9:
                best, bj = d, j
        out.append((i, bj, best))
    return out


def test_matrix_profile_matches_bruteforce(spark):
    from ts2g2_spark.operators.seriesstats import matrix_profile

    rng = np.random.default_rng(7)
    base = np.sin(np.arange(60) / 3.0)
    x = base + rng.normal(0, 0.1, 60)
    x[20:28] = x[2:10]  # planted motif pair
    pdf = pd.DataFrame({
        "user_id": [1] * 60,
        "event_id": np.arange(60),
        "ts": pd.date_range("2024-01-01", periods=60, freq="h"),
        "value": x,
    })
    m = 8
    got = {r["pos"]: r for r in matrix_profile(
        spark.createDataFrame(pdf), m=m,
        order_col="event_id").collect()}
    excl = max(1, m // 4)
    for i, bj, best in _mp_brute(x, m, excl):
        assert got[i]["dist"] == pytest.approx(best, abs=1e-6), i
    # the planted pair is each other's nearest neighbor
    assert got[2]["nn_pos"] == 20 and got[20]["nn_pos"] == 2
    assert got[2]["dist"] < 0.1 * math.sqrt(m)


def test_matrix_profile_constants_and_edges(spark):
    from ts2g2_spark.operators.seriesstats import matrix_profile

    # constant series: all-constant subsequences -> dist 0 everywhere
    pdf = pd.DataFrame({
        "user_id": [1] * 20,
        "event_id": np.arange(20),
        "ts": pd.date_range("2024-01-01", periods=20, freq="h"),
        "value": [5.0] * 20,
    })
    rows = matrix_profile(spark.createDataFrame(pdf), m=4,
                          order_col="event_id").collect()
    assert len(rows) == 17 and all(r["dist"] == 0.0 for r in rows)
    # series shorter than m + exclusion yields no rows, not an error
    short = spark.createDataFrame(pdf.head(4))
    assert matrix_profile(short, m=4, order_col="event_id").count() == 0
    with pytest.raises(ValueError, match="m must be"):
        matrix_profile(None, m=2)
    # the quadratic guard raises loudly inside the kernel
    with pytest.raises(Exception, match="max_subsequences"):
        matrix_profile(spark.createDataFrame(pdf), m=4,
                       order_col="event_id",
                       max_subsequences=5).count()


def test_matrix_profile_exclusion_zone_no_neighbor(spark):
    """A subsequence with no candidate outside the exclusion zone gets
    nn_pos=-1, dist=inf (stumpy convention) — never a bogus index 0."""
    from ts2g2_spark.operators.seriesstats import matrix_profile

    # m=4, excl=1, n=5 -> p=2 and |i-j|=1 <= excl for the only pair
    pdf = pd.DataFrame({
        "user_id": [1] * 5,
        "event_id": np.arange(5),
        "ts": pd.date_range("2024-01-01", periods=5, freq="h"),
        "value": [1.0, 5.0, 2.0, 8.0, 3.0],
    })
    rows = matrix_profile(spark.createDataFrame(pdf), m=4,
                          order_col="event_id").collect()
    assert len(rows) == 2
    assert all(r["nn_pos"] == -1 and math.isinf(r["dist"])
               for r in rows)
    # interior edge rows of a longer series with a wide exclusion zone
    pdf2 = pd.DataFrame({
        "user_id": [1] * 22,
        "event_id": np.arange(22),
        "ts": pd.date_range("2024-01-01", periods=22, freq="h"),
        "value": np.sin(np.arange(22)).tolist(),
    })
    got = {r["pos"]: r for r in matrix_profile(
        spark.createDataFrame(pdf2), m=16, exclusion=4,
        order_col="event_id").collect()}
    # p=7; pos=3 has all |3-j|<=4 -> no neighbor
    assert got[3]["nn_pos"] == -1 and math.isinf(got[3]["dist"])
    # pos=0 can still reach j in {5,6}
    assert got[0]["nn_pos"] in (5, 6) and math.isfinite(got[0]["dist"])


def _pelt_brute(y, beta, msz=2):
    """Exhaustive O(n^2) optimal-partition DP (no pruning) — the
    specification PELT must equal exactly."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    s1 = np.concatenate([[0.0], np.cumsum(y)])
    s2 = np.concatenate([[0.0], np.cumsum(y * y)])

    def cost(s, t):
        d = s1[t] - s1[s]
        return (s2[t] - s2[s]) - d * d / (t - s)

    INF = float("inf")
    Fv = [INF] * (n + 1)
    Fv[0] = -beta
    prev = [0] * (n + 1)
    for t in range(msz, n + 1):
        for s in range(0, t - msz + 1):
            if Fv[s] == INF:
                continue
            v = Fv[s] + cost(s, t) + beta
            if v < Fv[t]:
                Fv[t], prev[t] = v, s
    bounds, t = [n], n
    while t > 0:
        t = prev[t]
        bounds.append(t)
    b = bounds[::-1]
    return list(zip(b[:-1], b[1:]))


def test_pelt_matches_exhaustive_dp(spark):
    """PELT's pruned DP returns the identical optimal segmentation as
    the exhaustive O(n^2) DP on random series with planted shifts."""
    from ts2g2_spark.operators.seriesstats import pelt_changepoints

    rng = np.random.default_rng(13)
    frames = []
    for u in range(6):
        n = 80
        y = rng.normal(0, 1, n)
        # plant 0-2 mean shifts at random positions
        for pos in sorted(rng.integers(10, n - 10, rng.integers(0, 3))):
            y[pos:] += rng.choice([-4.0, 4.0])
        frames.append(pd.DataFrame({
            "user_id": u, "event_id": np.arange(n),
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "value": y}))
    pdf = pd.concat(frames, ignore_index=True)
    beta = 8.0
    got = pelt_changepoints(
        spark.createDataFrame(pdf), penalty=beta,
        order_col="event_id").toPandas()
    for u, g in pdf.groupby("user_id"):
        segs = [(r.start_pos, r.end_pos) for _, r in
                got[got.user_id == u].sort_values("seg_id").iterrows()]
        want = _pelt_brute(g.sort_values("event_id")["value"], beta)
        assert segs == want, u


def test_pelt_planted_shifts_and_edges(spark):
    from ts2g2_spark.operators.seriesstats import pelt_changepoints

    rng = np.random.default_rng(4)
    y = np.concatenate([rng.normal(0, 0.3, 50),
                        rng.normal(5, 0.3, 50),
                        rng.normal(0, 0.3, 50)])
    pdf = pd.DataFrame({
        "user_id": 1, "event_id": np.arange(150),
        "ts": pd.date_range("2024-01-01", periods=150, freq="h"),
        "value": y})
    sdf = spark.createDataFrame(pdf)
    out = (pelt_changepoints(sdf, penalty=5.0, order_col="event_id")
           .toPandas().sort_values("seg_id", ignore_index=True))
    assert list(out.start_pos) == [0, 50, 100]
    assert list(out.end_pos) == [50, 100, 150]
    assert abs(out.seg_mean[1] - 5.0) < 0.2
    # huge penalty -> one segment; mean == series mean
    one = pelt_changepoints(sdf, penalty=1e9,
                            order_col="event_id").toPandas()
    assert len(one) == 1 and one.start_pos[0] == 0
    assert one.end_pos[0] == 150
    # constant series -> one zero-cost segment
    cpdf = pdf.assign(value=3.0)
    c = pelt_changepoints(spark.createDataFrame(cpdf), penalty=0.1,
                          order_col="event_id").toPandas()
    assert len(c) == 1 and c.seg_cost[0] == 0.0 and c.seg_mean[0] == 3.0
    with pytest.raises(ValueError):
        pelt_changepoints(sdf, penalty=0.0)
    # series shorter than min_size: one fallback segment
    short = spark.createDataFrame(pdf.head(1))
    s = pelt_changepoints(short, penalty=1.0,
                          order_col="event_id").toPandas()
    assert len(s) == 1 and s.n_points[0] == 1


def test_rolling_quantile_matches_numpy(spark):
    """Trailing-window quantile == numpy linear interpolation over the
    same RANGE window; points outside the window age out; equal-ts
    peers are all in-frame."""
    from ts2g2_spark.operators.seriesstats import rolling_quantile

    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-01 00:20:00", 30.0),
        (1, "2024-01-01 00:20:00", 20.0),   # equal-ts peer
        (1, "2024-01-01 00:50:00", 40.0),
        (1, "2024-01-01 01:30:00", 5.0),    # first two aged out
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    out = (rolling_quantile(spark.createDataFrame(pdf), q=0.5,
                            window_s=3600)
           .toPandas().sort_values(["ts", "value"], ignore_index=True))
    wins = [[10.0], [10, 20, 30], [10, 20, 30], [10, 20, 30, 40],
            [40, 5]]
    # row order after sort: ts asc then value asc -> peer rows 1,2 are
    # (20.0) then (30.0); windows identical for both peers
    expect = [float(np.quantile(np.array(w, float), 0.5)) for w in
              [[10.0], [10, 20, 30], [10, 20, 30], [10, 20, 30, 40],
               [5, 40]]]
    assert list(out.n_window) == [1, 3, 3, 4, 2]
    for got, want in zip(out["quantile"], expect):
        assert got == pytest.approx(want, abs=1e-6)
    with pytest.raises(ValueError):
        rolling_quantile(spark.createDataFrame(pdf), q=1.5)


def test_pelt_pruning_validity_delay():
    """The undelayed textbook prune is UNSOUND for min_size >= 2 (a
    candidate dominated only via a not-yet-valid changepoint must
    survive min_size-1 more steps): the minimal counterexample plus a
    cross-min_size fuzz against the exhaustive DP — no Spark needed
    (module-level pure DP)."""
    from ts2g2_spark.operators.kernels import _pelt_segments

    # minimal counterexample: undelayed pruning drops s=0 at t=4 and
    # returns [(0,2),(2,5)] (cost 11.667) instead of [(0,5)] (10.8)
    got, _, _ = _pelt_segments([1, -1, -1, -2, 2], 1.0, 2)
    assert got == _pelt_brute([1, -1, -1, -2, 2], 1.0, 2) == [(0, 5)]

    rng = np.random.default_rng(99)
    for msz in (1, 2, 3):
        for _ in range(200):
            n = int(rng.integers(msz, 24))
            y = rng.normal(0, 1, n)
            if rng.random() < 0.5 and n > 6:
                y[int(rng.integers(2, n - 2)):] += rng.choice([-3.0, 3.0])
            beta = float(rng.choice([0.5, 1.0, 4.0, 10.0]))
            g, _, _ = _pelt_segments(y, beta, msz)
            assert g == _pelt_brute(y, beta, msz), (msz, beta, list(y))
