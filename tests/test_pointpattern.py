"""Brute-force numpy oracles for the point-pattern statistics (Ripley's
K/L ladder, Knox space-time test).  The driver-contract oracle shares
the closed-form SQL with the engine by construction; here every pair
count is recomputed from ALL O(n^2) haversine/time deltas in numpy —
including antimeridian-straddling pairs, which exercise the wrapped
ring."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators import pointpattern as pp

RES = 6
LAT_MAX = 60.0


def _cloud(n=1500, seed=11):
    rng = np.random.default_rng(seed)
    lon = np.concatenate(
        [
            rng.normal(20.0, 1.0, n // 3),          # dense blob
            rng.normal(179.9, 0.8, n // 3),         # straddles the antimeridian
            rng.uniform(-179.0, 179.0, n - 2 * (n // 3)),
        ]
    )
    lon = ((lon + 180.0) % 360.0) - 180.0
    lat = np.concatenate(
        [
            rng.normal(10.0, 1.0, n // 3),
            rng.normal(55.0, 0.7, n // 3),
            rng.uniform(-75.0, 75.0, n - 2 * (n // 3)),
        ]
    )
    lat = np.clip(lat, -85.0, 85.0)
    base = 1_700_000_000_000_000
    us = base + rng.integers(0, 30 * 86_400_000_000, n)
    return pd.DataFrame(
        {"event_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat, "us": us}
    )


def _hav_matrix(lon, lat):
    la = np.radians(lat)[:, None]
    lb = np.radians(lat)[None, :]
    dla = lb - la
    dlo = np.radians(lon)[None, :] - np.radians(lon)[:, None]
    h = np.sin(dla / 2) ** 2 + np.cos(la) * np.cos(lb) * np.sin(dlo / 2) ** 2
    return 2.0 * 6371008.8 * np.arcsin(np.minimum(np.sqrt(h), 1.0))


def _window(pdf):
    return pdf[np.abs(pdf["lat"]) <= LAT_MAX].reset_index(drop=True)


def test_ripley_k_matches_bruteforce(spark):
    pdf = _cloud()
    df = spark.createDataFrame(pdf)
    dists = (25_000.0, 50_000.0, 100_000.0, 200_000.0)
    got = {r["d_m"]: r for r in pp.ripley_k(df, dists, res=RES, lat_max=LAT_MAX).collect()}
    w = _window(pdf)
    n = len(w)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    iu = np.triu_indices(n, k=1)
    pair_d = dm[iu]
    area = pp.band_area_m2(LAT_MAX)
    assert set(got) == {int(d) for d in dists}
    prev = 0.0
    for d in dists:
        cnt = int((pair_d <= d).sum())
        ring = cnt - int((pair_d <= prev).sum())
        k = area * 2.0 * cnt / (n * (n - 1))
        g = area * 2.0 * ring / (n * (n - 1)) / (math.pi * (d * d - prev * prev))
        row = got[int(d)]
        assert row["pairs"] == cnt and row["ring_pairs"] == ring
        assert row["d_prev"] == int(prev)
        assert row["k_hat_m2"] == pytest.approx(k, abs=2)
        assert row["l_hat_mm"] == pytest.approx(math.sqrt(k / math.pi) * 1000, abs=2)
        assert row["g_hat_x1e6"] == pytest.approx(g * 1e6, abs=2)
        prev = d
    # the ladder is cumulative and the blobs force clustering: K(200km)
    # must far exceed the CSR expectation pi*d^2
    assert got[200_000]["k_hat_m2"] > math.pi * 200_000.0**2


def test_cross_k_matches_bruteforce(spark):
    pdf = _cloud(n=1400, seed=9)
    pa = pdf[pdf["event_id"] % 2 == 0]
    pb = pdf[pdf["event_id"] % 2 == 1]
    dists = (50_000.0, 100_000.0)
    got = {
        r["d_m"]: r
        for r in pp.cross_k(
            spark.createDataFrame(pa), spark.createDataFrame(pb),
            dists, res=RES, lat_max=LAT_MAX,
        ).collect()
    }
    wa, wb = _window(pa), _window(pb)
    na, nb = len(wa), len(wb)
    la, laa = wa["lon"].to_numpy(), wa["lat"].to_numpy()
    lb, lbb = wb["lon"].to_numpy(), wb["lat"].to_numpy()
    # cross haversine matrix
    ra, rb = np.radians(laa)[:, None], np.radians(lbb)[None, :]
    dlo = np.radians(lb)[None, :] - np.radians(la)[:, None]
    h = np.sin((rb - ra) / 2) ** 2 + np.cos(ra) * np.cos(rb) * np.sin(dlo / 2) ** 2
    dm = 2.0 * 6371008.8 * np.arcsin(np.minimum(np.sqrt(h), 1.0))
    area = pp.band_area_m2(LAT_MAX)
    for d in dists:
        cnt = int((dm <= d).sum())
        k = area * cnt / (na * nb)
        row = got[int(d)]
        assert row["pairs"] == cnt
        assert row["k_ab_m2"] == pytest.approx(k, abs=2)
        assert row["l_ab_mm"] == pytest.approx(math.sqrt(k / math.pi) * 1000, abs=2)


def test_nn_g_function_matches_bruteforce(spark):
    pdf = _cloud(n=1000, seed=21)
    got = {
        r["d_m"]: r
        for r in pp.nn_g_function(
            spark.createDataFrame(pdf), (10_000.0, 25_000.0, 50_000.0, 100_000.0),
            res=RES, lat_max=LAT_MAX,
        ).collect()
    }
    w = _window(pdf)
    n = len(w)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    np.fill_diagonal(dm, np.inf)
    nnd = dm.min(axis=1)
    for d in (10_000.0, 25_000.0, 50_000.0, 100_000.0):
        n_le = int((nnd <= d).sum())
        row = got[int(d)]
        assert row["n_le"] == n_le and row["n"] == n
        assert row["g_x1e6"] == pytest.approx(n_le / n * 1e6, abs=2)


def test_knox_matches_bruteforce(spark):
    pdf = _cloud(n=1200, seed=5)
    df = spark.createDataFrame(pdf).select(
        "event_id", "lon", "lat", F.expr("timestamp_micros(us)").alias("ts")
    )
    dist_m, dt_s = 100_000.0, 2 * 86_400
    row = pp.knox_test(df, dist_m=dist_m, dt_s=dt_s, res=RES, lat_max=LAT_MAX).collect()[0]
    w = _window(pdf)
    n = len(w)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    us = w["us"].to_numpy()
    dt = np.abs(us[:, None] - us[None, :])
    iu = np.triu_indices(n, k=1)
    close_s = dm[iu] <= dist_m
    close_t = dt[iu] <= dt_s * 1_000_000
    s, t, x = int(close_s.sum()), int(close_t.sum()), int((close_s & close_t).sum())
    assert (row["n"], row["space_pairs"], row["time_pairs"], row["st_pairs"]) == (
        n, s, t, x,
    )
    e = s * t / (n * (n - 1) / 2.0)
    assert row["knox_e_x1e6"] == pytest.approx(e * 1e6, abs=2)
    assert row["knox_z_x1e6"] == pytest.approx((x - e) / math.sqrt(e) * 1e6, abs=2)


def test_haversine_sql_text_matches_oracle_template(spark):
    """One haversine text: the engine, the point-pattern module and the
    DuckDB oracle all reference geo.kernels.HAVERSINE_M_SQL, and Spark's
    evaluation of it tracks the numpy kernel (the independent oracle) on
    random, antipodal, polar and +/-180 pairs."""
    from geomesa_spark import entry_queries
    from geomesa_spark.geo import kernels

    assert pp.HAVERSINE_M_SQL is kernels.HAVERSINE_M_SQL
    assert entry_queries._HAVERSINE is kernels.HAVERSINE_M_SQL

    rng = np.random.default_rng(5)
    n = 10_000
    lon1, lat1 = rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)
    lon2, lat2 = rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)
    k = n // 10
    lon2[:k] = ((lon1[:k] + 360.0) % 360.0) - 180.0     # antipodal
    lat2[:k] = -lat1[:k]
    lat1[k:2 * k] = rng.choice([-90.0, 90.0], k)         # poles
    lat2[2 * k:3 * k] = rng.uniform(89.0, 90.0, k)       # near-polar
    lon1[3 * k:4 * k] = 180.0                            # +/-180 seam
    lon2[3 * k:4 * k] = -180.0 + rng.uniform(0.0, 1.0, k)
    lon1[4 * k:5 * k] = -180.0
    lon2[4 * k:5 * k] = 180.0
    lat2[4 * k:5 * k] = lat1[4 * k:5 * k]                # same point, 0 m
    pdf = pd.DataFrame({"i": np.arange(n), "lon1": lon1, "lat1": lat1,
                        "lon2": lon2, "lat2": lat2})
    got = (
        spark.createDataFrame(pdf)
        .select("i", F.expr(kernels.HAVERSINE_M_SQL.format(
            lon1="lon1", lat1="lat1", lon2="lon2", lat2="lat2")).alias("d"))
        .toPandas().sort_values("i")["d"].to_numpy()
    )
    exp = kernels.haversine_m(lon1, lat1, lon2, lat2)
    delta = np.abs(got - exp)
    # JVM trig may differ from libm in the last ulp, so no bit-equality
    # assert; the count is reported for the record.  Near the antipode
    # asin's slope 1/sqrt(1-h) turns one ulp of h into up to 0.2 m (past
    # 1e-6 m within ~20 km of it; 50 km margin here), so there the two
    # must agree on h itself instead.
    r = kernels.EARTH_RADIUS_M
    near_antipode = np.pi * r - exp < 50_000.0
    print(f"haversine SQL vs numpy: {int((got != exp).sum())}/{n} pairs not "
          f"bit-equal, max |delta| {delta[~near_antipode].max():.3e} m "
          f"({int(near_antipode.sum())} near-antipodal pairs: max |delta| "
          f"{delta[near_antipode].max():.3e} m)")
    assert delta[~near_antipode].max() <= 1e-6
    h_got = np.sin(got[near_antipode] / (2.0 * r)) ** 2
    h_exp = np.sin(exp[near_antipode] / (2.0 * r)) ** 2
    assert np.abs(h_got - h_exp).max() <= 4 * np.spacing(1.0)


def test_ring_cover_guard():
    with pytest.raises(ValueError):
        pp.ripley_k(None, (500_000.0,), res=6, lat_max=60.0)
    with pytest.raises(ValueError):
        pp.knox_test(None, dist_m=200_000.0, res=6, lat_max=80.0)


def _lon_span_deg(d_m, lat):
    """Longitude span of two points on latitude ``lat`` that are exactly
    ``d_m`` apart (great circle)."""
    r = 6371008.8
    return math.degrees(2.0 * math.asin(math.sin(d_m / (2.0 * r)) / math.cos(math.radians(lat))))


def test_ring_cover_guard_great_circle_bound(spark):
    """The +/-1-ring guard uses the great-circle longitude span, not the
    linear arc.  At res 6 / lat 60 the linear bound admitted d up to
    312.7 km, where a pair on the band edge spans 2 cell columns (the
    ring misses it, and the DuckDB oracle shares the ring, so only numpy
    brute force shows it).  Just inside the exact bound every pair is
    found."""
    cell_lon = 360.0 / (1 << RES)
    d_linear = cell_lon * math.pi * 6371008.8 / 180.0 * math.cos(math.radians(LAT_MAX))
    d_bad = 312_700.0
    assert d_bad < d_linear  # the old linear guard accepted it
    # brute force: a within-d_bad pair on lat 60, two cell columns apart
    b = 5 * cell_lon - 180.0
    a_lon, b_lon = b - 0.0004, b - 0.0004 + 5.6258
    assert _hav_matrix(np.array([a_lon, b_lon]), np.array([60.0, 60.0]))[0, 1] <= d_bad
    col = np.floor((np.array([a_lon, b_lon]) + 180.0) / cell_lon)
    assert col[1] - col[0] == 2
    with pytest.raises(ValueError):
        pp.ripley_k(None, (d_bad,), res=RES, lat_max=LAT_MAX)

    # exact bound: the span equals one cell width; whole metres (the
    # ladder compares at int(d)) just inside it
    d_ok = float(math.floor(2.0 * 6371008.8 * math.asin(
        math.cos(math.radians(LAT_MAX)) * math.sin(math.radians(cell_lon / 2.0))
    )) - 1)
    span = _lon_span_deg(d_ok, LAT_MAX)
    assert span <= cell_lon
    rng = np.random.default_rng(3)
    m = 80
    cols = rng.integers(0, 1 << RES, m)
    a = (cols * cell_lon - 180.0) - rng.uniform(0.0, 0.002, m)
    lon = np.concatenate([a, a + span * (1.0 - 1e-9)])
    lon = ((lon + 180.0) % 360.0) - 180.0
    lat = np.full(2 * m, LAT_MAX)
    pdf = pd.DataFrame({"event_id": np.arange(2 * m, dtype=np.int64), "lon": lon, "lat": lat})
    dm = _hav_matrix(lon, lat)
    iu = np.triu_indices(2 * m, k=1)
    exp = int((dm[iu] <= d_ok).sum())
    near = int(((dm[iu] <= d_ok) & (dm[iu] > d_ok - 1.0)).sum())
    assert near >= m // 2  # the fixture really sits at the bound
    row = pp.ripley_k(spark.createDataFrame(pdf), (d_ok,), res=RES, lat_max=LAT_MAX).collect()[0]
    assert row["pairs"] == exp


def test_pointpattern_plan_shape(spark):
    """No cartesian/nested-loop over the point-scale sides: the pair
    stage must be an equi-join on the packed key (the only broadcast
    nested loops allowed are the scalar crossJoins)."""
    pdf = _cloud(n=400)
    df = spark.createDataFrame(pdf)
    plan = (
        pp.ripley_k(df, (50_000.0,), res=RES, lat_max=LAT_MAX)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
