"""filters.reprojection parity: numpy oracle, drop-on-failure, roundtrip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdal_spark import geo, synth
from pdal_spark.operators import reprojection as rp


def test_forward_matches_numpy(spark):
    df = synth.synth_points(spark, 300)
    out = rp.reproject(df, "EPSG:4326", "EPSG:3857").toPandas().sort_values("page_id")
    ids = np.arange(300)
    xs, ys = geo.geocode_lcg_np(ids)
    mx, my, ok = rp.reproject_np(xs, ys)
    assert list(out["page_id"]) == list(ids[ok])
    np.testing.assert_allclose(out["x"], mx, rtol=1e-12)
    np.testing.assert_allclose(out["y"], my, rtol=1e-12)


def test_drop_on_failure(spark):
    rows = [(0, 0.0, 89.9), (1, 10.0, 45.0), (2, -5.0, -89.0), (3, 7.0, 85.0)]
    df = spark.createDataFrame(rows, "page_id long, x double, y double")
    out = rp.reproject(df, "EPSG:4326", "EPSG:3857").toPandas()
    # lat 89.9 and -89.0 are beyond the Mercator cutoff (85.051...) -> dropped
    assert set(out["page_id"]) == {1, 3}


def test_roundtrip_identity(spark):
    df = synth.synth_points(spark, 200).filter(
        (F.col("y") > -85.0) & (F.col("y") < 85.0)
    )
    back = rp.reproject(
        rp.reproject(df, "EPSG:4326", "EPSG:3857"), "EPSG:3857", "EPSG:4326"
    ).toPandas().sort_values("page_id")
    orig = df.toPandas().sort_values("page_id")
    np.testing.assert_allclose(back["x"], orig["x"], atol=1e-9)
    np.testing.assert_allclose(back["y"], orig["y"], atol=1e-9)


def test_unknown_pair_raises(spark):
    df = synth.synth_points(spark, 5)
    # UTM zones and the LCC registry are built-in now — an unregistered
    # projected CRS (OSGB, EPSG:27700) still routes to the pyproj-
    # kernel error
    with pytest.raises(ValueError, match="no built-in transform"):
        rp.reproject(df, "EPSG:4326", "EPSG:27700")


@pytest.mark.parametrize("srs, lon0", [
    ("EPSG:32631", 3.0),
    ("EPSG:2154", rp._LCC["EPSG:2154"].lon0),
    ("EPSG:3347", rp._LCC["EPSG:3347"].lon0),
])
def test_forward_drop_rules_match_numpy(spark, srs, lon0):
    """Forward pairs keep reproject_np's domain, not the projpipeline
    steps' masks: UTM keeps |lat| < 85.0511 where its step keeps
    |lat| < 85.5; LCC keeps |dlon| < 90 and |lat| < 89.5 where its step
    keeps |dlon| < 60 and |lat| < 89."""
    from pdal_spark.operators import projpipeline as pp

    lats = [-89.7, -89.2, -85.3, -40.0, 0.0, 45.0, 85.3, 89.2, 89.7]
    dlons = [-95.0, -75.0, -50.0, -1.0, 0.0, 2.0, 50.0, 75.0, 95.0]
    xs = np.array([lon0 + d for d in dlons for _ in lats])
    ys = np.array([la for _ in dlons for la in lats])
    ids = np.arange(xs.size)
    e, n, ok = rp.reproject_np(xs, ys, "EPSG:4326", srs)
    steps, _, _ = rp._route("EPSG:4326", srs)
    _, _, _, step_ok = pp._apply(pp._NpB, steps, xs, ys, 0.0 * xs, False)
    assert (step_ok != ok).any()  # the inputs tell the two rules apart

    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(ids, xs, ys)],
        "page_id long, x double, y double")
    out = rp.reproject(df, "EPSG:4326", srs).toPandas().sort_values("page_id")
    assert list(out.page_id) == list(ids[ok])
    np.testing.assert_allclose(out.x, e, rtol=1e-12)
    np.testing.assert_allclose(out.y, n, rtol=1e-12)


# --- UTM (EPSG:326xx/327xx) --------------------------------------------------


def test_utm_meridian_arc_independent_oracle():
    """Northing on the central meridian == k0 * meridian arc, where the
    arc comes from direct numeric integration of the ellipsoid integral
    — independent of the Snyder series the kernel uses."""
    import math

    import numpy as np

    from pdal_spark.operators import reprojection as rp

    a, e2 = 6378137.0, rp._E2

    def arc(phi_deg):
        t = np.linspace(0, math.radians(phi_deg), 400001)
        f = a * (1 - e2) / np.power(1 - e2 * np.sin(t) ** 2, 1.5)
        return np.trapz(f, t)

    for lat in (15.0, 45.0, 70.0):
        _, n, _ = rp.reproject_np(
            np.array([3.0]), np.array([lat]), "EPSG:4326", "EPSG:32631"
        )
        assert abs(n[0] - 0.9996 * arc(lat)) < 1e-2
    # equator/CM anchor + symmetry about the CM
    e, n, _ = rp.reproject_np(np.array([3.0]), np.array([0.0]),
                              "EPSG:4326", "EPSG:32631")
    assert e[0] == 500000.0 and n[0] == 0.0
    e1, n1, _ = rp.reproject_np(np.array([5.0]), np.array([40.0]),
                                "EPSG:4326", "EPSG:32631")
    e2_, n2, _ = rp.reproject_np(np.array([1.0]), np.array([40.0]),
                                 "EPSG:4326", "EPSG:32631")
    assert abs((e1[0] - 500000.0) - (500000.0 - e2_[0])) < 1e-9
    assert n1[0] == n2[0]


def test_utm_spark_matches_numpy_and_drops(spark):
    import numpy as np
    import pandas as pd

    from pdal_spark import geo as geo_mod
    from pdal_spark.operators import reprojection as rp

    ids = np.arange(300)
    xs, ys = geo_mod.geocode_lcg_np(ids)
    df = spark.createDataFrame(pd.DataFrame({"page_id": ids, "x": xs, "y": ys}))
    out = (
        rp.reproject(df, "EPSG:4326", "EPSG:32631")
        .toPandas().sort_values("page_id")
    )
    ee, nn, ok = rp.reproject_np(xs, ys, "EPSG:4326", "EPSG:32631")
    assert list(out.page_id) == list(ids[ok])  # drop-on-failure rows
    np.testing.assert_allclose(out.x, ee, rtol=0, atol=1e-6)
    np.testing.assert_allclose(out.y, nn, rtol=0, atol=1e-6)


def test_utm_south_zone_false_northing():
    import numpy as np

    from pdal_spark.operators import reprojection as rp

    _, n_n, _ = rp.reproject_np(np.array([3.0]), np.array([-30.0]),
                                "EPSG:4326", "EPSG:32631")
    _, n_s, _ = rp.reproject_np(np.array([3.0]), np.array([-30.0]),
                                "EPSG:4326", "EPSG:32731")
    assert abs((n_s[0] - n_n[0]) - 10000000.0) < 1e-6


def test_proj_pipeline_chain(spark):
    """Chained reprojection: 4326 -> 3857 -> 4326 -> UTM31N equals the
    direct UTM transform (round-trip via Mercator is closed-form exact
    up to fp)."""
    import numpy as np
    import pandas as pd

    from pdal_spark import geo as geo_mod

    ids = np.arange(200)
    xs, ys = geo_mod.geocode_lcg_np(ids)
    df = spark.createDataFrame(pd.DataFrame({"page_id": ids, "x": xs, "y": ys}))
    chained = df
    for in_srs, out_srs in [("EPSG:4326", "EPSG:3857"),
                            ("EPSG:3857", "EPSG:4326"),
                            ("EPSG:4326", "EPSG:32631")]:
        chained = rp.reproject(chained, in_srs, out_srs)
    chained = chained.toPandas().sort_values("page_id")
    direct = rp.reproject(df, "EPSG:4326", "EPSG:32631") \
        .toPandas().sort_values("page_id")
    # chained drops |lat|>=85.05 rows first (Mercator stage), direct does
    # too (UTM ok-gate includes the same cutoff) -> same row set
    assert list(chained.page_id) == list(direct.page_id)
    np.testing.assert_allclose(chained.x, direct.x, atol=1e-6)
    np.testing.assert_allclose(chained.y, direct.y, atol=1e-6)


# --- Lambert conformal conic (EPSG:2154 / EPSG:3347) -------------------------


def test_lcc_scale_factor_independent_oracle():
    """Conformal-property oracle, independent of the Snyder constants:
    the local scale along the central meridian (finite-difference
    projected distance over the numerically-integrated ellipsoid
    meridian arc) must be exactly 1 at BOTH standard parallels, < 1
    between them, > 1 outside — the defining property of a secant
    conic."""
    import math

    import numpy as np

    p = rp._LCC["EPSG:2154"]
    a, e2 = p.a, p.e2

    def arc(lo, hi):
        t = np.linspace(math.radians(lo), math.radians(hi), 200001)
        f = a * (1 - e2) / np.power(1 - e2 * np.sin(t) ** 2, 1.5)
        return np.trapz(f, t)

    def k_at(lat):
        d = 0.001
        (e1, n1, _) = rp.reproject_np(
            np.array([p.lon0]), np.array([lat - d / 2]),
            "EPSG:4326", "EPSG:2154")
        (e2_, n2, _) = rp.reproject_np(
            np.array([p.lon0]), np.array([lat + d / 2]),
            "EPSG:4326", "EPSG:2154")
        proj = math.hypot(e2_[0] - e1[0], n2[0] - n1[0])
        return proj / arc(lat - d / 2, lat + d / 2)

    assert abs(k_at(p.lat1) - 1.0) < 1e-6
    assert abs(k_at(p.lat2) - 1.0) < 1e-6
    assert k_at((p.lat1 + p.lat2) / 2) < 1.0 - 1e-5
    assert k_at(max(p.lat1, p.lat2) + 4.0) > 1.0 + 1e-5


def test_lcc_anchors_and_known_point():
    """Central-meridian easting == FE exactly; (lon0, lat0) == (FE, FN)
    exactly; Paris lands on its published Lambert-93 coordinate."""
    import numpy as np

    p = rp._LCC["EPSG:2154"]
    e, n, _ = rp.reproject_np(np.array([p.lon0]), np.array([p.lat0]),
                              "EPSG:4326", "EPSG:2154")
    assert abs(e[0] - p.fe) < 1e-6 and abs(n[0] - p.fn) < 1e-6
    e, n, _ = rp.reproject_np(np.array([p.lon0]), np.array([41.7]),
                              "EPSG:4326", "EPSG:2154")
    assert abs(e[0] - p.fe) < 1e-6
    # Paris (2.3522 E, 48.8566 N) ~ (652470, 6862035) in Lambert-93
    e, n, _ = rp.reproject_np(np.array([2.3522]), np.array([48.8566]),
                              "EPSG:4326", "EPSG:2154")
    assert abs(e[0] - 652470.0) < 100 and abs(n[0] - 6862035.0) < 100


def test_lcc_spark_matches_numpy_and_sql(spark):
    """Engine == numpy oracle == DuckDB twin, with drop-on-failure."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    xs = rng.uniform(-10.0, 15.0, 300)
    ys = rng.uniform(35.0, 55.0, 300)
    xs[0], ys[0] = 120.0, 45.0   # beyond the dlon cutoff -> dropped
    xs[1], ys[1] = 3.0, 89.9     # pole cutoff -> dropped
    pdf = pd.DataFrame({"page_id": np.arange(300), "x": xs, "y": ys})
    df = spark.createDataFrame(pdf)
    out = rp.reproject(df, "EPSG:4326", "EPSG:3347").toPandas() \
        .sort_values("page_id")
    e, n, ok = rp.reproject_np(xs, ys, "EPSG:4326", "EPSG:3347")
    assert list(out["page_id"]) == list(np.arange(300)[ok])
    np.testing.assert_allclose(out["x"], e, rtol=1e-12)
    np.testing.assert_allclose(out["y"], n, rtol=1e-12)
    xs_sql, ys_sql, w = rp.reproject_sql("EPSG:4326", "EPSG:3347")
    con = duckdb.connect()
    con.register("pts", pdf)
    ora = con.sql(
        f"SELECT page_id, {xs_sql} AS x, {ys_sql} AS y FROM pts "
        f"WHERE {w} ORDER BY page_id"
    ).df()
    np.testing.assert_allclose(out["x"].to_numpy(), ora["x"], rtol=1e-12)
    np.testing.assert_allclose(out["y"].to_numpy(), ora["y"], rtol=1e-12)


def test_lcc_register_new_zone(spark):
    """register_lcc proves the seam: a State-Plane-style custom zone
    routes through the same engine."""
    import numpy as np

    rp.register_lcc("TEST:SP1", rp.LccParams(
        33.0, 45.0, 39.0, -96.0, 0.0, 0.0))
    try:
        e, n, _ = rp.reproject_np(np.array([-96.0]), np.array([39.0]),
                                  "EPSG:4326", "TEST:SP1")
        assert abs(e[0]) < 1e-6 and abs(n[0]) < 1e-6
        df = spark.createDataFrame([(0, -95.0, 40.0)],
                                   "page_id long, x double, y double")
        got = rp.reproject(df, "EPSG:4326", "TEST:SP1").collect()[0]
        e2_, n2_, _ = rp.reproject_np(np.array([-95.0]), np.array([40.0]),
                                      "EPSG:4326", "TEST:SP1")
        assert abs(got.x - e2_[0]) < 1e-6 and abs(got.y - n2_[0]) < 1e-6
    finally:
        rp._LCC.pop("TEST:SP1", None)
