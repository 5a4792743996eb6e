"""filters.projpipeline — PROJ pipeline strings over the closed-form
step vocabulary (operators/projpipeline.py).  Reference semantics:
ProjPipelineFilter.cpp:47-121 (coord_op string, reverse_transfo flag,
drop-on-failure); the canonical coord_op is the reference's own test
string (test/unit/filters/ProjPipelineFilterTest.cpp:62).

The three backends (Column / SQL / numpy) are instantiated from the
same step implementations, so the tests pin (a) the math against
independent identities and (b) the backends against each other —
including DuckDB executing the generated SQL.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pdal_spark.operators import projpipeline as pp

REF_PIPE = ("+proj=pipeline +step +inv +proj=utm +zone=15 +ellps=WGS84 "
            "+step +proj=unitconvert +xy_in=rad +xy_out=deg")
FWD_PIPE = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
            "+xy_out=rad +step +proj=utm +zone=15 +ellps=WGS84")


def _pts(n=2000, lon=(-96.0, -90.0), lat=(25.0, 50.0), seed=11):
    rng = np.random.default_rng(seed)
    return (rng.uniform(*lon, n), rng.uniform(*lat, n),
            rng.uniform(-100.0, 4000.0, n))


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------

def test_parse_reference_string():
    steps = pp.parse_pipeline(REF_PIPE)
    assert [s.op for s in steps] == ["utm", "unitconvert"]
    assert steps[0].inv and not steps[1].inv
    assert steps[0].params["zone"] == "15"


def test_parse_bare_operation():
    steps = pp.parse_pipeline("+proj=utm +zone=15 +south +ellps=WGS84")
    assert len(steps) == 1 and steps[0].params["south"] is True


def test_parse_rejects_unknown_step():
    with pytest.raises(ValueError, match="unsupported pipeline step"):
        pp.parse_pipeline("+proj=pipeline +step +proj=omerc +alpha=30")


def test_parse_rejects_global_params():
    with pytest.raises(ValueError, match="global pipeline"):
        pp.parse_pipeline("+proj=pipeline +ellps=WGS84 +step +proj=noop")


def test_parse_rejects_missing_proj():
    with pytest.raises(ValueError, match="without"):
        pp.parse_pipeline("+proj=pipeline +step +zone=15")


# --------------------------------------------------------------------------
# numpy math identities
# --------------------------------------------------------------------------

def test_utm_roundtrip_np():
    lon, lat, _ = _pts()
    e, n, _, ok = pp.pipeline_np(FWD_PIPE, lon, lat)
    assert ok.all()
    lo, la, _, ok2 = pp.pipeline_np(REF_PIPE, e, n)
    assert ok2.all()
    # Snyder series closes to ~1e-8 deg (~1 mm)
    np.testing.assert_allclose(lo, lon, atol=2e-8)
    np.testing.assert_allclose(la, lat, atol=2e-8)


def test_reverse_transfo_is_exact_mirror():
    """reverse_transfo=True over FWD == REF applied forward (same step
    math, directions flipped) — bit-identical."""
    lon, lat, _ = _pts(500)
    e, n, _, _ = pp.pipeline_np(FWD_PIPE, lon, lat)
    a = pp.pipeline_np(REF_PIPE, e, n)
    b = pp.pipeline_np(FWD_PIPE, e, n, reverse_transfo=True)
    for u, v in zip(a[:2], b[:2]):
        np.testing.assert_array_equal(u, v)


def test_utm_matches_reprojection_family():
    """The radian-native utm step == the registered degree-native
    EPSG:326xx forward transform, bit-for-bit."""
    from pdal_spark.operators.reprojection import reproject_np

    lon, lat, _ = _pts(800, lon=(6.0, 12.0))
    pipe = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
            "+xy_out=rad +step +proj=utm +zone=32 +ellps=WGS84")
    e, n, _, _ = pp.pipeline_np(pipe, lon, lat)
    e0, n0, _ = reproject_np(lon, lat, "EPSG:4326", "EPSG:32632")
    np.testing.assert_array_equal(e, e0)
    np.testing.assert_array_equal(n, n0)


def test_cart_known_answers():
    g = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
         "+xy_out=rad +step +proj=cart +ellps=WGS84")
    a = 6378137.0
    e2 = (1.0 / 298.257223563) * (2.0 - 1.0 / 298.257223563)
    b = a * math.sqrt(1.0 - e2)
    X, Y, Z, _ = pp.pipeline_np(g, [0.0, 90.0, 0.0], [0.0, 0.0, 90.0])
    np.testing.assert_allclose([X[0], Y[0], Z[0]], [a, 0, 0], atol=1e-9)
    np.testing.assert_allclose([X[1], Y[1], Z[1]], [0, a, 0], atol=1e-8)
    np.testing.assert_allclose(Z[2], b, atol=1e-8)


def test_cart_bowring_roundtrip():
    lon, lat, h = _pts(3000, lon=(-179.0, 179.0), lat=(-89.0, 89.0))
    g = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
         "+xy_out=rad +step +proj=cart +ellps=GRS80")
    X, Y, Z, _ = pp.pipeline_np(g, lon, lat, h)
    lo, la, hh, _ = pp.pipeline_np(g, X, Y, Z, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=1e-12)
    np.testing.assert_allclose(la, lat, atol=1e-9)
    np.testing.assert_allclose(hh, h, atol=1e-5)


def test_helmert_identity_and_translation():
    X = np.array([4e6, -3e6]); Y = np.array([1e6, 2e6]); Z = np.array([4e6, -4e6])
    x1, y1, z1, _ = pp.pipeline_np("+proj=helmert", X, Y, Z)
    np.testing.assert_array_equal(x1, X)
    x2, y2, z2, _ = pp.pipeline_np(
        "+proj=helmert +x=10 +y=-20 +z=30", X, Y, Z)
    np.testing.assert_array_equal(x2, X + 10)
    np.testing.assert_array_equal(y2, Y - 20)
    np.testing.assert_array_equal(z2, Z + 30)


def test_helmert_conventions_are_sign_flips():
    """position_vector with +rx == coordinate_frame with -rx (EPSG
    Guidance Note 7-2 §4.3.3)."""
    X = np.array([4e6]); Y = np.array([1e6]); Z = np.array([4.5e6])
    pv = pp.pipeline_np(
        "+proj=helmert +rx=1.5 +ry=-0.7 +rz=0.3 +convention=position_vector",
        X, Y, Z)
    cf = pp.pipeline_np(
        "+proj=helmert +rx=-1.5 +ry=0.7 +rz=-0.3 +convention=coordinate_frame",
        X, Y, Z)
    for a, b in zip(pv[:3], cf[:3]):
        np.testing.assert_array_equal(a, b)


def test_helmert_inverse_small_residual():
    """Negated-parameter inverse: second-order residual only (mm-scale
    for arcsec rotations at Earth radius)."""
    X = np.array([4e6]); Y = np.array([1e6]); Z = np.array([4.5e6])
    op = "+proj=helmert +x=100 +y=-50 +z=30 +rx=1 +ry=-2 +rz=0.5 +s=2.5"
    x1, y1, z1, _ = pp.pipeline_np(op, X, Y, Z)
    x2, y2, z2, _ = pp.pipeline_np(op, x1, y1, z1, reverse_transfo=True)
    assert abs(x2[0] - X[0]) < 0.01 and abs(z2[0] - Z[0]) < 0.01


def test_axisswap_signed_and_inverse():
    x, y, z, _ = pp.pipeline_np("+proj=axisswap +order=2,-1", [3.0], [7.0])
    assert (x[0], y[0]) == (7.0, -3.0)
    # inverse permutation undoes it exactly
    x2, y2, _, _ = pp.pipeline_np(
        "+proj=axisswap +order=2,-1", x, y, reverse_transfo=True)
    assert (x2[0], y2[0]) == (3.0, 7.0)
    with pytest.raises(ValueError, match="axisswap"):
        pp.pipeline_np("+proj=axisswap +order=1,1", [0.0], [0.0])


def test_unitconvert_z_and_linear():
    op = "+proj=unitconvert +z_in=us-ft +z_out=m"
    _, _, z, _ = pp.pipeline_np(op, [0.0], [0.0], [3937.0])
    np.testing.assert_allclose(z[0], 1200.0)
    op2 = "+proj=unitconvert +xy_in=grad +xy_out=deg"
    x, _, _, _ = pp.pipeline_np(op2, [100.0], [0.0])
    np.testing.assert_allclose(x[0], 90.0)


def test_webmerc_matches_3857_family():
    from pdal_spark.operators.reprojection import reproject_np

    lon, lat, _ = _pts(500, lon=(-179.0, 179.0), lat=(-80.0, 80.0))
    pipe = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
            "+xy_out=rad +step +proj=webmerc +ellps=WGS84")
    mx, my, _, ok = pp.pipeline_np(pipe, lon, lat)
    mx0, my0, _ = reproject_np(lon, lat, "EPSG:4326", "EPSG:3857")
    assert ok.all()
    np.testing.assert_array_equal(mx, mx0)
    np.testing.assert_array_equal(my, my0)


def test_merc_spherical_degenerate_and_scale():
    """merc on a sphere == webmerc bit-for-bit; +k_0 scales linearly."""
    rng = np.random.default_rng(2)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-80, 80, 500)
    a = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
         "+xy_out=rad +step +proj=merc +R=6378137")
    b = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
         "+xy_out=rad +step +proj=webmerc +ellps=WGS84")
    xa, ya, _, _ = pp.pipeline_np(a, lon, lat)
    xb, yb, _, _ = pp.pipeline_np(b, lon, lat)
    np.testing.assert_array_equal(xa, xb)
    np.testing.assert_array_equal(ya, yb)
    x, _, _, _ = pp.pipeline_np("+proj=merc +R=6378137", [0.5], [0.0])
    np.testing.assert_allclose(x[0], 0.5 * 6378137.0)


def test_merc_epsg_guidance_worked_example():
    """EPSG Guidance Note 7-2 §3.3.1, Mercator variant A worked
    example (Makassar / NEIEZ, Bessel 1841, k0=0.997, FE=3900000,
    FN=900000, lon_0=110E): phi=3S, lam=120E -> E=5009726.58,
    N=569150.82 — an INDEPENDENT published golden for the ellipsoidal
    form."""
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=merc +k_0=0.997 +x_0=3900000 "
          "+y_0=900000 +ellps=bessel")
    E, N, _, _ = pp.pipeline_np(op, [120.0 - 110.0], [-3.0])
    np.testing.assert_allclose(E[0], 5009726.58, atol=0.01)
    np.testing.assert_allclose(N[0], 569150.82, atol=0.01)


def test_merc_ellipsoidal_roundtrip_lat_ts():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-179, 179, 800)
    lat = rng.uniform(-80, 80, 800)
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=merc +lat_ts=30 +ellps=WGS84")
    x1, y1, _, ok = pp.pipeline_np(op, lon, lat)
    assert ok.all()
    lo, la, _, _ = pp.pipeline_np(op, x1, y1, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=1e-12)
    np.testing.assert_allclose(la, lat, atol=1e-9)


def test_helmert_rejects_bad_convention():
    with pytest.raises(ValueError, match="convention"):
        pp.pipeline_np("+proj=helmert +rx=1 +convention=bogus",
                       [0.0], [0.0])


# --------------------------------------------------------------------------
# cross-backend parity
# --------------------------------------------------------------------------

DATUM_PIPE = ("+proj=pipeline "
              "+step +proj=unitconvert +xy_in=deg +xy_out=rad "
              "+step +proj=cart +ellps=WGS84 "
              "+step +proj=helmert +x=-87.0 +y=-96.0 +z=-120.0 "
              "+step +inv +proj=cart +ellps=intl "
              "+step +proj=unitconvert +xy_in=rad +xy_out=deg")


def test_sql_backend_matches_np_in_duckdb():
    import duckdb

    lon, lat, h = _pts(1000)
    gx, gy, gz, _ = pp.pipeline_np(DATUM_PIPE, lon, lat, h)
    xs, ys, zs, w = pp.pipeline_sql(DATUM_PIPE, x="lon", y="lat", z="h")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"lon": lon, "lat": lat, "h": h}))
    r = con.sql(f"SELECT {xs} AS x, {ys} AS y, {zs} AS z FROM g "
                f"WHERE {w}").df()
    assert len(r) == 1000
    np.testing.assert_allclose(r.x.values, gx, rtol=0, atol=1e-12)
    np.testing.assert_allclose(r.y.values, gy, rtol=0, atol=1e-12)
    np.testing.assert_allclose(r.z.values, gz, rtol=0, atol=1e-6)


def test_sql_backend_inverse_utm_in_duckdb():
    import duckdb

    lon, lat, _ = _pts(1000)
    e, n, _, _ = pp.pipeline_np(FWD_PIPE, lon, lat)
    glo, gla, _, gok = pp.pipeline_np(REF_PIPE, e, n)
    xs, ys, _, w = pp.pipeline_sql(REF_PIPE, x="e", y="n")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"e": e, "n": n}))
    r = con.sql(f"SELECT {xs} AS lo, {ys} AS la FROM g WHERE {w}").df()
    assert len(r) == int(gok.sum())
    np.testing.assert_allclose(r.lo.values, glo[gok], rtol=0, atol=1e-12)
    np.testing.assert_allclose(r.la.values, gla[gok], rtol=0, atol=1e-12)


def test_column_backend_matches_np(spark):
    lon, lat, h = _pts(3000)
    pdf = pd.DataFrame({"id": np.arange(3000), "x": lon, "y": lat, "z": h})
    out = (pp.projpipeline(spark.createDataFrame(pdf), DATUM_PIPE,
                           x="x", y="y", z="z")
           .orderBy("id").toPandas())
    gx, gy, gz, _ = pp.pipeline_np(DATUM_PIPE, lon, lat, h)
    np.testing.assert_allclose(out.x.values, gx, rtol=0, atol=1e-12)
    np.testing.assert_allclose(out.y.values, gy, rtol=0, atol=1e-12)
    np.testing.assert_allclose(out.z.values, gz, rtol=0, atol=1e-6)


def test_column_backend_drop_semantics(spark):
    """Rows outside the utm ok-domain DROP, like the reference's
    transform-failure drop (ProjPipelineFilter.cpp:105-119)."""
    lon = np.array([-93.0, 100.0])  # zone 15 center / far outside
    lat = np.array([40.0, 40.0])
    pdf = pd.DataFrame({"id": [0, 1], "x": lon, "y": lat})
    out = pp.projpipeline(spark.createDataFrame(pdf), FWD_PIPE)
    ids = [r.id for r in out.select("id").collect()]
    assert ids == [0]


def test_projpipeline_z_none_leaves_no_z(spark):
    pdf = pd.DataFrame({"id": [0], "x": [-93.0], "y": [40.0]})
    out = pp.projpipeline(spark.createDataFrame(pdf), FWD_PIPE)
    assert set(out.columns) == {"id", "x", "y"}


# --------------------------------------------------------------------------
# the reprojection-family integration (UTM -> 4326 inverse)
# --------------------------------------------------------------------------

def test_reproject_utm_inverse_roundtrip(spark):
    from pdal_spark.operators.reprojection import reproject

    lon, lat, _ = _pts(2000, lon=(0.5, 5.5), lat=(-75.0, 75.0))
    pdf = pd.DataFrame({"id": np.arange(2000), "x": lon, "y": lat})
    fwd = reproject(spark.createDataFrame(pdf), "EPSG:4326", "EPSG:32631")
    back = (reproject(fwd, "EPSG:32631", "EPSG:4326")
            .orderBy("id").toPandas())
    assert len(back) == 2000
    np.testing.assert_allclose(back.x.values, lon, atol=2e-8)
    np.testing.assert_allclose(back.y.values, lat, atol=2e-8)


def test_reproject_sql_utm_inverse_twin():
    import duckdb

    from pdal_spark.operators.reprojection import (reproject_np,
                                                   reproject_sql)

    lon, lat, _ = _pts(500, lon=(0.5, 5.5))
    e, n, _ = reproject_np(lon, lat, "EPSG:4326", "EPSG:32631")
    xs, ys, w = reproject_sql("EPSG:32631", "EPSG:4326")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"x": e, "y": n}))
    r = con.sql(f"SELECT {xs} AS lo, {ys} AS la FROM g WHERE {w}").df()
    assert len(r) == 500
    np.testing.assert_allclose(r.lo.values, lon, atol=2e-8)
    np.testing.assert_allclose(r.la.values, lat, atol=2e-8)


def test_pipeline_sql_literals_are_exact_doubles():
    """A 17-digit step parameter reaches DuckDB as the very double the
    engine uses. Spliced as a bare decimal it would be a DECIMAL there,
    and DuckDB's DECIMAL-to-DOUBLE cast lands one ulp off for this one."""
    import duckdb

    tx = 123.45678901234567
    op = f"+proj=helmert +x={tx!r}"
    xs, _, _, _ = pp.pipeline_sql(op)
    got = duckdb.sql(
        f"SELECT {xs} FROM (SELECT CAST(0 AS DOUBLE) AS x,"
        f" CAST(0 AS DOUBLE) AS y)").fetchone()[0]
    assert pp.pipeline_np(op, [0.0], [0.0])[0][0] == tx
    assert got == tx


def test_unitconvert_rejects_partial_and_unknown():
    with pytest.raises(ValueError, match="both"):
        pp.pipeline_np("+proj=unitconvert +xy_in=deg", [0.0], [0.0])
    with pytest.raises(ValueError, match="unknown unit"):
        pp.pipeline_np("+proj=unitconvert +xy_in=deg +xy_out=cubits",
                       [0.0], [0.0])


# --------------------------------------------------------------------------
# tmerc + lcc steps (round-5 second batch)
# --------------------------------------------------------------------------

def test_tmerc_equals_utm_when_parameterized():
    """utm IS tmerc(lon_0=zone center, k=0.9996, x_0=500000) — the
    shared core must make them bit-identical."""
    lon, lat, _ = _pts(800, lon=(6.0, 12.0))
    utm = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
           "+xy_out=rad +step +proj=utm +zone=32 +ellps=WGS84")
    tm = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=tmerc +lon_0=9 +k=0.9996 "
          "+x_0=500000 +ellps=WGS84")
    a = pp.pipeline_np(utm, lon, lat)
    b = pp.pipeline_np(tm, lon, lat)
    np.testing.assert_array_equal(a[0], b[0])
    np.testing.assert_array_equal(a[1], b[1])


def test_tmerc_lat0_roundtrip():
    """A nonzero lat_0 (Gauss-Krüger-style northing origin) shifts the
    meridian arc; forward+reverse closes to series accuracy."""
    lon, lat, _ = _pts(800, lon=(6.0, 12.0), lat=(-80.0, 80.0))
    tm = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=tmerc +lon_0=9 +lat_0=45 +k=1 "
          "+x_0=3500000 +y_0=100 +ellps=bessel")
    e, n, _, ok = pp.pipeline_np(tm, lon, lat)
    assert ok.all()
    lo, la, _, _ = pp.pipeline_np(tm, e, n, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=2e-8)
    np.testing.assert_allclose(la, lat, atol=2e-8)


LCC93 = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
         "+xy_out=rad +step +proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 "
         "+lon_0=3 +x_0=700000 +y_0=6600000 +ellps=GRS80")


def test_lcc_forward_matches_registered_family():
    """The radian-native lcc step with Lambert-93 parameters ==
    the registered EPSG:2154 transform."""
    from pdal_spark.operators.reprojection import reproject_np

    rng = np.random.default_rng(5)
    lon = rng.uniform(-2, 8, 800)
    lat = rng.uniform(42, 51, 800)
    xe, yn, _, _ = pp.pipeline_np(LCC93, lon, lat)
    xe0, yn0, _ = reproject_np(lon, lat, "EPSG:4326", "EPSG:2154")
    np.testing.assert_allclose(xe, xe0, rtol=0, atol=1e-9)
    np.testing.assert_allclose(yn, yn0, rtol=0, atol=1e-9)


def test_lcc_inverse_roundtrip_both_hemispheres():
    """Inverse lcc (Snyder 15-9..15-11 + the conformal-latitude
    series) closes to ~1e-10 deg, northern AND southern (n < 0)
    parallels."""
    rng = np.random.default_rng(6)
    lon = rng.uniform(-2, 8, 800)
    lat = rng.uniform(42, 51, 800)
    xe, yn, _, _ = pp.pipeline_np(LCC93, lon, lat)
    lo, la, _, _ = pp.pipeline_np(LCC93, xe, yn, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=1e-10)
    np.testing.assert_allclose(la, lat, atol=1e-9)
    south = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
             "+xy_out=rad +step +proj=lcc +lat_1=-35 +lat_2=-45 "
             "+lat_0=-40 +lon_0=140 +x_0=1000000 +y_0=2000000 "
             "+ellps=GRS80")
    lon3 = rng.uniform(130, 150, 800)
    lat3 = rng.uniform(-55, -25, 800)
    xs, ys, _, _ = pp.pipeline_np(south, lon3, lat3)
    lo3, la3, _, _ = pp.pipeline_np(south, xs, ys, reverse_transfo=True)
    np.testing.assert_allclose(lo3, lon3, atol=1e-10)
    np.testing.assert_allclose(la3, lat3, atol=1e-9)


def test_lcc_sql_backend_in_duckdb():
    import duckdb

    rng = np.random.default_rng(7)
    lon = rng.uniform(-2, 8, 500)
    lat = rng.uniform(42, 51, 500)
    gx, gy, _, gok = pp.pipeline_np(LCC93, lon, lat)
    xs, ys, _, w = pp.pipeline_sql(LCC93, x="lon", y="lat")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"lon": lon, "lat": lat}))
    r = con.sql(f"SELECT {xs} AS x, {ys} AS y FROM g WHERE {w}").df()
    assert len(r) == int(gok.sum()) == 500
    np.testing.assert_allclose(r.x.values, gx, rtol=0, atol=1e-8)
    np.testing.assert_allclose(r.y.values, gy, rtol=0, atol=1e-8)


def test_lcc_tmerc_column_backend(spark):
    lon, lat, _ = _pts(1000, lon=(-2.0, 8.0), lat=(42.0, 51.0))
    pdf = pd.DataFrame({"id": np.arange(1000), "x": lon, "y": lat})
    out = (pp.projpipeline(spark.createDataFrame(pdf), LCC93)
           .orderBy("id").toPandas())
    gx, gy, _, _ = pp.pipeline_np(LCC93, lon, lat)
    np.testing.assert_allclose(out.x.values, gx, rtol=0, atol=1e-8)
    np.testing.assert_allclose(out.y.values, gy, rtol=0, atol=1e-8)


def test_reproject_lcc_inverse_roundtrip(spark):
    """reproject() now dispatches EPSG:2154 -> 4326 through the shared
    lcc inverse; forward+back closes at ~1e-9 deg."""
    from pdal_spark.operators.reprojection import reproject

    rng = np.random.default_rng(8)
    lon = rng.uniform(-2, 8, 1500)
    lat = rng.uniform(42, 51, 1500)
    pdf = pd.DataFrame({"id": np.arange(1500), "x": lon, "y": lat})
    fwd = reproject(spark.createDataFrame(pdf), "EPSG:4326", "EPSG:2154")
    back = (reproject(fwd, "EPSG:2154", "EPSG:4326")
            .orderBy("id").toPandas())
    assert len(back) == 1500
    np.testing.assert_allclose(back.x.values, lon, atol=1e-9)
    np.testing.assert_allclose(back.y.values, lat, atol=1e-9)


def test_reproject_sql_lcc_inverse_twin():
    import duckdb

    from pdal_spark.operators.reprojection import (reproject_np,
                                                   reproject_sql)

    rng = np.random.default_rng(9)
    lon = rng.uniform(-2, 8, 500)
    lat = rng.uniform(42, 51, 500)
    e, n, _ = reproject_np(lon, lat, "EPSG:4326", "EPSG:2154")
    xs, ys, w = reproject_sql("EPSG:2154", "EPSG:4326")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"x": e, "y": n}))
    r = con.sql(f"SELECT {xs} AS lo, {ys} AS la FROM g WHERE {w}").df()
    assert len(r) == 500
    np.testing.assert_allclose(r.lo.values, lon, atol=1e-9)
    np.testing.assert_allclose(r.la.values, lat, atol=1e-9)


def test_stere_epsg_ups_worked_example():
    """EPSG Guidance Note 7-2 §3.4, Polar Stereographic variant A
    worked example (WGS 84 / UPS North: k0=0.994, FE=FN=2000000):
    phi=73N, lam=44E -> E=3320416.75, N=632668.43."""
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=stere +lat_0=90 +k_0=0.994 "
          "+x_0=2000000 +y_0=2000000 +ellps=WGS84")
    E, N, _, _ = pp.pipeline_np(op, [44.0], [73.0])
    np.testing.assert_allclose(E[0], 3320416.75, atol=0.01)
    np.testing.assert_allclose(N[0], 632668.43, atol=0.01)


def test_stere_polar_roundtrips_and_oblique_guard():
    rng = np.random.default_rng(4)
    lon = rng.uniform(-180, 180, 1500)
    north = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
             "+xy_out=rad +step +proj=stere +lat_0=90 +k_0=0.994 "
             "+x_0=2000000 +y_0=2000000 +ellps=WGS84")
    lat = rng.uniform(50, 89.9, 1500)
    e, n, _, ok = pp.pipeline_np(north, lon, lat)
    assert ok.all()
    lo, la, _, _ = pp.pipeline_np(north, e, n, reverse_transfo=True)
    np.testing.assert_allclose(((lo - lon + 180) % 360) - 180, 0,
                               atol=1e-12)
    np.testing.assert_allclose(la, lat, atol=1e-10)
    # variant B south (lat_ts, the NSIDC/EPSG:3976 shape)
    south = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
             "+xy_out=rad +step +proj=stere +lat_0=-90 +lat_ts=-71 "
             "+lon_0=10 +x_0=1000000 +y_0=2000000 +ellps=WGS84")
    lats = rng.uniform(-89.9, -50, 1500)
    es, ns, _, oks = pp.pipeline_np(south, lon, lats)
    assert oks.all()
    lo2, la2, _, _ = pp.pipeline_np(south, es, ns, reverse_transfo=True)
    np.testing.assert_allclose(((lo2 - lon + 180) % 360) - 180, 0,
                               atol=1e-12)
    np.testing.assert_allclose(la2, lats, atol=1e-10)
    with pytest.raises(ValueError, match="POLAR"):
        pp.pipeline_np("+proj=stere +lat_0=52", [0.0], [0.0])


def test_eqc_roundtrip_and_sql_twin():
    import duckdb

    rng = np.random.default_rng(5)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-89, 89, 500)
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=eqc +lat_ts=30 +lon_0=10 "
          "+x_0=100 +y_0=-50 +ellps=WGS84")
    ex, ey, _, _ = pp.pipeline_np(op, lon, lat)
    lo, la, _, _ = pp.pipeline_np(op, ex, ey, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=1e-12)
    np.testing.assert_allclose(la, lat, atol=1e-12)
    xs, ys, _, w = pp.pipeline_sql(op, x="lon", y="lat")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"lon": lon, "lat": lat}))
    r = con.sql(f"SELECT {xs} AS x, {ys} AS y FROM g WHERE {w}").df()
    np.testing.assert_allclose(r.x.values, ex, rtol=0, atol=1e-9)
    np.testing.assert_allclose(r.y.values, ey, rtol=0, atol=1e-9)


def test_stere_column_backend(spark):
    rng = np.random.default_rng(6)
    lon = rng.uniform(-180, 180, 800)
    lat = rng.uniform(55, 89, 800)
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=stere +lat_0=90 +lat_ts=70 "
          "+lon_0=-45 +ellps=WGS84")
    pdf = pd.DataFrame({"id": np.arange(800), "x": lon, "y": lat})
    out = (pp.projpipeline(spark.createDataFrame(pdf), op)
           .orderBy("id").toPandas())
    gx, gy, _, _ = pp.pipeline_np(op, lon, lat)
    np.testing.assert_allclose(out.x.values, gx, rtol=0, atol=1e-8)
    np.testing.assert_allclose(out.y.values, gy, rtol=0, atol=1e-8)


AEA5070 = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
           "+xy_out=rad +step +proj=aea +lat_1=29.5 +lat_2=45.5 "
           "+lat_0=23 +lon_0=-96 +x_0=0 +y_0=0 +ellps=GRS80")


def test_aea_equal_area_jacobian_oracle():
    """Albers (the CONUS EPSG:5070 parameters) must be EQUAL-AREA: the
    numerical Jacobian |dx dy / dlam dphi| equals the ellipsoidal area
    element a^2 cos(phi) (1-e2)/(1-e2 sin^2 phi)^2 — an independent
    differential oracle, not a round trip."""
    rng = np.random.default_rng(10)
    lon = rng.uniform(-125, -66, 2000)
    lat = rng.uniform(24, 50, 2000)
    x, y, _, ok = pp.pipeline_np(AEA5070, lon, lat)
    assert ok.all()
    h = 1e-7
    xdl, ydl, _, _ = pp.pipeline_np(AEA5070, lon + math.degrees(h), lat)
    xdp, ydp, _, _ = pp.pipeline_np(AEA5070, lon, lat + math.degrees(h))
    J = np.abs((xdl - x) * (ydp - y) - (xdp - x) * (ydl - y)) / (h * h)
    a, e2 = 6378137.0, (1 / 298.257222101) * (2 - 1 / 298.257222101)
    phi = np.radians(lat)
    A = a * a * np.cos(phi) * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 2
    np.testing.assert_allclose(J / A, 1.0, atol=1e-6)


def test_aea_roundtrip_both_hemispheres():
    rng = np.random.default_rng(11)
    lon = rng.uniform(-125, -66, 1500)
    lat = rng.uniform(24, 50, 1500)
    x, y, _, _ = pp.pipeline_np(AEA5070, lon, lat)
    lo, la, _, _ = pp.pipeline_np(AEA5070, x, y, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=1e-12)
    np.testing.assert_allclose(la, lat, atol=2e-8)  # authalic series
    south = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
             "+xy_out=rad +step +proj=aea +lat_1=-18 +lat_2=-36 "
             "+lat_0=0 +lon_0=134 +ellps=GRS80")
    lon2 = rng.uniform(110, 155, 1500)
    lat2 = rng.uniform(-45, -10, 1500)
    x2, y2, _, _ = pp.pipeline_np(south, lon2, lat2)
    lo2, la2, _, _ = pp.pipeline_np(south, x2, y2, reverse_transfo=True)
    np.testing.assert_allclose(lo2, lon2, atol=1e-12)
    np.testing.assert_allclose(la2, lat2, atol=2e-8)


def test_aea_sql_and_column_backends(spark):
    import duckdb

    rng = np.random.default_rng(12)
    lon = rng.uniform(-125, -66, 600)
    lat = rng.uniform(24, 50, 600)
    gx, gy, _, _ = pp.pipeline_np(AEA5070, lon, lat)
    xs, ys, _, w = pp.pipeline_sql(AEA5070, x="lon", y="lat")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"lon": lon, "lat": lat}))
    r = con.sql(f"SELECT {xs} AS x, {ys} AS y FROM g WHERE {w}").df()
    np.testing.assert_allclose(r.x.values, gx, rtol=0, atol=1e-7)
    np.testing.assert_allclose(r.y.values, gy, rtol=0, atol=1e-7)
    pdf = pd.DataFrame({"id": np.arange(600), "x": lon, "y": lat})
    out = (pp.projpipeline(spark.createDataFrame(pdf), AEA5070)
           .orderBy("id").toPandas())
    np.testing.assert_allclose(out.x.values, gx, rtol=0, atol=1e-7)
    np.testing.assert_allclose(out.y.values, gy, rtol=0, atol=1e-7)


def test_reproject_wellknown_epsg_codes(spark):
    """reproject() resolves well-known EPSG codes (CONUS Albers 5070,
    NSIDC 3413, UPS 32661, World Mercator 3395) through the pipeline
    vocabulary — forward + inverse round trips through the DataFrame
    API."""
    rng = np.random.default_rng(13)
    cases = [
        ("EPSG:5070", (-120.0, -70.0), (25.0, 48.0), 2e-8),
        ("EPSG:3413", (-180.0, 180.0), (55.0, 89.0), 1e-9),
        ("EPSG:32661", (-180.0, 180.0), (55.0, 89.0), 1e-9),
        ("EPSG:3395", (-179.0, 179.0), (-80.0, 80.0), 1e-9),
    ]
    from pdal_spark.operators.reprojection import reproject

    for code, lo_rng, la_rng, tol in cases:
        lon = rng.uniform(*lo_rng, 400)
        lat = rng.uniform(*la_rng, 400)
        pdf = pd.DataFrame({"id": np.arange(400), "x": lon, "y": lat})
        fwd = reproject(spark.createDataFrame(pdf), "EPSG:4326", code)
        back = (reproject(fwd, code, "EPSG:4326")
                .orderBy("id").toPandas())
        assert len(back) == 400, code
        # longitudes wrap at the antimeridian for the polar codes
        dlon = ((back.x.values - lon + 180) % 360) - 180
        np.testing.assert_allclose(dlon, 0, atol=max(tol, 1e-9),
                                   err_msg=code)
        np.testing.assert_allclose(back.y.values, lat, atol=tol,
                                   err_msg=code)


def _three_backends(spark, op, lon, lat, reverse):
    """(x, y) of ``op`` over the points from the numpy, Column and SQL
    (DuckDB) backends; rows a backend drops come back NaN."""
    import duckdb

    gx, gy, _, ok = pp.pipeline_np(op, lon, lat, reverse_transfo=reverse)
    gx, gy = np.where(ok, gx, np.nan), np.where(ok, gy, np.nan)
    pdf = pd.DataFrame({"id": np.arange(len(lon)), "x": lon, "y": lat})
    col = (pp.projpipeline(spark.createDataFrame(pdf), op,
                           reverse_transfo=reverse)
           .toPandas().set_index("id").reindex(pdf.id))
    xs, ys, _, w = pp.pipeline_sql(op, reverse_transfo=reverse)
    con = duckdb.connect()
    con.register("g", pdf)
    sql = (con.sql(f"SELECT id, {xs} AS x, {ys} AS y FROM g WHERE {w}")
           .df().set_index("id").reindex(pdf.id))
    return [(gx, gy), (col.x.values, col.y.values),
            (sql.x.values, sql.y.values)]


def test_stere_inverse_wraps_longitude(spark):
    """EPSG:3413 (lon_0 = -45): points near the antimeridian come back
    from the inverse in (-180, 180], not offset by 360 (PROJ adjlon)."""
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=stere +lat_0=90 +lat_ts=70 "
          "+lon_0=-45 +ellps=WGS84")
    lon = np.array([179.0, 179.9, 179.999, -179.0, -179.9, -179.999, 134.0])
    lat = np.array([60.0, 70.0, 80.0, 85.0, 75.0, 65.0, 89.0])
    x, y, _, _ = pp.pipeline_np(op, lon, lat)
    for lo, la in _three_backends(spark, op, x, y, reverse=True):
        assert ((lo > -180.0) & (lo <= 180.0)).all(), lo
        np.testing.assert_allclose(lo, lon, atol=1e-9)
        np.testing.assert_allclose(la, lat, atol=1e-9)


def test_merc_keeps_latitudes_past_webmerc_cutoff(spark):
    """EPSG:3395 is the ellipsoidal Mercator: it is defined up to the
    poles, so rows at 85.1..89.5 degrees survive and round-trip."""
    op = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=merc +ellps=WGS84")
    band = np.linspace(85.1, 89.5, 9)
    lat = np.concatenate([band, -band])
    lon = np.linspace(-170.0, 170.0, lat.size)
    fwd = _three_backends(spark, op, lon, lat, reverse=False)
    for x, y in fwd:
        assert not np.isnan(x).any() and not np.isnan(y).any()
    for lo, la in _three_backends(spark, op, *fwd[0], reverse=True):
        np.testing.assert_allclose(lo, lon, atol=1e-9)
        np.testing.assert_allclose(la, lat, atol=1e-9)


def test_reproject_sql_wellknown_epsg_twin():
    import duckdb

    from pdal_spark.operators.reprojection import (reproject_np,
                                                   reproject_sql)

    rng = np.random.default_rng(14)
    lon = rng.uniform(-120, -70, 400)
    lat = rng.uniform(25, 48, 400)
    xs, ys, w = reproject_sql("EPSG:4326", "EPSG:5070")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"x": lon, "y": lat}))
    r = con.sql(f"SELECT {xs} AS x, {ys} AS y FROM g WHERE {w}").df()
    assert len(r) == 400
    gx, gy, _, _ = pp.pipeline_np(AEA5070, lon, lat)
    np.testing.assert_allclose(r.x.values, gx, rtol=0, atol=1e-7)
    np.testing.assert_allclose(r.y.values, gy, rtol=0, atol=1e-7)


def test_sinu_modis_grid():
    """Ellipsoidal sinusoidal (the MODIS land grid): equal-area
    Jacobian oracle + roundtrip + the a*pi equator half-width."""
    OP = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
          "+xy_out=rad +step +proj=sinu +lon_0=0 +ellps=WGS84")
    rng = np.random.default_rng(15)
    lon = rng.uniform(-179, 179, 2000)
    lat = rng.uniform(-85, 85, 2000)
    x, y, _, ok = pp.pipeline_np(OP, lon, lat)
    assert ok.all()
    lo, la, _, _ = pp.pipeline_np(OP, x, y, reverse_transfo=True)
    np.testing.assert_allclose(lo, lon, atol=2e-7)
    np.testing.assert_allclose(la, lat, atol=2e-8)
    h = 1e-7
    xdl, ydl, _, _ = pp.pipeline_np(OP, lon + math.degrees(h), lat)
    xdp, ydp, _, _ = pp.pipeline_np(OP, lon, lat + math.degrees(h))
    J = np.abs((xdl - x) * (ydp - y) - (xdp - x) * (ydl - y)) / (h * h)
    a, e2 = 6378137.0, (1 / 298.257223563) * (2 - 1 / 298.257223563)
    phi = np.radians(lat)
    A = a * a * np.cos(phi) * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 2
    np.testing.assert_allclose(J / A, 1.0, atol=1e-6)
    xe, _, _, _ = pp.pipeline_np(OP, [179.9999999], [0.0])
    np.testing.assert_allclose(xe[0], a * math.pi, atol=0.01)
