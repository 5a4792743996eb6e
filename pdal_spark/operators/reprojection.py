"""filters.reprojection / filters.projpipeline — CRS transforms.

Reference semantics (PDAL filters/ReprojectionFilter.cpp):
  * transform (X, Y, Z) into out_srs; points whose transform FAILS are
    DROPPED (processOne returns ok, :110-112, 118-133).
  * the general GDAL/PROJ engine is out of sandbox scope (no pyproj);
    the transform registry here ships the closed-form pairs a web-corpus
    engine actually needs: EPSG:4326 lon/lat to and from Web-Mercator
    (EPSG:3857), the WGS84 UTM zones (EPSG:326zz/327zz), the Lambert
    conformal conic zones in ``_LCC`` (plus any ``register_lcc`` adds)
    and the ``_EPSG_PIPE`` codes.

One source per transform: the registry holds no formulas. ``_route``
maps a pair to a list of operators/projpipeline.py steps (a deg->rad
``unitconvert``, then ``webmerc``, ``utm``, ``lcc`` or the ``_EPSG_PIPE``
string's steps), run forward, or backwards for the inverse pair.
``reproject`` runs the list on the Column backend, ``reproject_sql`` on
the SQL backend for the DuckDB oracle. ``reproject_np`` stays
hand-written as the independent numpy oracle.

Drop rules: each forward entry keeps its own domain, tested on the
input degrees, in place of the steps' masks. For 4326->3857 that is
|lat| < the Mercator cutoff (atan(sinh(pi)) deg ~ 85.051129, exactly the
Web-Mercator square's edge); UTM adds |lon - lon0| < 45; LCC keeps
|lon - lon0| < 90 and |lat| < 89.5. Inverse pairs and the _EPSG_PIPE
codes keep the steps' own masks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark.operators import projpipeline as _pp

R = 6378137.0  # WGS84 / spherical-Mercator radius
MERC_MAX_LAT_DEG = math.degrees(math.atan(math.sinh(math.pi)))  # 85.05112878


# --- WGS84 UTM (EPSG:326xx north / 327xx south) ----------------------------
# Transverse-Mercator series (Snyder 1987, "Map Projections — A Working
# Manual", eqs. 3-21, 8-9..8-15; public formulas), ~0.1 mm series accuracy
# in zone: projpipeline's utm step, and below the numpy oracle's constants.

_A_WGS84 = 6378137.0
_F_WGS84 = 1.0 / 298.257223563
_E2 = _F_WGS84 * (2.0 - _F_WGS84)
_EP2 = _E2 / (1.0 - _E2)
_K0 = 0.9996
UTM_MAX_DLON_DEG = 45.0  # pragmatic series cutoff; out-of-range rows drop

# meridian-arc series coefficients (Snyder eq. 3-21)
_M0 = 1.0 - _E2 / 4.0 - 3.0 * _E2**2 / 64.0 - 5.0 * _E2**3 / 256.0
_M2 = 3.0 * _E2 / 8.0 + 3.0 * _E2**2 / 32.0 + 45.0 * _E2**3 / 1024.0
_M4 = 15.0 * _E2**2 / 256.0 + 45.0 * _E2**3 / 1024.0
_M6 = 35.0 * _E2**3 / 3072.0


def _utm_zone(out_srs: str) -> tuple[int, bool] | None:
    """EPSG:326zz / EPSG:327zz -> (zone, is_north), else None."""
    if not out_srs.startswith("EPSG:") or len(out_srs) != 10:
        return None
    code = out_srs[5:]
    if code[:3] == "326":
        north = True
    elif code[:3] == "327":
        north = False
    else:
        return None
    zone = int(code[3:])
    return (zone, north) if 1 <= zone <= 60 else None


# --- Lambert conformal conic, 2 standard parallels (ellipsoidal) -----------
# Snyder 1987 eqs. 15-1..15-10 (public formulas) — the projection behind
# many national grids (France Lambert-93 EPSG:2154, Statistics Canada
# EPSG:3347, US State Plane zones). Registered instances carry their
# EPSG parameter sets on GRS80 (a shared with WGS84; 1/f 298.257222101);
# register_lcc() adds further zones without touching the engine — the
# third real family through the transform-registry seam.

_A_GRS80 = 6378137.0
_F_GRS80 = 1.0 / 298.257222101
_E2_GRS80 = _F_GRS80 * (2.0 - _F_GRS80)
LCC_MAX_DLON_DEG = 90.0  # single-valued wrap cutoff; out-of-range drops
LCC_MAX_LAT_DEG = 89.5   # t(phi) -> 0/inf at the poles


class LccParams:
    """EPSG-style 2SP parameter set (degrees / metres) + the derived
    Snyder constants n, F, rho0 (computed once, baked as literals)."""

    def __init__(self, lat1: float, lat2: float, lat0: float, lon0: float,
                 fe: float, fn: float,
                 a: float = _A_GRS80, e2: float = _E2_GRS80):
        self.lat1, self.lat2, self.lat0, self.lon0 = lat1, lat2, lat0, lon0
        self.fe, self.fn, self.a, self.e2 = fe, fn, a, e2
        e = math.sqrt(e2)

        def m(phi):
            s = math.sin(phi)
            return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

        def t(phi):
            s = math.sin(phi)
            return math.tan(math.pi / 4.0 - phi / 2.0) / (
                (1.0 - e * s) / (1.0 + e * s)
            ) ** (e / 2.0)

        p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
        m1, m2 = m(p1), m(p2)
        t1, t2, t0 = t(p1), t(p2), t(p0)
        self.n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
        self.big_f = m1 / (self.n * t1 ** self.n)
        self.rho0 = a * self.big_f * t0 ** self.n
        self.e = e


_LCC = {
    # RGF93 / Lambert-93 (France) — EPSG registry parameters
    "EPSG:2154": LccParams(49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0),
    # NAD83 / Statistics Canada Lambert
    "EPSG:3347": LccParams(49.0, 77.0, 63.390675, -91.866667,
                           6200000.0, 3000000.0),
}


def register_lcc(srs: str, params: LccParams) -> None:
    """Register another LCC zone (State Plane, national grids)."""
    _LCC[srs] = params


#: well-known EPSG codes resolved through the projpipeline step
#: vocabulary (operators/projpipeline.py) — forward AND inverse come
#: from the same step implementations via reverse_transfo.
_EPSG_PIPE = {
    # WGS 84 / World Mercator
    "EPSG:3395": "+proj=merc +ellps=WGS84",
    # NAD83 / Conus Albers (the US national equal-area grid)
    "EPSG:5070": ("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 "
                  "+lon_0=-96 +ellps=GRS80"),
    # NSIDC Sea Ice Polar Stereographic North / South
    "EPSG:3413": "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=WGS84",
    "EPSG:3976": "+proj=stere +lat_0=-90 +lat_ts=-70 +lon_0=0 +ellps=WGS84",
    # WGS 84 / UPS North and South (EPSG 7-2 §3.4 variant A)
    "EPSG:32661": ("+proj=stere +lat_0=90 +k_0=0.994 +x_0=2000000 "
                   "+y_0=2000000 +ellps=WGS84"),
    "EPSG:32761": ("+proj=stere +lat_0=-90 +k_0=0.994 +x_0=2000000 "
                   "+y_0=2000000 +ellps=WGS84"),
}


_DEG2RAD = _pp.Step("unitconvert", {"xy_in": "deg", "xy_out": "rad"})


def _domain(max_lat: float, lon0: float = 0.0, max_dlon: float | None = None):
    """A forward pair's keep rule on the input degrees, written once for
    every projpipeline backend B: -max_lat < lat < max_lat and, when
    max_dlon is given, |lon - lon0| < max_dlon."""

    def keep(B, x, y):
        ok = B.both(y > B.lit(-max_lat), y < B.lit(max_lat))
        if max_dlon is None:
            return ok
        return B.both(B.abs(x - B.lit(lon0)) < B.lit(max_dlon), ok)

    return keep


def _projection(srs: str):
    """srs -> (projpipeline steps from EPSG:4326 degrees to srs, forward
    keep rule or None), or None when srs is not registered."""
    if srs == "EPSG:3857":
        return ([_DEG2RAD, _pp.Step("webmerc", {"ellps": "WGS84"})],
                _domain(MERC_MAX_LAT_DEG))
    utm = _utm_zone(srs)
    if utm is not None:
        zone, north = utm
        step = _pp.Step("utm", {"zone": zone, "south": not north,
                                "ellps": "WGS84"})
        # the round trip through radians is reproject_np's, so the kept
        # rows match it exactly
        lon0 = math.degrees(math.radians(-183.0 + 6.0 * zone))
        return ([_DEG2RAD, step],
                _domain(MERC_MAX_LAT_DEG, lon0, UTM_MAX_DLON_DEG))
    if srs in _LCC:
        p = _LCC[srs]
        step = _pp.Step("lcc", {"lat_1": p.lat1, "lat_2": p.lat2,
                                "lat_0": p.lat0, "lon_0": p.lon0,
                                "x_0": p.fe, "y_0": p.fn,
                                "a": p.a, "es": p.e2})
        return ([_DEG2RAD, step],
                _domain(LCC_MAX_LAT_DEG, p.lon0, LCC_MAX_DLON_DEG))
    if srs in _EPSG_PIPE:
        return [_DEG2RAD, *_pp.parse_pipeline(_EPSG_PIPE[srs])], None
    return None


def _route(in_srs: str, out_srs: str):
    """The one resolver behind reproject and reproject_sql ->
    (steps, reverse, keep).

    Every registered pair runs between EPSG:4326 degrees and one
    projected CRS; the inverse pair runs the same steps with
    reverse=True. keep(B, lon, lat) is a forward pair's own domain rule
    and replaces the steps' masks; with keep None (inverse pairs and
    the _EPSG_PIPE codes) the steps' masks decide which rows drop.
    """
    entry, reverse = None, False
    if in_srs == "EPSG:4326":
        entry = _projection(out_srs)
    elif out_srs == "EPSG:4326":
        entry, reverse = _projection(in_srs), True
    if entry is None:
        raise ValueError(
            f"no built-in transform {in_srs} -> {out_srs}; register a "
            f"vectorized kernel (pyproj) for arbitrary CRS pairs"
        )
    steps, keep = entry
    return steps, reverse, None if reverse else keep


def _transform(B, in_srs: str, out_srs: str, x, y):
    """(x, y, ok) of the pair on backend B."""
    steps, reverse, keep = _route(in_srs, out_srs)
    nx, ny, _, ok = _pp._apply(B, steps, x, y, B.lit(0.0), reverse)
    return nx, ny, ok if keep is None else keep(B, x, y)


def reproject(
    df: DataFrame,
    in_srs: str,
    out_srs: str,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Transform (x, y) from in_srs to out_srs, dropping failed rows."""
    if in_srs == out_srs:
        return df
    nx, ny, ok = _transform(_pp._ColB, in_srs, out_srs, F.col(x), F.col(y))
    return (
        df.withColumn("_ok", ok)
        .filter(F.col("_ok"))
        .withColumns({x: nx, y: ny})
        .drop("_ok")
    )


def reproject_sql(in_srs: str, out_srs: str, x: str = "x", y: str = "y"):
    """(x_sql, y_sql, where_sql) twins for the DuckDB oracle."""
    nx, ny, ok = _transform(_pp._SqlB, in_srs, out_srs, _pp._Sx(x), _pp._Sx(y))
    return nx.s, ny.s, _pp._Sx._c(ok)


def reproject_np(xs, ys, in_srs: str = "EPSG:4326", out_srs: str = "EPSG:3857"):
    """numpy oracle."""
    import numpy as np

    if (in_srs, out_srs) == ("EPSG:4326", "EPSG:3857"):
        ok = (ys > -MERC_MAX_LAT_DEG) & (ys < MERC_MAX_LAT_DEG)
        mx = xs * (math.pi / 180.0) * R
        my = np.log(np.tan(math.pi / 4.0 + ys * (math.pi / 360.0))) * R
        return mx[ok], my[ok], ok
    utm = _utm_zone(out_srs) if in_srs == "EPSG:4326" else None
    if utm is not None:
        zone, north = utm
        lon0 = math.radians(-183.0 + 6.0 * zone)
        lam, phi = np.radians(xs), np.radians(ys)
        sp, cp, tp = np.sin(phi), np.cos(phi), np.tan(phi)
        nr = _A_WGS84 / np.sqrt(1.0 - _E2 * sp * sp)
        t, c = tp * tp, _EP2 * cp * cp
        a_ = (lam - lon0) * cp
        m = _A_WGS84 * (
            _M0 * phi - _M2 * np.sin(2 * phi) + _M4 * np.sin(4 * phi)
            - _M6 * np.sin(6 * phi)
        )
        e = 500000.0 + _K0 * nr * (
            a_ + (1 - t + c) * a_**3 / 6.0
            + (5 - 18 * t + t * t + 72 * c - 58 * _EP2) * a_**5 / 120.0
        )
        n = (0.0 if north else 10000000.0) + _K0 * (
            m + nr * tp * (
                a_**2 / 2.0 + (5 - t + 9 * c + 4 * c * c) * a_**4 / 24.0
                + (61 - 58 * t + t * t + 600 * c - 330 * _EP2) * a_**6 / 720.0
            )
        )
        ok = (
            (np.abs(xs - math.degrees(lon0)) < UTM_MAX_DLON_DEG)
            & (ys > -MERC_MAX_LAT_DEG) & (ys < MERC_MAX_LAT_DEG)
        )
        return e[ok], n[ok], ok
    if in_srs == "EPSG:4326" and out_srs in _LCC:
        p = _LCC[out_srs]
        phi = np.radians(ys)
        sp = np.sin(phi)
        t = np.tan(math.pi / 4.0 - phi / 2.0) / np.power(
            (1.0 - p.e * sp) / (1.0 + p.e * sp), p.e / 2.0
        )
        rho = p.a * p.big_f * np.power(t, p.n)
        th = p.n * np.radians(xs - p.lon0)
        e = p.fe + rho * np.sin(th)
        n = p.fn + p.rho0 - rho * np.cos(th)
        ok = (np.abs(xs - p.lon0) < LCC_MAX_DLON_DEG) & (
            np.abs(ys) < LCC_MAX_LAT_DEG
        )
        return e[ok], n[ok], ok
    raise ValueError((in_srs, out_srs))


def proj_pipeline(
    df: DataFrame, steps, x: str = "x", y: str = "y"
) -> DataFrame:
    """filters.projpipeline (ProjPipelineFilter.cpp:60-121): apply a
    CHAIN of coordinate operations in order with per-stage
    drop-on-failure semantics.

    steps = a real PROJ pipeline STRING ("+proj=pipeline +step ..."),
    handled by operators/projpipeline.py's closed-form step
    vocabulary, or the legacy registered-pair form
    [(in_srs, out_srs), ...] — e.g. 3857 -> 4326 -> UTM 31N.
    """
    if isinstance(steps, str):
        from pdal_spark.operators.projpipeline import projpipeline

        return projpipeline(df, steps, x=x, y=y)
    out = df
    for in_srs, out_srs in steps:
        out = reproject(out, in_srs, out_srs, x=x, y=y)
    return out
