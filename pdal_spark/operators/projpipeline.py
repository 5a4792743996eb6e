"""filters.projpipeline — real PROJ pipeline strings over a
closed-form step vocabulary.

The reference (filters/ProjPipelineFilter.cpp:47-121) hands the
``coord_op`` string to PROJ/OGR and drops rows whose transform fails;
``reverse_transfo`` evaluates the whole operation backwards.  This
module re-expresses the same contract without PROJ: the pipeline
string is PARSED and each step is applied as pure expression math, so
the plan stays in whole-stage codegen (no UDF).

Every step's formula is written ONCE against a tiny math backend and
instantiated three ways:

* ``_ColB``  — ``pyspark.sql.Column`` (the engine path),
* ``_SqlB``  — ANSI-SQL expression strings (the DuckDB oracle twin),
* ``_NpB``   — numpy (the unit-test oracle).

so the driver's oracle SQL is generated from the SAME source of truth
as the Spark plan.

Step vocabulary (all public formulas — PROJ documentation for the
operator semantics; Snyder 1987 "Map Projections — A Working Manual"
for the projection series; EPSG Guidance Note 7-2 for Helmert/cart):

* ``longlat`` / ``latlong`` / ``noop`` — identity.
* ``axisswap +order=2,1`` (signed orders supported).
* ``unitconvert +xy_in/+xy_out/+z_in/+z_out`` — deg/rad/grad and
  linear units.
* ``utm +zone= [+south]`` — transverse-Mercator series, forward
  (Snyder 8-9..8-15) AND inverse (Snyder 8-18..8-25, footpoint
  latitude); radian-native like real PROJ steps.
* ``tmerc`` — general transverse Mercator (free lon_0/lat_0/k/x_0/
  y_0) on the same shared core as utm.
* ``lcc`` — Lambert conformal conic 2SP, forward (Snyder 15-1..15-10)
  and inverse (15-9..15-11 + the conformal-latitude series 3-5).
* ``webmerc`` / ``merc`` — Web and full ellipsoidal Mercator
  (k_0/lat_ts), forward/inverse; EPSG 7-2 worked-example golden.
* ``stere`` — POLAR stereographic, variants A/B (EPSG 7-2 §3.4, the
  UPS/NSIDC grids); oblique aspect raises.
* ``eqc`` — equirectangular/plate carrée (spherical).
* ``aea`` — Albers equal-area conic 2SP (Snyder 14-1..14-11 + the
  authalic-latitude series 3-18; the CONUS EPSG:5070 shape), with an
  independent equal-area Jacobian oracle in the tests.
* ``sinu`` — ellipsoidal sinusoidal (Snyder 30-8/30-9; the MODIS
  land grid), inverse via the shared footpoint-latitude series;
  equal-area, same Jacobian oracle.
* ``cart`` — geodetic→geocentric (EPSG 7-2 §4.1.1); inverse via
  Bowring's closed-form method (Bowring 1976, public).
* ``helmert`` — 3/7-parameter datum shift, ``position_vector`` or
  ``coordinate_frame`` convention, the standard EPSG linearized
  formulas; the inverse applies the negated parameters (the EPSG
  reversibility convention for small rotations).
* ``+inv`` on any step; top-level ``reverse_transfo`` runs the chain
  backwards with every step's direction flipped.

Angular I/O is RADIAN-native inside the pipeline, exactly like PROJ —
hence the reference's own test string ends with
``+proj=unitconvert +xy_in=rad +xy_out=deg``
(test/unit/filters/ProjPipelineFilterTest.cpp:62).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

__all__ = ["parse_pipeline", "projpipeline", "pipeline_sql",
           "pipeline_np", "ELLIPSOIDS"]


# ---------------------------------------------------------------------------
# math backends
# ---------------------------------------------------------------------------

class _ColB:
    """pyspark Column backend — native operator overloading."""
    @staticmethod
    def lit(v):
        return F.lit(float(v))
    sin = staticmethod(F.sin)
    cos = staticmethod(F.cos)
    tan = staticmethod(F.tan)
    atan = staticmethod(F.atan)
    atan2 = staticmethod(F.atan2)
    sqrt = staticmethod(F.sqrt)
    exp = staticmethod(F.exp)
    log = staticmethod(F.log)
    abs = staticmethod(F.abs)

    @staticmethod
    def where(cond, a, b):
        return F.when(cond, a).otherwise(b)

    @staticmethod
    def both(a, b):
        return a & b

    @staticmethod
    def true():
        return F.lit(True)


class _Sx:
    """SQL expression node: a string with arithmetic overloading.
    Everything parenthesizes, so precedence is explicit."""
    __slots__ = ("s",)

    def __init__(self, s: str):
        self.s = s

    @staticmethod
    def _c(v) -> str:
        return v.s if isinstance(v, _Sx) else sql_double(v, "duckdb")

    def _bin(self, op, other, rev=False):
        a, b = (_Sx._c(other), self.s) if rev else (self.s, _Sx._c(other))
        return _Sx(f"({a} {op} {b})")

    def __add__(self, o):
        return self._bin("+", o)

    def __radd__(self, o):
        return self._bin("+", o, rev=True)

    def __sub__(self, o):
        return self._bin("-", o)

    def __rsub__(self, o):
        return self._bin("-", o, rev=True)

    def __mul__(self, o):
        return self._bin("*", o)

    def __rmul__(self, o):
        return self._bin("*", o, rev=True)

    def __truediv__(self, o):
        return self._bin("/", o)

    def __rtruediv__(self, o):
        return self._bin("/", o, rev=True)

    def __pow__(self, o):
        return _Sx(f"power({self.s}, {_Sx._c(o)})")

    def __neg__(self):
        return _Sx(f"(- {self.s})")

    def __lt__(self, o):
        return self._bin("<", o)

    def __gt__(self, o):
        return self._bin(">", o)

    def __le__(self, o):
        return self._bin("<=", o)

    def __ge__(self, o):
        return self._bin(">=", o)


def _sqlfn(name: str):
    def f(e):
        return _Sx(f"{name}({_Sx._c(e)})")
    return staticmethod(f)


class _SqlB:
    """ANSI-SQL string backend (DuckDB oracle twin)."""
    @staticmethod
    def lit(v):
        return _Sx(sql_double(v, "duckdb"))

    sin = _sqlfn("sin")
    cos = _sqlfn("cos")
    tan = _sqlfn("tan")
    atan = _sqlfn("atan")
    sqrt = _sqlfn("sqrt")
    exp = _sqlfn("exp")
    log = _sqlfn("ln")
    abs = _sqlfn("abs")

    @staticmethod
    def atan2(y, x):
        return _Sx(f"atan2({_Sx._c(y)}, {_Sx._c(x)})")

    @staticmethod
    def where(cond, a, b):
        return _Sx(f"(CASE WHEN {_Sx._c(cond)} THEN {_Sx._c(a)} "
                   f"ELSE {_Sx._c(b)} END)")

    @staticmethod
    def both(a, b):
        return _Sx(f"({_Sx._c(a)} AND {_Sx._c(b)})")

    @staticmethod
    def true():
        return _Sx("TRUE")


class _NpB:
    """numpy backend (unit-test oracle)."""
    lit = staticmethod(float)
    sin = staticmethod(np.sin)
    cos = staticmethod(np.cos)
    tan = staticmethod(np.tan)
    atan = staticmethod(np.arctan)
    atan2 = staticmethod(np.arctan2)
    sqrt = staticmethod(np.sqrt)
    exp = staticmethod(np.exp)
    log = staticmethod(np.log)
    abs = staticmethod(np.abs)
    where = staticmethod(np.where)

    @staticmethod
    def both(a, b):
        return a & b

    @staticmethod
    def true():
        return True


# ---------------------------------------------------------------------------
# parameters
# ---------------------------------------------------------------------------

#: name -> (a, 1/f).  rf = inf encodes a sphere.
ELLIPSOIDS = {
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "intl": (6378388.0, 297.0),
    "clrk66": (6378206.4, 294.9786982),
    "bessel": (6377397.155, 299.1528128),
    "sphere": (6370997.0, math.inf),
}

_ANGULAR = {"deg": math.pi / 180.0, "rad": 1.0, "grad": math.pi / 200.0}
_LINEAR = {"m": 1.0, "km": 1000.0, "cm": 0.01, "mm": 0.001,
           "ft": 0.3048, "us-ft": 1200.0 / 3937.0}
_UNITS = {**_ANGULAR, **_LINEAR}

_ARCSEC = math.pi / (180.0 * 3600.0)

#: webmerc latitude cutoff (atan(sinh(pi)) — the square-world limit)
_WEBMERC_MAX_LAT = math.atan(math.sinh(math.pi))


def _ellps(p: dict) -> tuple[float, float]:
    """step params -> (a, e2).  +ellps name, or explicit +a with
    +rf / +f / +b / +es; default GRS80 (the PROJ default)."""
    if "R" in p:
        return float(p["R"]), 0.0
    if "a" in p:
        a = float(p["a"])
        if "es" in p:
            return a, float(p["es"])
        if "b" in p:
            b = float(p["b"])
            f = (a - b) / a
        elif "rf" in p:
            f = 1.0 / float(p["rf"])
        elif "f" in p:
            f = float(p["f"])
        else:
            f = 0.0
        return a, f * (2.0 - f)
    a, rf = ELLIPSOIDS[p.get("ellps", "GRS80")]
    f = 0.0 if math.isinf(rf) else 1.0 / rf
    return a, f * (2.0 - f)


# ---------------------------------------------------------------------------
# pipeline parsing
# ---------------------------------------------------------------------------

@dataclass
class Step:
    op: str
    params: dict = field(default_factory=dict)
    inv: bool = False


def parse_pipeline(coord_op: str) -> list[Step]:
    """PROJ pipeline string -> [Step].  Accepts a full
    ``+proj=pipeline +step ...`` chain or a single bare operation
    (``+proj=utm +zone=15``)."""
    groups: list[list[str]] = [[]]
    for tok in coord_op.split():
        t = tok.lstrip("+")
        if t == "step":
            groups.append([])
        else:
            groups[-1].append(t)
    head = groups[0]
    if any(kv == "proj=pipeline" for kv in head):
        rest = [kv for kv in head if kv != "proj=pipeline"]
        if rest:
            raise ValueError(
                f"unsupported global pipeline parameters: {rest}")
        groups = groups[1:]
    steps = []
    for g in groups:
        if not g:
            continue
        op, params, inv = None, {}, False
        for kv in g:
            if kv == "inv":
                inv = True
            elif "=" in kv:
                k, v = kv.split("=", 1)
                if k == "proj":
                    op = v
                else:
                    params[k] = v
            else:
                params[kv] = True
        if op is None:
            raise ValueError(f"step without +proj=: {g}")
        if op not in _STEP_FNS:
            raise ValueError(
                f"unsupported pipeline step +proj={op} (closed-form "
                f"vocabulary: {sorted(_STEP_FNS)})")
        steps.append(Step(op, params, inv))
    return steps


# ---------------------------------------------------------------------------
# steps (backend-generic) — each returns (x, y, z, ok_or_None)
# ---------------------------------------------------------------------------

def _noop(B, p, x, y, z, inverse):
    return x, y, z, None


def _axisswap(B, p, x, y, z, inverse):
    """PROJ axisswap: +order=i,j[,k] with optional sign flips.  Its
    inverse is the inverse permutation with the same signs."""
    order = [int(t) for t in str(p.get("order", "2,1")).split(",")]
    if sorted(abs(o) for o in order) != list(range(1, len(order) + 1)):
        raise ValueError(f"axisswap order {order}")
    if inverse:
        inv_order = [0] * len(order)
        for dst, o in enumerate(order):
            inv_order[abs(o) - 1] = (dst + 1) * (1 if o > 0 else -1)
        order = inv_order
    src = [x, y, z][:len(order)]
    out = [src[abs(o) - 1] if o > 0 else -src[abs(o) - 1] for o in order]
    out += [x, y, z][len(order):]
    return out[0], out[1], out[2], None


def _unitconvert(B, p, x, y, z, inverse):
    def factor(kin, kout):
        if kin not in p or kout not in p:
            raise ValueError(
                f"unitconvert needs both +{kin} and +{kout}")
        try:
            fin, fout = _UNITS[p[kin]], _UNITS[p[kout]]
        except KeyError as e:
            raise ValueError(f"unitconvert: unknown unit {e}") from None
        f = fin / fout
        return 1.0 / f if inverse else f

    if "xy_in" in p or "xy_out" in p:
        f = factor("xy_in", "xy_out")
        if f != 1.0:
            x, y = x * B.lit(f), y * B.lit(f)
    if "z_in" in p or "z_out" in p:
        f = factor("z_in", "z_out")
        if f != 1.0:
            z = z * B.lit(f)
    return x, y, z, None


def _tm_consts(a: float, e2: float) -> dict:
    ep2 = e2 / (1.0 - e2)
    m0 = 1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0
    m2 = 3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0
    m4 = 15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0
    m6 = 35.0 * e2**3 / 3072.0
    se = math.sqrt(1.0 - e2)
    e1 = (1.0 - se) / (1.0 + se)
    return dict(a=a, e2=e2, ep2=ep2, m0=m0, m2=m2, m4=m4, m6=m6, e1=e1)


def _meridian_arc(c: dict, phi0: float) -> float:
    """M(phi0)·a — the meridian arc constant for a nonzero lat_0."""
    return c["a"] * (
        c["m0"] * phi0 - c["m2"] * math.sin(2.0 * phi0)
        + c["m4"] * math.sin(4.0 * phi0) - c["m6"] * math.sin(6.0 * phi0))


def _tmerc(B, p, x, y, z, inverse):
    """General transverse Mercator (+proj=tmerc: lon_0/lat_0/k/x_0/y_0)
    — the same Snyder series as utm with free parameters; a nonzero
    lat_0 shifts the meridian-arc origin (northing measured from
    M(lat_0), Snyder 8-9..8-25)."""
    a, e2 = _ellps(p)
    c = _tm_consts(a, e2)
    return _tmerc_core(
        B, x, y, z, inverse, c,
        lon0=math.radians(float(p.get("lon_0", 0.0))),
        m_at_lat0=_meridian_arc(
            c, math.radians(float(p.get("lat_0", 0.0)))),
        k0=float(p.get("k", p.get("k_0", 1.0))),
        fe=float(p.get("x_0", 0.0)),
        fn=float(p.get("y_0", 0.0)))


def _utm(B, p, x, y, z, inverse):
    """Snyder 8-9..8-15 (forward), 8-18..8-25 (inverse).  Radian-native
    lon/lat like PROJ pipeline steps; easting/northing in meters."""
    zone = int(p["zone"])
    if not 1 <= zone <= 60:
        raise ValueError(f"utm zone {zone}")
    south = bool(p.get("south", False))
    a, e2 = _ellps(p)
    c = _tm_consts(a, e2)
    return _tmerc_core(
        B, x, y, z, inverse, c,
        lon0=math.radians(-183.0 + 6.0 * zone), m_at_lat0=0.0,
        k0=0.9996, fe=500000.0, fn=10000000.0 if south else 0.0)


def _tmerc_core(B, x, y, z, inverse, c, lon0, m_at_lat0, k0, fe, fn):
    a, e2 = c["a"], c["e2"]
    if not inverse:
        lam, phi = x, y
        sin_p, cos_p, tan_p = B.sin(phi), B.cos(phi), B.tan(phi)
        nr = B.lit(a) / B.sqrt(B.lit(1.0) - B.lit(e2) * sin_p * sin_p)
        t = tan_p * tan_p
        cc = B.lit(c["ep2"]) * cos_p * cos_p
        a_ = (lam - B.lit(lon0)) * cos_p
        m = B.lit(a) * (
            B.lit(c["m0"]) * phi
            - B.lit(c["m2"]) * B.sin(phi * B.lit(2.0))
            + B.lit(c["m4"]) * B.sin(phi * B.lit(4.0))
            - B.lit(c["m6"]) * B.sin(phi * B.lit(6.0)))
        e = B.lit(fe) + B.lit(k0) * nr * (
            a_
            + (B.lit(1.0) - t + cc) * a_**3 / B.lit(6.0)
            + (B.lit(5.0) - t * B.lit(18.0) + t * t + cc * B.lit(72.0)
               - B.lit(58.0 * c["ep2"])) * a_**5 / B.lit(120.0))
        n = B.lit(fn) + B.lit(k0) * (
            m - B.lit(m_at_lat0) + nr * tan_p * (
                a_**2 / B.lit(2.0)
                + (B.lit(5.0) - t + cc * B.lit(9.0)
                   + cc * cc * B.lit(4.0)) * a_**4 / B.lit(24.0)
                + (B.lit(61.0) - t * B.lit(58.0) + t * t
                   + cc * B.lit(600.0) - B.lit(330.0 * c["ep2"]))
                * a_**6 / B.lit(720.0)))
        ok = B.both(
            B.abs(lam - B.lit(lon0)) < B.lit(math.radians(45.0)),
            B.abs(phi) < B.lit(math.radians(85.5)))
        return e, n, z, ok

    e1 = c["e1"]
    m = (y - B.lit(fn)) / B.lit(k0) + B.lit(m_at_lat0)
    mu = m / B.lit(a * c["m0"])
    phi1 = (mu
            + B.lit(3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0)
            * B.sin(mu * B.lit(2.0))
            + B.lit(21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0)
            * B.sin(mu * B.lit(4.0))
            + B.lit(151.0 * e1**3 / 96.0) * B.sin(mu * B.lit(6.0))
            + B.lit(1097.0 * e1**4 / 512.0) * B.sin(mu * B.lit(8.0)))
    sin1, cos1, tan1 = B.sin(phi1), B.cos(phi1), B.tan(phi1)
    c1 = B.lit(c["ep2"]) * cos1 * cos1
    t1 = tan1 * tan1
    w = B.lit(1.0) - B.lit(e2) * sin1 * sin1
    n1 = B.lit(a) / B.sqrt(w)
    r1 = B.lit(a * (1.0 - e2)) / (w * B.sqrt(w))
    d = (x - B.lit(fe)) / (n1 * B.lit(k0))
    phi = phi1 - (n1 * tan1 / r1) * (
        d * d / B.lit(2.0)
        - (B.lit(5.0) + t1 * B.lit(3.0) + c1 * B.lit(10.0)
           - c1 * c1 * B.lit(4.0) - B.lit(9.0 * c["ep2"]))
        * d**4 / B.lit(24.0)
        + (B.lit(61.0) + t1 * B.lit(90.0) + c1 * B.lit(298.0)
           + t1 * t1 * B.lit(45.0) - B.lit(252.0 * c["ep2"])
           - c1 * c1 * B.lit(3.0)) * d**6 / B.lit(720.0))
    lam = B.lit(lon0) + (
        d
        - (B.lit(1.0) + t1 * B.lit(2.0) + c1) * d**3 / B.lit(6.0)
        + (B.lit(5.0) - c1 * B.lit(2.0) + t1 * B.lit(28.0)
           - c1 * c1 * B.lit(3.0) + B.lit(8.0 * c["ep2"])
           + t1 * t1 * B.lit(24.0)) * d**5 / B.lit(120.0)) / cos1
    ok = B.both(B.abs(d) < B.lit(0.5),
                B.abs(mu) < B.lit(math.radians(85.5)))
    return lam, phi, z, ok


def _webmerc(B, p, x, y, z, inverse):
    """Spherical/Web Mercator on the ellipsoid's a (EPSG:3857 when
    a=6378137).  Radian-native."""
    a, _ = _ellps(p)
    if not inverse:
        lam, phi = x, y
        mx = lam * B.lit(a)
        my = B.log(B.tan(B.lit(math.pi / 4.0) + phi * B.lit(0.5))) * B.lit(a)
        ok = B.both(phi > B.lit(-_WEBMERC_MAX_LAT),
                    phi < B.lit(_WEBMERC_MAX_LAT))
        return mx, my, z, ok
    lam = x / B.lit(a)
    phi = B.atan(B.exp(y / B.lit(a))) * B.lit(2.0) - B.lit(math.pi / 2.0)
    return lam, phi, z, None


def _merc(B, p, x, y, z, inverse):
    """Ellipsoidal Mercator (+proj=merc: k_0 or lat_ts, x_0/y_0) —
    PROJ's default form.  Forward: y = -a k0 ln t(phi) with the same
    isometric t as LCC (Snyder 7-7); inverse via the closed-form
    conformal-latitude series (Snyder 7-13 + 3-5).  Degenerates to the
    spherical formula bit-for-bit when es = 0."""
    a, e2 = _ellps(p)
    e = math.sqrt(e2)
    if "lat_ts" in p:
        # scale from the standard parallel: k0 = m(lat_ts)
        pts = math.radians(float(p["lat_ts"]))
        s = math.sin(pts)
        k0 = math.cos(pts) / math.sqrt(1.0 - e2 * s * s)
    else:
        k0 = float(p.get("k", p.get("k_0", 1.0)))
    fe, fn = float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0))
    ak = a * k0

    if not inverse:
        lam, phi = x, y
        if e2 == 0.0:
            ln_t = -B.log(B.tan(B.lit(math.pi / 4.0) + phi * B.lit(0.5)))
        else:
            sin_p = B.sin(phi)
            ln_t = B.log(
                B.tan(B.lit(math.pi / 4.0) - phi * B.lit(0.5))
                / ((B.lit(1.0) - B.lit(e) * sin_p)
                   / (B.lit(1.0) + B.lit(e) * sin_p)) ** B.lit(e / 2.0))
        mx = B.lit(fe) + lam * B.lit(ak)
        my = B.lit(fn) - B.lit(ak) * ln_t
        # like PROJ, fail only at the poles themselves: the square-world
        # webmerc cutoff is not part of the ellipsoidal Mercator
        ok = B.abs(phi) < B.lit(math.pi / 2.0 - 1e-10)
        return mx, my, z, ok

    lam = (x - B.lit(fe)) / B.lit(ak)
    if e2 == 0.0:
        phi = (B.atan(B.exp((y - B.lit(fn)) / B.lit(ak))) * B.lit(2.0)
               - B.lit(math.pi / 2.0))
        return lam, phi, z, None
    t = B.exp((B.lit(fn) - y) / B.lit(ak))
    chi = B.lit(math.pi / 2.0) - B.atan(t) * B.lit(2.0)
    s2 = (e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0
          + 13.0 * e2**4 / 360.0)
    s4 = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
    s6 = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
    s8 = 4279.0 * e2**4 / 161280.0
    phi = (chi + B.lit(s2) * B.sin(chi * B.lit(2.0))
           + B.lit(s4) * B.sin(chi * B.lit(4.0))
           + B.lit(s6) * B.sin(chi * B.lit(6.0))
           + B.lit(s8) * B.sin(chi * B.lit(8.0)))
    return lam, phi, z, None


def _lcc(B, p, x, y, z, inverse):
    """Lambert conformal conic 2SP (+proj=lcc: lat_1/lat_2/lat_0/
    lon_0/x_0/y_0).  Forward: Snyder 15-1..15-10 via the shared
    LccParams constants (operators/reprojection.py).  Inverse: Snyder
    15-9..15-11 + the closed-form conformal-latitude series (Snyder
    3-5).  Radian-native.

    The only LCC formula in the engine: reprojection's ``_LCC`` zones
    (and ``register_lcc`` additions) run this step with their ``a`` and
    ``es``, forward under their own |dlon| < 90, |lat| < 89.5 keep rule
    in place of the mask below, inverse as written."""
    from pdal_spark.operators.reprojection import LccParams

    a, e2 = _ellps(p)
    lat1 = float(p.get("lat_1", 0.0))
    lat2 = float(p.get("lat_2", lat1))
    lp = LccParams(lat1, lat2, float(p.get("lat_0", 0.0)),
                   float(p.get("lon_0", 0.0)),
                   float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0)),
                   a=a, e2=e2)
    n, e, lon0 = lp.n, lp.e, math.radians(lp.lon0)
    af = a * lp.big_f
    sgn = 1.0 if n >= 0 else -1.0

    if not inverse:
        lam, phi = x, y
        sin_p = B.sin(phi)
        t = B.tan(B.lit(math.pi / 4.0) - phi * B.lit(0.5)) / (
            (B.lit(1.0) - B.lit(e) * sin_p)
            / (B.lit(1.0) + B.lit(e) * sin_p)) ** B.lit(e / 2.0)
        rho = B.lit(af) * t ** B.lit(n)
        theta = B.lit(n) * (lam - B.lit(lon0))
        xe = B.lit(lp.fe) + rho * B.sin(theta)
        yn = B.lit(lp.fn) + B.lit(lp.rho0) - rho * B.cos(theta)
        ok = B.both(
            B.abs(lam - B.lit(lon0)) < B.lit(math.radians(60.0)),
            B.abs(phi) < B.lit(math.radians(89.0)))
        return xe, yn, z, ok

    dx = (x - B.lit(lp.fe)) * B.lit(sgn)
    dy = (B.lit(lp.rho0) - (y - B.lit(lp.fn))) * B.lit(sgn)
    rho = B.sqrt(dx * dx + dy * dy) * B.lit(sgn)
    theta = B.atan2(dx, dy)
    lam = theta / B.lit(n) + B.lit(lon0)
    t = (rho / B.lit(af)) ** B.lit(1.0 / n)
    chi = B.lit(math.pi / 2.0) - B.atan(t) * B.lit(2.0)
    # conformal -> geodetic latitude, Snyder 3-5 series in e^2
    s2 = (e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0
          + 13.0 * e2**4 / 360.0)
    s4 = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
    s6 = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
    s8 = 4279.0 * e2**4 / 161280.0
    phi = (chi + B.lit(s2) * B.sin(chi * B.lit(2.0))
           + B.lit(s4) * B.sin(chi * B.lit(4.0))
           + B.lit(s6) * B.sin(chi * B.lit(6.0))
           + B.lit(s8) * B.sin(chi * B.lit(8.0)))
    return lam, phi, z, None


def _conformal_series(B, e2: float, chi):
    """Conformal -> geodetic latitude, Snyder 3-5 (closed form)."""
    s2 = (e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0
          + 13.0 * e2**4 / 360.0)
    s4 = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
    s6 = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
    s8 = 4279.0 * e2**4 / 161280.0
    return (chi + B.lit(s2) * B.sin(chi * B.lit(2.0))
            + B.lit(s4) * B.sin(chi * B.lit(4.0))
            + B.lit(s6) * B.sin(chi * B.lit(6.0))
            + B.lit(s8) * B.sin(chi * B.lit(8.0)))


def _eqc(B, p, x, y, z, inverse):
    """Equirectangular / plate carrée (+proj=eqc: lat_ts, lon_0,
    x_0/y_0) — spherical closed form on the ellipsoid's a, like PROJ's
    default eqc sphericalization."""
    a, _ = _ellps(p)
    k = a * math.cos(math.radians(float(p.get("lat_ts", 0.0))))
    lon0 = math.radians(float(p.get("lon_0", 0.0)))
    fe, fn = float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0))
    if not inverse:
        return (B.lit(fe) + (x - B.lit(lon0)) * B.lit(k),
                B.lit(fn) + y * B.lit(a), z, None)
    return ((x - B.lit(fe)) / B.lit(k) + B.lit(lon0),
            (y - B.lit(fn)) / B.lit(a), z, None)


def _adjlon(B, lam):
    """A longitude less than one turn outside (-pi, pi], wrapped into
    it (PROJ's adjlon)."""
    return B.where(lam > B.lit(math.pi), lam - B.lit(2.0 * math.pi),
                   B.where(lam > B.lit(-math.pi), lam,
                           lam + B.lit(2.0 * math.pi)))


def _stere(B, p, x, y, z, inverse):
    """POLAR stereographic (+proj=stere with lat_0=±90: k_0 or lat_ts,
    lon_0, x_0/y_0) — EPSG Guidance Note 7-2 §3.4 variants A/B
    (Snyder 21-33..21-41); the UPS / NSIDC sea-ice grids.  The oblique
    aspect needs different math and raises honestly."""
    a, e2 = _ellps(p)
    e = math.sqrt(e2)
    lat0 = float(p.get("lat_0", 90.0))
    if abs(lat0) != 90.0:
        raise ValueError(
            f"+proj=stere is implemented for the POLAR aspect only "
            f"(lat_0=±90, the UPS/NSIDC shape); got lat_0={lat0}")
    south = lat0 < 0
    lon0 = math.radians(float(p.get("lon_0", 0.0)))
    fe, fn = float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0))
    ee = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    if "lat_ts" in p:
        # variant B: scale from the standard parallel
        pf = math.radians(abs(float(p["lat_ts"])))
        sf = math.sin(pf)
        mf = math.cos(pf) / math.sqrt(1.0 - e2 * sf * sf)
        tf = math.tan(math.pi / 4.0 - pf / 2.0) * (
            (1.0 + e * sf) / (1.0 - e * sf)) ** (e / 2.0)
        k0 = mf * ee / (2.0 * tf)
    else:
        k0 = float(p.get("k", p.get("k_0", 1.0)))
    rk = 2.0 * a * k0 / ee

    if not inverse:
        lam, phi = x, y
        if south:
            lam, phi = -lam, -phi  # solve the north aspect, mirror
        sin_p = B.sin(phi)
        t = B.tan(B.lit(math.pi / 4.0) - phi * B.lit(0.5)) * (
            (B.lit(1.0) + B.lit(e) * sin_p)
            / (B.lit(1.0) - B.lit(e) * sin_p)) ** B.lit(e / 2.0)
        rho = B.lit(rk) * t
        dl = lam - B.lit(-lon0 if south else lon0)
        xe = rho * B.sin(dl)
        yn = -(rho * B.cos(dl))
        if south:
            xe, yn = -xe, -yn
        # phi is post-mirror, so the north-aspect bound covers both
        ok = phi > B.lit(math.radians(-45.0))
        return B.lit(fe) + xe, B.lit(fn) + yn, z, ok

    dx, dy = x - B.lit(fe), y - B.lit(fn)
    if south:
        dx, dy = -dx, -dy
    rho = B.sqrt(dx * dx + dy * dy)
    t = rho / B.lit(rk)
    chi = B.lit(math.pi / 2.0) - B.atan(t) * B.lit(2.0)
    phi = _conformal_series(B, e2, chi)
    lam = B.lit(-lon0 if south else lon0) + B.atan2(dx, -dy)
    if south:
        lam, phi = -lam, -phi
    return _adjlon(B, lam), phi, z, None


def _sinu(B, p, x, y, z, inverse):
    """Ellipsoidal sinusoidal (+proj=sinu: lon_0/x_0/y_0) — the MODIS
    land-grid projection.  Forward: Snyder 30-8/30-9 (x scaled by the
    parallel radius, y = the meridian arc).  Inverse: footpoint
    latitude via the same rectifying series the tmerc core uses
    (Snyder 3-26), then x unscaled.  Equal-area — pinned by the same
    Jacobian oracle as aea."""
    a, e2 = _ellps(p)
    c = _tm_consts(a, e2)
    lon0 = math.radians(float(p.get("lon_0", 0.0)))
    fe, fn = float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0))

    if not inverse:
        lam, phi = x, y
        sin_p = B.sin(phi)
        w = B.sqrt(B.lit(1.0) - B.lit(e2) * sin_p * sin_p)
        xe = B.lit(fe) + B.lit(a) * (lam - B.lit(lon0)) * B.cos(phi) / w
        m = B.lit(a) * (
            B.lit(c["m0"]) * phi
            - B.lit(c["m2"]) * B.sin(phi * B.lit(2.0))
            + B.lit(c["m4"]) * B.sin(phi * B.lit(4.0))
            - B.lit(c["m6"]) * B.sin(phi * B.lit(6.0)))
        yn = B.lit(fn) + m
        ok = B.abs(phi) < B.lit(math.radians(89.9))
        return xe, yn, z, ok

    e1 = c["e1"]
    mu = (y - B.lit(fn)) / B.lit(a * c["m0"])
    phi = (mu
           + B.lit(3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0)
           * B.sin(mu * B.lit(2.0))
           + B.lit(21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0)
           * B.sin(mu * B.lit(4.0))
           + B.lit(151.0 * e1**3 / 96.0) * B.sin(mu * B.lit(6.0))
           + B.lit(1097.0 * e1**4 / 512.0) * B.sin(mu * B.lit(8.0)))
    sin_p = B.sin(phi)
    w = B.sqrt(B.lit(1.0) - B.lit(e2) * sin_p * sin_p)
    lam = B.lit(lon0) + (x - B.lit(fe)) * w / (B.lit(a) * B.cos(phi))
    return lam, phi, z, None


def _aea(B, p, x, y, z, inverse):
    """Albers equal-area conic 2SP (+proj=aea: lat_1/lat_2/lat_0/
    lon_0/x_0/y_0) — the CONUS EPSG:5070 shape.  Forward: Snyder
    14-1..14-6; inverse: 14-8..14-11 with the closed-form
    authalic-latitude series (Snyder 3-18)."""
    a, e2 = _ellps(p)
    e = math.sqrt(e2)

    def q_of(phi):
        s = math.sin(phi)
        if e == 0.0:
            return 2.0 * s
        return (1.0 - e2) * (
            s / (1.0 - e2 * s * s)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))

    def m_of(phi):
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    lat1 = math.radians(float(p.get("lat_1", 0.0)))
    lat2 = math.radians(float(p.get("lat_2", math.degrees(lat1))))
    lat0 = math.radians(float(p.get("lat_0", 0.0)))
    lon0 = math.radians(float(p.get("lon_0", 0.0)))
    fe, fn = float(p.get("x_0", 0.0)), float(p.get("y_0", 0.0))
    m1, m2 = m_of(lat1), m_of(lat2)
    q0, q1, q2 = q_of(lat0), q_of(lat1), q_of(lat2)
    if abs(lat1 - lat2) > 1e-12:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    else:
        n = math.sin(lat1)
    c = m1 * m1 + n * q1
    rho0 = a * math.sqrt(c - n * q0) / n
    qp = q_of(math.pi / 2.0)
    sgn = 1.0 if n >= 0 else -1.0

    if not inverse:
        lam, phi = x, y
        sin_p = B.sin(phi)
        if e == 0.0:
            q = sin_p * B.lit(2.0)
        else:
            q = B.lit(1.0 - e2) * (
                sin_p / (B.lit(1.0) - B.lit(e2) * sin_p * sin_p)
                - B.lit(1.0 / (2.0 * e)) * B.log(
                    (B.lit(1.0) - B.lit(e) * sin_p)
                    / (B.lit(1.0) + B.lit(e) * sin_p)))
        rho = B.lit(a) * B.sqrt(B.lit(c) - B.lit(n) * q) / B.lit(n)
        theta = B.lit(n) * (lam - B.lit(lon0))
        xe = B.lit(fe) + rho * B.sin(theta)
        yn = B.lit(fn) + B.lit(rho0) - rho * B.cos(theta)
        ok = B.both(B.abs(lam - B.lit(lon0)) < B.lit(math.radians(90.0)),
                    B.abs(phi) < B.lit(math.radians(89.5)))
        return xe, yn, z, ok

    dx = (x - B.lit(fe)) * B.lit(sgn)
    dy = (B.lit(rho0) - (y - B.lit(fn))) * B.lit(sgn)
    rho = B.sqrt(dx * dx + dy * dy)
    theta = B.atan2(dx, dy)
    lam = theta / B.lit(n) + B.lit(lon0)
    q = (B.lit(c) - rho * rho * B.lit(n * n / (a * a))) / B.lit(n)
    # authalic latitude beta = asin(q/qp); asin(v) = atan2(v, sqrt(1-v^2))
    v = q / B.lit(qp)
    beta = B.atan2(v, B.sqrt(B.lit(1.0) - v * v))
    # authalic -> geodetic, Snyder 3-18 (closed form)
    a2 = e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0
    a4 = 23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0
    a6 = 761.0 * e2**3 / 45360.0
    phi = (beta + B.lit(a2) * B.sin(beta * B.lit(2.0))
           + B.lit(a4) * B.sin(beta * B.lit(4.0))
           + B.lit(a6) * B.sin(beta * B.lit(6.0)))
    return lam, phi, z, None


def _cart(B, p, x, y, z, inverse):
    """Geodetic (lon, lat, h) <-> geocentric (X, Y, Z).
    Forward: EPSG Guidance Note 7-2 §4.1.1.  Inverse: Bowring 1976
    closed form (first-pass parametric latitude; ~1e-9 deg accuracy)."""
    a, e2 = _ellps(p)
    b = a * math.sqrt(1.0 - e2)
    if not inverse:
        lam, phi, h = x, y, z
        sin_p, cos_p = B.sin(phi), B.cos(phi)
        nr = B.lit(a) / B.sqrt(B.lit(1.0) - B.lit(e2) * sin_p * sin_p)
        xx = (nr + h) * cos_p * B.cos(lam)
        yy = (nr + h) * cos_p * B.sin(lam)
        zz = (nr * B.lit(1.0 - e2) + h) * sin_p
        return xx, yy, zz, None
    ep2 = e2 / (1.0 - e2)
    pr = B.sqrt(x * x + y * y)
    theta = B.atan2(z * B.lit(a), pr * B.lit(b))
    st, ct = B.sin(theta), B.cos(theta)
    phi = B.atan2(z + B.lit(ep2 * b) * st * st * st,
                  pr - B.lit(e2 * a) * ct * ct * ct)
    lam = B.atan2(y, x)
    sin_p, cos_p = B.sin(phi), B.cos(phi)
    nr = B.lit(a) / B.sqrt(B.lit(1.0) - B.lit(e2) * sin_p * sin_p)
    # h from the dominant axis to stay well-conditioned near the poles
    h = B.where(B.abs(cos_p) > B.lit(1e-10),
                pr / cos_p - nr,
                z / sin_p - nr * B.lit(1.0 - e2))
    return lam, phi, h, None


def _helmert(B, p, x, y, z, inverse):
    """3/7-parameter Helmert transform, EPSG linearized formulas
    (Guidance Note 7-2 §4.3.3): translations in meters, rotations in
    arc-seconds, scale in ppm.  +convention=position_vector (EPSG
    "position vector", the PROJ default when rotations are given) or
    coordinate_frame (rotation signs flipped).  The inverse applies the
    negated parameters — the standard EPSG reversibility convention for
    small rotations."""
    tx, ty, tz = (float(p.get(k, 0.0)) for k in ("x", "y", "z"))
    rx, ry, rz = (float(p.get(k, 0.0)) * _ARCSEC
                  for k in ("rx", "ry", "rz"))
    ds = float(p.get("s", 0.0)) * 1e-6
    conv = p.get("convention", "position_vector")
    if conv not in ("position_vector", "coordinate_frame"):
        raise ValueError(f"helmert convention {conv}")
    if conv == "coordinate_frame":
        rx, ry, rz = -rx, -ry, -rz
    if inverse:
        tx, ty, tz, rx, ry, rz, ds = -tx, -ty, -tz, -rx, -ry, -rz, -ds
    m = 1.0 + ds
    xx = B.lit(tx) + B.lit(m) * (x - B.lit(rz) * y + B.lit(ry) * z)
    yy = B.lit(ty) + B.lit(m) * (B.lit(rz) * x + y - B.lit(rx) * z)
    zz = B.lit(tz) + B.lit(m) * (-B.lit(ry) * x + B.lit(rx) * y + z)
    return xx, yy, zz, None


_STEP_FNS = {
    "noop": _noop,
    "longlat": _noop,
    "latlong": _noop,
    "axisswap": _axisswap,
    "unitconvert": _unitconvert,
    "utm": _utm,
    "tmerc": _tmerc,
    "lcc": _lcc,
    "webmerc": _webmerc,
    "merc": _merc,
    "stere": _stere,
    "eqc": _eqc,
    "aea": _aea,
    "sinu": _sinu,
    "cart": _cart,
    "helmert": _helmert,
}


def _apply(B, steps: list[Step], x, y, z, reverse: bool):
    """Run the chain under backend B -> (x, y, z, ok_or_TRUE)."""
    seq = list(reversed(steps)) if reverse else steps
    ok = None
    for st in seq:
        x, y, z, sok = _STEP_FNS[st.op](
            B, st.params, x, y, z, inverse=st.inv ^ reverse)
        if sok is not None:
            ok = sok if ok is None else B.both(ok, sok)
    return x, y, z, (B.true() if ok is None else ok)


# ---------------------------------------------------------------------------
# public surfaces
# ---------------------------------------------------------------------------

def projpipeline(
    df: DataFrame,
    coord_op: str,
    reverse_transfo: bool = False,
    x: str = "x",
    y: str = "y",
    z: str | None = None,
) -> DataFrame:
    """filters.projpipeline (ProjPipelineFilter.cpp:105-121): apply
    ``coord_op`` to (x, y, z) in place, DROPPING rows whose transform
    falls outside a step's domain (the reference drops rows whose PROJ
    transform fails).  ``z=None`` runs the chain with z=0 and leaves
    no z column behind.  Pure Column math — stays in codegen."""
    steps = parse_pipeline(coord_op)
    zc = F.lit(0.0) if z is None else F.col(z)
    nx, ny, nz, ok = _apply(
        _ColB, steps, F.col(x), F.col(y), zc, reverse_transfo)
    out = df.withColumn("_ok", ok).filter(F.col("_ok"))
    cols = {x: nx, y: ny}
    if z is not None:
        cols[z] = nz
    return out.withColumns(cols).drop("_ok")


def pipeline_sql(
    coord_op: str,
    reverse_transfo: bool = False,
    x: str = "x",
    y: str = "y",
    z: str | None = None,
) -> tuple[str, str, str, str]:
    """The DuckDB oracle twin: (x_sql, y_sql, z_sql, where_sql)
    generated from the SAME step implementations as the Spark plan."""
    steps = parse_pipeline(coord_op)
    zc = _Sx("0.0") if z is None else _Sx(z)
    nx, ny, nz, ok = _apply(_SqlB, steps, _Sx(x), _Sx(y), zc,
                            reverse_transfo)
    return nx.s, ny.s, _Sx._c(nz), _Sx._c(ok)


def pipeline_np(
    coord_op: str,
    xs,
    ys,
    zs=None,
    reverse_transfo: bool = False,
):
    """numpy twin -> (x, y, z, ok_mask)."""
    steps = parse_pipeline(coord_op)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    zs = (np.zeros_like(xs) if zs is None
          else np.asarray(zs, dtype=np.float64))
    nx, ny, nz, ok = _apply(_NpB, steps, xs, ys, zs, reverse_transfo)
    if ok is True:
        ok = np.ones(xs.shape, dtype=bool)
    return nx, ny, nz, ok
