"""True WGS84 -> UTM (transverse Mercator) as deterministic column math.

Replaces the round-1 affine stand-in with the real forward transform
(reference: ``reproj_wgs84_vec_to_utm``, python/rsgislib/vectorutils/
__init__.py:2459, and ``reproj_vector_layer`` :779 — both delegate to
OGR/pyproj; the closed form here is the classic Snyder 1987 §8 series
for the ellipsoid).

Determinism design: libm ``sin``/``cos`` differ between the JVM and
DuckDB in the last ulp on ~0.2% of inputs (measured on this box), which
would break the bit-exact oracle gate.  So the ONLY transcendentals
used are fixed-coefficient Taylor polynomials in Horner form — plain
``* + /`` IEEE arithmetic that every engine evaluates identically:

* ``sin``/``cos`` of latitude via degree-15/14 Taylor on [-pi/2, pi/2]
  (|error| < 7e-12 rad => < 0.05 mm on the ellipsoid);
* ``sin 2phi / 4phi / 6phi`` via exact multiple-angle identities from
  the polynomial sin/cos (no large-argument evaluation);
* ``sqrt`` is IEEE-correctly-rounded everywhere, so it is safe as-is.

Accuracy vs pyproj: < 1e-4 m across UTM zone extents — far inside the
reference's own tolerance; determinism: bit-identical across engines,
partitionings and cluster sizes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

__all__ = [
    "utm_forward_sql",
    "central_meridian_deg",
    "TMParams",
    "tm_forward_sql",
    "tm_forward_steps",
    "StepBuilder",
    "inline_steps",
    "epsg_tm_params",
    "EPSG_TM",
    "cos_sql",
    "dlit",
]

#: UTM scale factor on the central meridian
_K0 = 0.9996

#: Taylor coefficients (Horner, innermost last): sin x = x * P(x^2)
_SIN_C = [1.0, -1.0 / 6, 1.0 / 120, -1.0 / 5040, 1.0 / 362880,
          -1.0 / 39916800, 1.0 / 6227020800, -1.0 / 1307674368000]
#: cos x = Q(x^2)
_COS_C = [1.0, -1.0 / 2, 1.0 / 24, -1.0 / 720, 1.0 / 40320,
          -1.0 / 3628800, 1.0 / 479001600, -1.0 / 87178291200]


def dlit(x: float) -> str:
    """Emit a double constant as exact integer-mantissa arithmetic.

    ``repr(x)`` literals are parse-path hazards: DuckDB's in-engine
    string->double CAST is off by one ulp for some 17-digit literals
    (measured: CAST('0.39089081105203316' AS DOUBLE) != the Python/JVM
    parse), and bare literals go through DECIMAL with its own rounding.
    ``mant / 2^k`` sidesteps every parser: the integer mantissa
    (< 2^53) converts exactly and power-of-two division is exact IEEE,
    so the expression evaluates to bit-exactly ``x`` in any engine.
    """
    if x == 0.0:
        return "CAST(0 AS DOUBLE)"
    sign = "-" if x < 0 else ""
    m, e = math.frexp(abs(x))
    mant = int(m * (1 << 53))       # exact: m has <= 53 significant bits
    shift = 53 - e                  # abs(x) = mant / 2^shift
    expr = f"CAST({mant} AS DOUBLE)"
    while shift > 0:
        s = min(shift, 62)
        expr = f"({expr} / {1 << s})"
        shift -= s
    while shift < 0:
        s = min(-shift, 62)
        expr = f"({expr} * {1 << s})"
        shift += s
    return f"({sign}{expr})"


def _horner(x2: str, coeffs) -> str:
    expr = dlit(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        expr = f"({dlit(c)} + ({x2}) * ({expr}))"
    return expr


def cos_sql(rad: str) -> str:
    """Polynomial cos of a radian expression, |rad| <= pi/2.

    Degree-14 Taylor via :func:`_horner` — identical IEEE operation
    sequence in every engine (rel. error < 1e-13 on the domain), so
    expressions built from it pass the exact value-hash oracle gate
    where libm ``cos`` would diverge in the last ulp (NOTES lesson 3).
    """
    x2 = f"(({rad}) * ({rad}))"
    return _horner(x2, _COS_C)


class StepBuilder:
    """Accumulates named intermediate-column expressions.

    Inlining the full projection series into one SQL string produces
    50-220 KB expression text whose Catalyst parse/analyze dominates the
    query (measured: 60-120 s per conic reproj at sf0.01).  Naming each
    shared subexpression as a chained projection column keeps the plan
    tree small while performing the IDENTICAL IEEE operations in the
    identical order, so oracle hashes are unchanged.  Names are
    fixed-length (``pfx`` + 2 digits) so no name is a prefix of another
    — a requirement of :func:`inline_steps`' textual substitution.
    """

    def __init__(self, pfx: str):
        self.steps: list[tuple[str, str]] = []
        self._pfx = pfx

    def add(self, expr: str) -> str:
        name = f"{self._pfx}{len(self.steps):02d}"
        self.steps.append((name, expr))
        return name


def inline_steps(steps, finals):
    """Substitute step columns back into full inline SQL (for engines
    like DuckDB that parse large expressions cheaply — the oracle path).
    Produces the same arithmetic as evaluating the steps as columns."""
    env: list[tuple[str, str]] = []
    for name, expr in steps:
        for k, v in env:
            expr = expr.replace(k, v)
        env.append((name, f"({expr})"))
    out = []
    for f in finals:
        for k, v in env:
            f = f.replace(k, v)
        out.append(f)
    return out


def central_meridian_deg(zone: int) -> float:
    return -183.0 + 6.0 * int(zone)


@dataclass(frozen=True)
class TMParams:
    """A transverse-Mercator projected CRS: ellipsoid + TM parameters.

    ``reproj_vector_layer`` (reference: python/rsgislib/vectorutils/
    __init__.py:779) accepts any OGR SRS; the TM family (every UTM
    zone, national grids like OSGB/ITM) is parameterized by exactly
    these seven numbers.  Coordinates are assumed geodetic in the
    CRS's own datum (the projection step of a reprojection; cross-
    datum Helmert shifts are the one part the engine scopes out, as
    they need iterated inverse trig that cannot be made bit-exact).
    """

    a: float            # semi-major axis (m)
    inv_f: float        # inverse flattening
    lon0: float         # central meridian (deg)
    lat0: float         # latitude of origin (deg)
    k0: float           # scale at central meridian
    fe: float           # false easting (m)
    fn: float           # false northing (m)


def _merid_arc_coeffs(e2: float):
    m0 = 1.0 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256
    m1 = 3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024
    m2 = 15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024
    m3 = 35 * e2 ** 3 / 3072
    return m0, m1, m2, m3


def tm_forward_sql(lon: str, lat: str, p: TMParams) -> tuple[str, str]:
    """(easting_expr, northing_expr) inline SQL for any TM-family CRS.

    The substituted form of :func:`tm_forward_steps` — same IEEE ops,
    one (large) self-contained string.  Use for engines that parse big
    expressions cheaply (the DuckDB oracle); Spark-side callers should
    evaluate the steps as chained columns instead.
    """
    steps, e, n = tm_forward_steps(lon, lat, p)
    e_i, n_i = inline_steps(steps, [e, n])
    return e_i, n_i


def tm_forward_steps(lon: str, lat: str, p: TMParams,
                     pfx: str = "__tm") -> tuple[list, str, str]:
    """(steps, easting_expr, northing_expr) for any TM-family CRS.

    The Snyder 1987 §8 series with the same polynomial-trig determinism
    strategy as the UTM specialization; ``M0`` (the meridional arc at
    ``lat0``) is folded driver-side into a single literal, so the SQL
    stays one additive constant per expression (NOTES.md lesson 2).
    Pure arithmetic — valid verbatim in Spark SQL and DuckDB.  Shared
    subexpressions are named step columns (see :class:`StepBuilder`).
    """
    f_ = 1.0 / p.inv_f
    e2 = f_ * (2.0 - f_)
    ep2 = e2 / (1.0 - e2)
    deg2rad = dlit(math.pi / 180.0)
    b = StepBuilder(pfx)
    phi = b.add(f"(({lat}) * {deg2rad})")
    dlam = b.add(f"((({lon}) - {dlit(p.lon0)}) * {deg2rad})")

    x2 = b.add(f"({phi} * {phi})")
    s = b.add(f"({phi} * {_horner(x2, _SIN_C)})")
    c = b.add(f"({_horner(x2, _COS_C)})")
    # multiple angles from (s, c) — exact identities, no big arguments
    s2 = b.add(f"(2.0 * {s} * {c})")
    c2 = b.add(f"(1.0 - 2.0 * {s} * {s})")
    s4 = b.add(f"(2.0 * {s2} * {c2})")
    c4 = b.add(f"(1.0 - 2.0 * {s2} * {s2})")
    s6 = b.add(f"({s4} * {c2} + {c4} * {s2})")

    n_ = b.add(f"({dlit(p.a)} / sqrt(1.0 - {dlit(e2)} * {s} * {s}))")
    t = b.add(f"(({s} / {c}) * ({s} / {c}))")
    cc = b.add(f"({dlit(ep2)} * {c} * {c})")
    a_ = b.add(f"({dlam} * {c})")

    m0, m1, m2, m3 = _merid_arc_coeffs(e2)
    m = b.add(f"({dlit(p.a)} * ({dlit(m0)} * {phi} - {dlit(m1)} * {s2}"
              f" + {dlit(m2)} * {s4} - {dlit(m3)} * {s6}))")
    # meridional arc at the latitude of origin: a driver-side constant
    phi0 = math.radians(p.lat0)
    m_at_0 = p.a * (m0 * phi0 - m1 * math.sin(2 * phi0)
                    + m2 * math.sin(4 * phi0) - m3 * math.sin(6 * phi0))
    # fold FN - k0*M0 into ONE literal (Catalyst reassociates chained
    # additive constants, NOTES.md determinism lesson 2)
    n_off = p.fn - p.k0 * m_at_0

    a2 = b.add(f"({a_} * {a_})")
    # 58*ep2 / 330*ep2 folded in PYTHON (one literal each — NOTES.md
    # lesson 2), emitted via dlit like every other constant
    ep58 = 58.0 * ep2
    ep330 = 330.0 * ep2
    easting = (
        f"({dlit(p.k0)} * {n_} * ({a_}"
        f" + (1.0 - {t} + {cc}) * {a_} * {a2} / 6.0"
        f" + (5.0 - 18.0 * {t} + {t} * {t} + 72.0 * {cc}"
        f" - {dlit(ep58)}) * {a_} * {a2} * {a2} / 120.0)"
        f" + {dlit(p.fe)})"
    )
    northing = (
        f"({dlit(p.k0)} * ({m} + {n_} * ({s} / {c}) * ({a2} / 2.0"
        f" + (5.0 - {t} + 9.0 * {cc} + 4.0 * {cc} * {cc})"
        f" * {a2} * {a2} / 24.0"
        f" + (61.0 - 58.0 * {t} + {t} * {t} + 600.0 * {cc}"
        f" - {dlit(ep330)}) * {a2} * {a2} * {a2} / 720.0))"
        f" + {dlit(n_off)})"
    )
    return b.steps, easting, northing


#: ellipsoids (a, 1/f)
_WGS84 = (6378137.0, 298.257223563)
_GRS80 = (6378137.0, 298.257222101)
_AIRY1830 = (6377563.396, 299.3249646)

#: EPSG registry for the TM family the reference's workflows touch:
#: WGS84 UTM north/south (326xx/327xx), ETRS89 UTM (258xx), NAD83 UTM
#: (269xx), British National Grid (27700 — the reference's own test
#: fixtures, python_tests/test_imageutils.py, are EPSG:27700), Irish TM
#: (2157).
EPSG_TM: dict[int, TMParams] = {}
for _z in range(1, 61):
    _cm = -183.0 + 6.0 * _z
    EPSG_TM[32600 + _z] = TMParams(*_WGS84, _cm, 0.0, 0.9996, 500000.0, 0.0)
    EPSG_TM[32700 + _z] = TMParams(*_WGS84, _cm, 0.0, 0.9996, 500000.0,
                                   10000000.0)
for _z in range(28, 39):
    EPSG_TM[25800 + _z] = TMParams(*_GRS80, -183.0 + 6.0 * _z, 0.0, 0.9996,
                                   500000.0, 0.0)
for _z in range(1, 24):
    EPSG_TM[26900 + _z] = TMParams(*_GRS80, -183.0 + 6.0 * _z, 0.0, 0.9996,
                                   500000.0, 0.0)
EPSG_TM[27700] = TMParams(*_AIRY1830, -2.0, 49.0, 0.9996012717,
                          400000.0, -100000.0)
EPSG_TM[2157] = TMParams(*_GRS80, -8.0, 53.5, 0.99982, 600000.0, 750000.0)


def epsg_tm_params(epsg: int) -> TMParams:
    try:
        return EPSG_TM[int(epsg)]
    except KeyError:
        raise ValueError(
            f"EPSG:{epsg} is not a registered TM-family CRS; supported: "
            "UTM 326xx/327xx, ETRS89 258xx, NAD83 269xx, 27700, 2157"
        ) from None


def utm_forward_sql(lon: str, lat: str, zone: int,
                    south: bool = False) -> tuple[str, str]:
    """(easting_expr, northing_expr) SQL for the given UTM zone.

    The WGS84 specialization of :func:`tm_forward_sql` (kept as the
    existing oracle-stable entry point).
    """
    return tm_forward_sql(lon, lat, TMParams(
        *_WGS84, central_meridian_deg(zone), 0.0, _K0,
        500000.0, 10000000.0 if south else 0.0))


def utm_forward_steps(lon: str, lat: str, zone: int,
                      south: bool = False) -> tuple[list, str, str]:
    """Step-column form of :func:`utm_forward_sql` (same IEEE ops)."""
    return tm_forward_steps(lon, lat, TMParams(
        *_WGS84, central_meridian_deg(zone), 0.0, _K0,
        500000.0, 10000000.0 if south else 0.0))


def tm_inverse_steps(e: str, n: str, p: TMParams,
                     pfx: str = "__ti") -> tuple[list, str, str]:
    """(steps, lon_deg_expr, lat_deg_expr): the Snyder 1987 §8 INVERSE
    transverse-Mercator series (footpoint latitude via the e1
    rectifying series, then the D-power corrections).

    Reference consumer: vectorutils.merge_utm_vecs_wgs84
    (vectorutils/__init__.py:3045) reprojects per-zone UTM layers back
    to WGS84 before merging.  Determinism matches the forward path:
    polynomial sin/cos (|arg| <= pi/2 — footpoint <= 84 deg), multiple
    angles by exact identities, ``x**1.5`` pinned as ``x * sqrt(x)``,
    and every multi-term constant folded in PYTHON so each expression
    carries at most one additive literal (NOTES lesson 2)."""
    f_ = 1.0 / p.inv_f
    e2 = f_ * (2.0 - f_)
    ep2 = e2 / (1.0 - e2)
    b = StepBuilder(pfx)
    m0c, m1c, m2c, m3c = _merid_arc_coeffs(e2)
    phi0 = math.radians(p.lat0)
    m_at_0 = p.a * (m0c * phi0 - m1c * math.sin(2 * phi0)
                    + m2c * math.sin(4 * phi0) - m3c * math.sin(6 * phi0))
    m = b.add(f"({dlit(m_at_0)} + (({n}) - {dlit(p.fn)}) / {dlit(p.k0)})")
    mu = b.add(f"({m} / {dlit(p.a * m0c)})")
    se = math.sqrt(1.0 - e2)
    e1 = (1.0 - se) / (1.0 + se)
    j1 = 3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0
    j2 = 21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0
    j3 = 151.0 * e1 ** 3 / 96.0
    j4 = 1097.0 * e1 ** 4 / 512.0
    x2 = b.add(f"({mu} * {mu})")
    smu = b.add(f"({mu} * {_horner(x2, _SIN_C)})")
    cmu = b.add(f"({_horner(x2, _COS_C)})")
    s2m = b.add(f"(2.0 * {smu} * {cmu})")
    c2m = b.add(f"(1.0 - 2.0 * {smu} * {smu})")
    s4m = b.add(f"(2.0 * {s2m} * {c2m})")
    c4m = b.add(f"(1.0 - 2.0 * {s2m} * {s2m})")
    s6m = b.add(f"({s4m} * {c2m} + {c4m} * {s2m})")
    s8m = b.add(f"(2.0 * {s4m} * {c4m})")
    phi1 = b.add(f"({mu} + {dlit(j1)} * {s2m} + {dlit(j2)} * {s4m}"
                 f" + {dlit(j3)} * {s6m} + {dlit(j4)} * {s8m})")
    p2 = b.add(f"({phi1} * {phi1})")
    s1 = b.add(f"({phi1} * {_horner(p2, _SIN_C)})")
    c1 = b.add(f"({_horner(p2, _COS_C)})")
    den = b.add(f"(1.0 - {dlit(e2)} * {s1} * {s1})")
    n1 = b.add(f"({dlit(p.a)} / sqrt({den}))")
    r1 = b.add(f"({dlit(p.a * (1.0 - e2))} / ({den} * sqrt({den})))")
    t1 = b.add(f"(({s1} / {c1}) * ({s1} / {c1}))")
    cc1 = b.add(f"({dlit(ep2)} * {c1} * {c1})")
    d = b.add(f"((({e}) - {dlit(p.fe)}) / ({n1} * {dlit(p.k0)}))")
    d2 = b.add(f"({d} * {d})")
    # constants with ep2 folded in Python (one additive literal each)
    k24 = 5.0 - 9.0 * ep2     # + 3T1 + 10C1 - 4C1^2
    k720 = 61.0 - 252.0 * ep2  # + 90T1 + 298C1 + 45T1^2 - 3C1^2
    k120 = 5.0 + 8.0 * ep2    # - 2C1 + 28T1 - 3C1^2 + 24T1^2
    lat_rad = (
        f"({phi1} - ({n1} * ({s1} / {c1}) / {r1}) * ({d2} / 2.0"
        f" - ({dlit(k24)} + 3.0 * {t1} + 10.0 * {cc1}"
        f" - 4.0 * {cc1} * {cc1}) * {d2} * {d2} / 24.0"
        f" + ({dlit(k720)} + 90.0 * {t1} + 298.0 * {cc1}"
        f" + 45.0 * {t1} * {t1} - 3.0 * {cc1} * {cc1})"
        f" * {d2} * {d2} * {d2} / 720.0))"
    )
    lam_off = (
        f"(({d} - (1.0 + 2.0 * {t1} + {cc1}) * {d} * {d2} / 6.0"
        f" + ({dlit(k120)} - 2.0 * {cc1} + 28.0 * {t1}"
        f" - 3.0 * {cc1} * {cc1} + 24.0 * {t1} * {t1})"
        f" * {d} * {d2} * {d2} / 120.0) / {c1})"
    )
    r2d = dlit(180.0 / math.pi)
    lon_deg = f"({dlit(p.lon0)} + {lam_off} * {r2d})"
    lat_deg = f"({lat_rad} * {r2d})"
    return b.steps, lon_deg, lat_deg
