"""Geo functions: WKT centroid (F6) and hex-cell indexing (F7).

Reference surface (SURVEY.md §2.8/§2.10): ``ST_CENTROID(zone_geom)`` and
``carto-os.carto.H3_FROMGEOGPOINT(point, 9)``
(/root/reference/taxi_trips_etl_packages/queries/enrichment_query.py:10,17).

Neither ``shapely`` nor ``h3`` is available in this environment, so both
are implemented in pure Python:

- :func:`wkt_centroid_spherical` — hand-rolled WKT POLYGON/MULTIPOLYGON
  parser + *spherical* surface centroid, matching BigQuery ST_CENTROID
  semantics (center of mass of the polygon's surface on the sphere).
  Exact per-edge closed form via vector Stokes: ∫∫_S r̂ dA = ½ ∮ r × dr,
  and along a great-circle edge A→B that line integral is
  n̂_AB · θ_AB with n̂_AB = (A×B)/|A×B| and θ_AB the edge's arc angle —
  no discretization, holes subtract via their opposite winding.
  This is the default for :func:`centroid_cell` (closes the SURVEY §7
  risk-#1 planar-vs-spherical deviation).
- :func:`wkt_centroid` — the planar shoelace variant, kept for
  engines/fixtures with planar semantics; for taxi-zone-sized polygons
  the two agree to ~1e-9 degrees (pytest-pinned).
- :func:`latlng_to_cell` — a deterministic axial hex-grid index ("hx"
  cells), API-compatible with ``h3.latlng_to_cell(lat, lng, res)``:
  nearby points share a cell, resolution controls cell size, output is
  an opaque string id. It is NOT the H3 icosahedral indexing (the h3
  wheel is absent here); swap :func:`latlng_to_cell` for
  ``h3.latlng_to_cell`` in production and nothing else changes.
  (A from-scratch true-H3 port was considered and rejected: the base
  cell / face tables can't be reproduced from memory without the
  Apache-2.0 reference tables at hand, and a subtly-wrong "real H3"
  is worse than a documented stand-in.)

Where hx ids differ from real H3 ids (the swap seam — everything the
engine relies on is in the "contract" rows, pinned by
tests/test_geo_properties.py; the rest is what changes when production
swaps the real library in):

======================  ==========================  =====================
property                real H3 (res 9)             hx grid (res 9)
======================  ==========================  =====================
id format               15-char hex, e.g.           ``hx9_{q}_{r}`` axial
                        ``8928308280fffff``         coords
projection              gnomonic, per icosahedron   equirectangular
                        face                        plane
cell size               ~174 m edge, bounded        ~200 m at equator;
                        distortion everywhere       E-W extent shrinks
                                                    by cos(latitude)
pentagons               12 per resolution           none
parent/child nesting    aperture-7 hierarchy        none defined
seams                   none (sphere-complete)      antimeridian + poles
CONTRACT: determinism   same input → same id        same (pure fn of
                        everywhere, any process     args; no hash seed)
CONTRACT: locality      points ≪ cell radius        same (tested: 10 m
                        apart share a cell off      pairs ≥90% share)
                        boundaries
CONTRACT: separation    points > 2 cell diameters   same (tested: 1 km
                        apart never share a cell    pairs never share)
CONTRACT: res scaling   finer res ⇒ strictly more   same (aperture-√7
                        cells over a point set      sizing curve)
======================  ==========================  =====================

Scale placement: these are plain Python functions, not UDFs.
``operators/enrich.dedup_zones`` calls :func:`centroid_cell` on the
driver for each row of the deduped zone dimension (~260 rows in the
reference's data) and ships the result back as a ``LocalRelation``
before it is broadcast — never per trip, and no Python worker. The
100 TB fact table never crosses into Python for geo work.
"""

from __future__ import annotations

import math
import re

# ---------------------------------------------------------------------------
# WKT parsing + planar centroid (F6)
# ---------------------------------------------------------------------------

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
_COORD_RE = re.compile(rf"({_NUM})\s+({_NUM})")


def _parse_rings(wkt_body: str) -> list[list[tuple[float, float]]]:
    """Extract coordinate rings from the body of a (MULTI)POLYGON."""
    rings: list[list[tuple[float, float]]] = []
    for ring_txt in re.findall(r"\(([^()]+)\)", wkt_body):
        pts = [(float(x), float(y)) for x, y in _COORD_RE.findall(ring_txt)]
        if len(pts) >= 3:
            rings.append(pts)
    return rings


def _ring_area_centroid(ring: list[tuple[float, float]]) -> tuple[float, float, float]:
    """Signed shoelace area + area-weighted centroid of one ring.

    Computed in coordinates translated to the ring's first vertex:
    the raw shoelace catastrophically cancels for small polygons far
    from the origin (a 0.01° taxi zone at lon −74 loses ~6 digits),
    while the translated form is exact to ~1 ulp and the translation
    itself is error-free for the centroid (pure shift).
    """
    rx, ry = ring[0]
    a = cx = cy = 0.0
    n = len(ring)
    for i in range(n):
        x0, y0 = ring[i][0] - rx, ring[i][1] - ry
        x1, y1 = ring[(i + 1) % n][0] - rx, ring[(i + 1) % n][1] - ry
        cross = x0 * y1 - x1 * y0
        a += cross
        cx += (x0 + x1) * cross
        cy += (y0 + y1) * cross
    a *= 0.5
    if abs(a) < 1e-18:
        # Degenerate ring: fall back to vertex mean.
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        return 0.0, sum(xs) / len(xs), sum(ys) / len(ys)
    return a, rx + cx / (6.0 * a), ry + cy / (6.0 * a)


def wkt_centroid(wkt: str | None) -> tuple[float, float] | None:
    """Planar centroid (lon, lat) of a WKT POLYGON / MULTIPOLYGON.

    Exterior rings carry positive weight, holes (negative shoelace
    sign after the first ring of a polygon) subtract — the standard
    even-odd handling falls out of the signed areas as long as WKT
    follows the usual exterior-CCW/hole-CW convention.
    """
    if not wkt:
        return None
    body = wkt.strip()
    if not body.upper().startswith(("POLYGON", "MULTIPOLYGON")):
        m = _COORD_RE.search(body)  # POINT fallback
        return (float(m.group(1)), float(m.group(2))) if m else None
    total_a = sx = sy = 0.0
    rings = _parse_rings(body)
    if not rings:
        return None
    for ring in rings:
        a, cx, cy = _ring_area_centroid(ring)
        total_a += a
        sx += cx * a
        sy += cy * a
    if abs(total_a) < 1e-12:
        pts = [p for ring in rings for p in ring]
        return (
            sum(p[0] for p in pts) / len(pts),
            sum(p[1] for p in pts) / len(pts),
        )
    return (sx / total_a, sy / total_a)


# ---------------------------------------------------------------------------
# Spherical centroid (F6, BigQuery ST_CENTROID semantics)
# ---------------------------------------------------------------------------


def _unit_vec(lon_deg: float, lat_deg: float) -> tuple[float, float, float]:
    phi = math.radians(lat_deg)
    lam = math.radians(lon_deg)
    c = math.cos(phi)
    return (c * math.cos(lam), c * math.sin(lam), math.sin(phi))


def _ring_sphere_integral(
    ring: list[tuple[float, float]],
) -> tuple[float, float, float]:
    """∫∫ r̂ dA over the spherical region a ring encloses, as a 3-vector.

    Vector Stokes on the unit sphere (n̂ = r̂): the surface integral
    equals ½ ∮ r × dr, and along a great-circle edge A→B the line
    integral is exactly (A×B)/|A×B| · θ_AB (r × dr is the constant
    great-circle normal times arc length). Exact for geodesic-edge
    polygons — no sampling. A CCW-wound ring (seen from outside the
    sphere) yields a vector toward the region; CW yields its negation,
    so holes subtract when summed with their exterior.
    """
    vs = [_unit_vec(lon, lat) for lon, lat in ring]
    sx = sy = sz = 0.0
    n = len(vs)
    for i in range(n):
        ax, ay, az = vs[i]
        bx, by, bz = vs[(i + 1) % n]
        cx, cy, cz = ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx
        cn = math.sqrt(cx * cx + cy * cy + cz * cz)
        if cn < 1e-18:  # duplicate closing vertex / antipodal degenerate
            continue
        theta = math.atan2(cn, ax * bx + ay * by + az * bz)
        f = 0.5 * theta / cn
        sx += cx * f
        sy += cy * f
        sz += cz * f
    return sx, sy, sz


def wkt_centroid_spherical(wkt: str | None) -> tuple[float, float] | None:
    """Spherical centroid (lon, lat) of WKT POLYGON / MULTIPOLYGON.

    BigQuery ST_CENTROID semantics: the center of mass of the polygon's
    surface on the sphere, i.e. normalize(∫∫ r̂ dA), rings summed so
    holes (opposite winding) subtract. Winding-agnostic for regions
    smaller than a hemisphere: if the summed vector points away from
    the vertex mean (exterior wound CW), it is flipped rather than
    returning the antipode — mirroring how the planar shoelace's
    signed-area division cancels orientation.
    """
    if not wkt:
        return None
    body = wkt.strip()
    if not body.upper().startswith(("POLYGON", "MULTIPOLYGON")):
        m = _COORD_RE.search(body)  # POINT fallback
        return (float(m.group(1)), float(m.group(2))) if m else None
    rings = _parse_rings(body)
    if not rings:
        return None
    sx = sy = sz = 0.0
    for ring in rings:
        rx, ry, rz = _ring_sphere_integral(ring)
        sx += rx
        sy += ry
        sz += rz
    norm = math.sqrt(sx * sx + sy * sy + sz * sz)
    pts = [p for ring in rings for p in ring]
    if norm < 1e-15:
        # Degenerate (zero spherical area): planar fallback keeps the
        # same answer the shoelace path gives for slivers.
        return wkt_centroid(wkt)
    mx = my = mz = 0.0
    for lon, lat in pts:
        ux, uy, uz = _unit_vec(lon, lat)
        mx += ux
        my += uy
        mz += uz
    if sx * mx + sy * my + sz * mz < 0.0:
        sx, sy, sz = -sx, -sy, -sz
    lat = math.degrees(math.asin(max(-1.0, min(1.0, sz / norm))))
    lon = math.degrees(math.atan2(sy, sx))
    return (lon, lat)


# ---------------------------------------------------------------------------
# Hex-grid cell index (F7)
# ---------------------------------------------------------------------------

# Edge length in degrees at resolution 0; each resolution divides by ~2.6
# (h3's aperture-7 ratio is sqrt(7)≈2.646 — we mimic the sizing curve so
# resolution numbers feel familiar; res 9 ≈ 2e-3 deg ≈ 200 m).
_RES0_EDGE_DEG = 10.0
_APERTURE = math.sqrt(7.0)


def _edge_for_res(res: int) -> float:
    return _RES0_EDGE_DEG / (_APERTURE**res)


# Real-H3 gate. The reference's ids come from BigQuery's
# carto-os H3_FROMGEOGPOINT (enrichment_query.py:10,17) — true H3
# cells. Bit-exact H3 needs the library's base-cell/face orientation
# tables (icosahedron constants that cannot be re-derived, only
# copied), so this repo does NOT hand-roll them: when the public
# ``h3`` wheel is installed the ``scheme="h3"`` path emits genuine
# H3 ids; without it the deterministic axial grid below stands in
# (locality-correct, ids differ — PARITY.md documents the gap).
try:  # pragma: no cover - exercised only where the wheel exists
    import h3 as _h3lib

    # v4 renamed the API: v4 latlng_to_cell, v3 geo_to_h3 — both take
    # (lat, lng, res) and return the hex-string cell id. Resolve once;
    # an unrecognized module shape degrades to the axial grid instead
    # of blowing up at call time.
    _h3_cell_fn = getattr(_h3lib, "latlng_to_cell", None) or getattr(
        _h3lib, "geo_to_h3", None
    )
    HAS_H3 = _h3_cell_fn is not None
except Exception:  # ImportError in this sandbox
    _h3lib = None
    _h3_cell_fn = None
    HAS_H3 = False


def latlng_to_cell(
    lat: float, lng: float, res: int = 9, scheme: str = "axial"
) -> str:
    """Deterministic hex-cell id for a (lat, lng) at a resolution.

    ``scheme="axial"`` (default): pointy-top axial hex grid over the
    equirectangular plane — convert (lng, lat) to fractional axial
    coords, cube-round to the nearest hex center, emit
    ``hx{res}_{q}_{r}``. Self-contained and deterministic everywhere.

    ``scheme="h3"``: genuine H3 cell id via the public ``h3`` library
    (raises ImportError when absent); ``scheme="auto"`` prefers h3 and
    falls back to axial. The default stays "axial" so results never
    silently depend on the environment — parity deployments opt in.

    Fallback status (final): in environments without the ``h3`` wheel
    and without package installation, axial IS the permanent scheme —
    H3's base-cell numbering is conventional (122-entry baseCellData +
    540-entry faceIjkBaseCells), not derivable from geometry, so a
    reconstruction without the wheel to verify against would be
    unverifiable. Installing the wheel + ``scheme="auto"`` upgrades to
    genuine H3 ids with zero code change; the gated known-vector test
    in tests/test_geo.py proves the ids wherever the wheel exists.
    """
    if scheme not in ("axial", "h3", "auto"):
        raise ValueError(f"unknown hex scheme {scheme!r}")
    if scheme == "h3" or (scheme == "auto" and HAS_H3):
        if not HAS_H3:
            raise ImportError(
                "scheme='h3' needs the public h3 package (pip install h3)"
            )
        return _h3_cell_fn(lat, lng, res)
    size = _edge_for_res(res)
    x, y = lng, lat
    q = (math.sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / size
    r = (2.0 / 3.0 * y) / size
    # Cube rounding (q + r + s = 0).
    s = -q - r
    rq, rr, rs = round(q), round(r), round(s)
    dq, dr, ds = abs(rq - q), abs(rr - r), abs(rs - s)
    if dq > dr and dq > ds:
        rq = -rr - rs
    elif dr > ds:
        rr = -rq - rs
    return f"hx{res}_{int(rq)}_{int(rr)}"


def centroid_cell(
    wkt: str | None, res: int = 9, *, scheme: str = "axial"
) -> str | None:
    """F6∘F7 composed: WKT geometry → centroid → hex cell id.

    Uses the spherical centroid (BigQuery ST_CENTROID semantics) so
    enrichment matches the reference's geography behavior near cell
    boundaries. ``scheme`` passes through to :func:`latlng_to_cell` — this is the
    parity swap seam: ``scheme="h3"`` (wheel installed) reproduces the
    reference's ``H3_FROMGEOGPOINT(ST_CENTROID(geom), res)`` ids
    (enrichment_query.py:10,17) end-to-end."""
    c = wkt_centroid_spherical(wkt)
    if c is None:
        return None
    lon, lat = c
    return latlng_to_cell(lat, lon, res, scheme=scheme)
