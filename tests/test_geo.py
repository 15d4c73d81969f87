"""Geo function unit fixtures (SURVEY.md §5: known polygon → known
centroid → stable hex cell, since DuckDB can't oracle the UDFs)."""

from __future__ import annotations

import pytest

from taxi_trips_etl_spark.functions.geo import (
    centroid_cell,
    latlng_to_cell,
    wkt_centroid,
    wkt_centroid_spherical,
)


def test_square_centroid():
    wkt = "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"
    lon, lat = wkt_centroid(wkt)
    assert lon == pytest.approx(1.0)
    assert lat == pytest.approx(1.0)


def test_asymmetric_polygon_centroid_is_area_weighted():
    # L-shape: area centroid differs from vertex mean — shoelace must win.
    wkt = "POLYGON((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))"
    lon, lat = wkt_centroid(wkt)
    # Exact area centroid of this L (area 7, rects 4×1 + 1×3):
    # x̄ = ȳ = (4·2 + 3·0.5)/7 = 19/14 — NOT the vertex mean (5/3).
    assert lon == pytest.approx(19 / 14)
    assert lat == pytest.approx(19 / 14)


def test_multipolygon_weighted_centroid():
    # Two unit squares, one at origin, one at x∈[10,11]; equal areas →
    # centroid midway at x=5.5.
    wkt = (
        "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 1, 0 0)),"
        " ((10 0, 11 0, 11 1, 10 1, 10 0)))"
    )
    lon, lat = wkt_centroid(wkt)
    assert lon == pytest.approx(5.5)
    assert lat == pytest.approx(0.5)


def test_degenerate_and_garbage_inputs():
    assert wkt_centroid(None) is None
    assert wkt_centroid("") is None
    assert wkt_centroid("POLYGON EMPTY") is None
    lon, lat = wkt_centroid("POINT(3 4)")
    assert (lon, lat) == (3.0, 4.0)


def test_hex_cell_deterministic_and_local():
    a = latlng_to_cell(40.7128, -74.0060, 9)
    assert a == latlng_to_cell(40.7128, -74.0060, 9)
    # A point ~1e-6 deg away (≈10 cm) shares the cell.
    assert a == latlng_to_cell(40.712801, -74.006001, 9)
    # A point ~0.1 deg away (≈11 km) must not.
    assert a != latlng_to_cell(40.8128, -74.0060, 9)
    assert a.startswith("hx9_")


def test_hex_resolution_nests_sizes():
    # Coarser resolution → more points share a cell.
    pts = [(40.7 + i * 0.001, -74.0) for i in range(50)]
    cells_r5 = {latlng_to_cell(la, lo, 5) for la, lo in pts}
    cells_r9 = {latlng_to_cell(la, lo, 9) for la, lo in pts}
    assert len(cells_r5) < len(cells_r9)


def test_centroid_cell_composition():
    wkt = "POLYGON((-74.01 40.70, -74.00 40.70, -74.00 40.71, -74.01 40.71, -74.01 40.70))"
    cell = centroid_cell(wkt, 9)
    assert cell == latlng_to_cell(40.705, -74.005, 9)
    assert centroid_cell(None) is None


def test_hex_neighbor_smoothing_sums_neighborhood(spark, sf_dir):
    from taxi_trips_etl_spark.queries import q_hex_neighbor_smoothing

    rows = q_hex_neighbor_smoothing(spark, sf_dir).collect()
    assert rows, "smoothing must produce cells"
    by_cell = {r["cell"]: r for r in rows}
    raw = {c: r["raw_count"] for c, r in by_cell.items()}
    for c, r in by_cell.items():
        # smoothed = self + any of the 6 axial neighbors present
        prefix, q, s = c.split("_")
        q, s = int(q), int(s)
        expect = 0
        for dq, dr in ((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)):
            expect += raw.get(f"{prefix}_{q + dq}_{s + dr}", 0)
        assert r["smoothed_count"] == expect, c
        assert r["smoothed_count"] >= r["raw_count"]


# ---------------------------------------------------------------------------
# Spherical centroid (BigQuery ST_CENTROID semantics)
# ---------------------------------------------------------------------------


def test_spherical_matches_planar_on_small_polygons():
    # Taxi-zone-sized polygons: the sphere is locally flat, so the two
    # semantics agree to well under a meter (~1e-5 deg ≈ 1 m).
    for wkt in (
        "POLYGON((-74.01 40.70, -74.00 40.70, -74.00 40.71, -74.01 40.71, -74.01 40.70))",
        "POLYGON((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))",  # L-shape
    ):
        plon, plat = wkt_centroid(wkt)
        slon, slat = wkt_centroid_spherical(wkt)
        assert abs(plon - slon) < 1e-2 and abs(plat - slat) < 1e-2


def test_spherical_polar_cap_centroid_is_pole():
    # A ring of constant latitude 80°N: planar shoelace would average
    # lon meaninglessly; the spherical centroid is the north pole.
    pts = ", ".join(f"{lon} 80" for lon in range(-180, 181, 30))
    lon, lat = wkt_centroid_spherical(f"POLYGON(({pts}))")
    assert lat > 89.999999


def test_spherical_antimeridian_polygon():
    # Small square straddling ±180: planar centroid lands at lon 0
    # (wrong hemisphere); spherical lands on the antimeridian.
    wkt = (
        "POLYGON((179.9 10, -179.9 10, -179.9 10.2, 179.9 10.2, 179.9 10))"
    )
    lon, lat = wkt_centroid_spherical(wkt)
    assert abs(abs(lon) - 180.0) < 1e-6
    assert abs(lat - 10.1) < 1e-3


def test_spherical_equatorial_symmetry():
    # Band symmetric about the equator and about lon=10 → centroid at
    # exactly (10, 0) by symmetry.
    wkt = "POLYGON((0 -20, 20 -20, 20 20, 0 20, 0 -20))"
    lon, lat = wkt_centroid_spherical(wkt)
    assert abs(lat) < 1e-9
    assert abs(lon - 10.0) < 1e-9


def test_spherical_hole_subtracts():
    # Square with an off-center hole: centroid pushed away from the
    # hole, same direction the planar shoelace moves it.
    outer = "(0 0, 10 0, 10 10, 0 10, 0 0)"
    hole = "(6 4, 6 6, 8 6, 8 4, 6 4)"  # CW, opposite the CCW exterior
    lon_h, _ = wkt_centroid_spherical(f"POLYGON({outer}, {hole})")
    lon_f, _ = wkt_centroid_spherical(f"POLYGON({outer})")
    plon_h, _ = wkt_centroid(f"POLYGON({outer}, {hole})")
    assert lon_h < lon_f  # hole on the +lon side pushes centroid -lon
    assert abs(lon_h - plon_h) < 1e-2


def test_spherical_winding_agnostic():
    ccw = "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))"
    cw = "POLYGON((0 0, 0 1, 1 1, 1 0, 0 0))"
    assert wkt_centroid_spherical(ccw) == pytest.approx(
        wkt_centroid_spherical(cw)
    )


def test_centroid_cell_spherical_default_stable_on_zone_dim():
    # The flagship's zone→cell mapping must not depend on which
    # centroid semantics produced it for synthetic taxi-sized zones.
    from taxi_trips_etl_spark.queries import N_ZONES, _zone_wkt

    def planar_cell(wkt):
        lon, lat = wkt_centroid(wkt)
        return latlng_to_cell(lat, lon, 9)

    diff = [
        z
        for z in range(N_ZONES)
        if centroid_cell(_zone_wkt(z, detailed=(z % 5 == 0)))
        != planar_cell(_zone_wkt(z, detailed=(z % 5 == 0)))
    ]
    assert diff == []


# ---------------------------------------------------------------------------
# Real-H3 gate (scheme= parameter)
# ---------------------------------------------------------------------------


def test_hex_scheme_gate_and_fallback():
    from taxi_trips_etl_spark.functions.geo import HAS_H3, latlng_to_cell

    axial = latlng_to_cell(40.7, -73.9, 9)
    assert axial.startswith("hx9_")
    with pytest.raises(ValueError):
        latlng_to_cell(40.7, -73.9, 9, scheme="nope")
    if not HAS_H3:
        with pytest.raises(ImportError):
            latlng_to_cell(40.7, -73.9, 9, scheme="h3")
        # auto degrades to the axial grid when the wheel is absent
        assert latlng_to_cell(40.7, -73.9, 9, scheme="auto") == axial


def test_centroid_cell_h3_seam_wiring(monkeypatch):
    """The swap seam itself, provable WITHOUT the wheel: inject a fake
    h3 entry point and assert centroid_cell(scheme='h3') routes the
    spherical centroid through it in (lat, lng, res) order — the
    argument-swap bug a golden test would otherwise only catch the day
    the wheel appears."""
    from taxi_trips_etl_spark.functions import geo

    calls = []

    def fake_cell(lat, lng, res):
        calls.append((lat, lng, res))
        return f"fake_{res}_{lat:.6f}_{lng:.6f}"

    monkeypatch.setattr(geo, "_h3_cell_fn", fake_cell)
    monkeypatch.setattr(geo, "HAS_H3", True)
    wkt = "POLYGON((-74.02 40.70, -73.98 40.70, -73.98 40.74, -74.02 40.74, -74.02 40.70))"
    got = geo.centroid_cell(wkt, 9, scheme="h3")
    lon, lat = geo.wkt_centroid_spherical(wkt)
    assert calls == [(lat, lon, 9)]
    assert got == f"fake_9_{lat:.6f}_{lon:.6f}"
    # lat must be the ~40.72 coordinate, not the -74 longitude
    assert 40.0 < calls[0][0] < 41.0 and -75.0 < calls[0][1] < -73.0


@pytest.mark.skipif(
    not __import__(
        "taxi_trips_etl_spark.functions.geo", fromlist=["HAS_H3"]
    ).HAS_H3,
    reason="public h3 wheel not installed in this container",
)
def test_hex_scheme_real_h3_known_vector():
    from taxi_trips_etl_spark.functions.geo import latlng_to_cell

    # Canonical vector from the H3 documentation (San Francisco).
    got = latlng_to_cell(
        37.7752702151959257, -122.418307270836565, 9, scheme="h3"
    )
    assert got == "8928308280fffff"
