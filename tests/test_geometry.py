"""Geometry kernel goldens — numbers transfer from the reference's tests
(reference: tests/test_geo.py)."""

from azure_workflow_for_kml_satellite_spark.functions import geometry as geo


def _square(lon=36.8, lat=-1.3, s=0.01):
    return [[lon, lat], [lon + s, lat], [lon + s, lat + s], [lon, lat + s], [lon, lat]]


def test_bbox():
    ring = _square()
    bbox = geo.compute_bbox(ring)
    assert bbox == [
        min(c[0] for c in ring),
        min(c[1] for c in ring),
        max(c[0] for c in ring),
        max(c[1] for c in ring),
    ]
    assert abs(bbox[2] - 36.81) < 1e-9 and abs(bbox[3] + 1.29) < 1e-9


def test_bbox_empty():
    assert geo.compute_bbox([]) == [0.0, 0.0, 0.0, 0.0]


def test_buffer_magnitude():
    # reference: tests/test_geo.py:50-55 — 100 m buffer lat offset in (0.0005, 0.002) deg
    bbox = geo.compute_bbox(_square())
    buffered = geo.buffer_bbox(bbox, 100.0)
    lat_off = bbox[1] - buffered[1]
    assert 0.0005 < lat_off < 0.002
    assert buffered[0] < bbox[0] and buffered[2] > bbox[2] and buffered[3] > bbox[3]


def test_buffer_zero_is_copy():
    bbox = [1.0, 2.0, 3.0, 4.0]
    assert geo.buffer_bbox(bbox, 0.0) == bbox


def test_area_golden_band():
    # reference: tests/test_geo.py:58-71 — ~1.1 km square near equator: 50 < ha < 200
    area, per = geo.geodesic_area_and_perimeter(_square())
    assert 50 < area < 200
    assert 4.0 < per < 5.0


def test_area_degenerate():
    assert geo.geodesic_area_and_perimeter([[0, 0], [1, 1]]) == (0.0, 0.0)
    # collinear ring → ~0 area (reference: test_geo.py:265-331 edge cases)
    area, _ = geo.geodesic_area_and_perimeter([[0, 0], [1, 0], [2, 0], [0, 0]])
    assert area < 1e-6


def test_centroid_drops_closing_point():
    ring = _square()
    c = geo.centroid(ring)
    assert abs(c[0] - 36.805) < 1e-9
    assert abs(c[1] - (-1.295)) < 1e-9


def test_haversine_known():
    # ~111.19 km per degree of latitude at the equator
    d = geo.haversine_km(0, 0, 0, 1)
    assert 110.5 < d < 111.8


def test_point_in_polygon_with_hole():
    outer = _square(0, 0, 1.0)
    hole = _square(0.4, 0.4, 0.2)
    assert geo.point_in_polygon(0.1, 0.1, outer, [hole])
    assert not geo.point_in_polygon(0.5, 0.5, outer, [hole])
    assert not geo.point_in_polygon(1.5, 0.5, outer, [hole])


def test_point_buffer_ring_closed_32_segments():
    ring = geo.point_buffer_ring(10.0, 20.0, 500.0)
    assert len(ring) == 33 and ring[0] == ring[-1]


def test_conus_check():
    assert geo.aoi_has_naip([[-100, 40], [-99, 40], [-99, 41]])
    assert not geo.aoi_has_naip([[36.8, -1.3], [36.9, -1.3], [36.9, -1.2]])


def test_flatten_roundtrip():
    ring = _square()
    assert geo.unflatten_ring(geo.flatten_ring(ring)) == ring


def test_compactness_circle_near_one(spark):
    """Polsby-Popper 4*pi*area/perimeter^2 at 3 dp (reference:
    aoi_metrics.py:289-295), checked on the shipped ``compactness`` column of
    ``geometry_metrics``: a circle scores 1.0, zero area or perimeter 0.0."""
    import math

    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        geometry_metrics,
    )

    # circle: area pi*r^2, perimeter 2*pi*r with r=1km → compactness 1
    r_km = 1.0
    rows = [
        ("circle", math.pi * r_km * r_km * 100, 2 * math.pi * r_km),
        ("no_area", 0.0, 1.0),
        ("no_perimeter", 1.0, 0.0),
    ]
    aois = spark.createDataFrame(
        [(u, 0, u, a, p, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0) for u, a, p in rows],
        "url string, feature_index int, name string, area_ha double, "
        "perimeter_km double, centroid_lon double, centroid_lat double, "
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )
    got = {r.url: r.compactness for r in geometry_metrics(aois).collect()}
    assert got == {"circle": 1.0, "no_area": 0.0, "no_perimeter": 0.0}


def test_area_golden_band_both_paths():
    """Reference band (test_geo.py:58-71) must hold on BOTH geodesic paths:
    the always-available spherical+haversine fallback, and the ellipsoidal
    PRIMARY semantics (reference geo.py:69-83) — via pyproj when importable,
    else via the vendored WGS84 geodesic (functions/geodesic.py), so the
    primary path is exercised in every environment (no skip)."""
    sq = _square()
    area_fb = geo.spherical_area_ha(sq)
    per_fb = geo.haversine_perimeter_km(sq)
    assert 50 < area_fb < 200 and 3 < per_fb < 6
    try:
        from pyproj import Geod

        a_m2, p_m = Geod(ellps="WGS84").polygon_area_perimeter(
            [c[0] for c in sq], [c[1] for c in sq]
        )
        # the dispatching kernel must agree with the active primary path
        area, per = geo.geodesic_area_and_perimeter(sq)
        assert area == abs(a_m2) / 10_000 and per == abs(p_m) / 1_000
    except ImportError:
        from azure_workflow_for_kml_satellite_spark.functions.geodesic import (
            polygon_area_perimeter,
        )

        a_m2, p_m = polygon_area_perimeter([c[0] for c in sq], [c[1] for c in sq])
        # without pyproj the dispatching kernel takes the documented
        # spherical fallback (bit-parity with the reference + oracle)
        area, per = geo.geodesic_area_and_perimeter(sq)
        assert (area, per) == (area_fb, per_fb)
    assert 50 < abs(a_m2) / 10_000 < 200 and 3 < abs(p_m) / 1_000 < 6
    # primary (ellipsoidal) and fallback (spherical) agree to ~1% at parcel
    # scale — the documented accuracy trade of the fallback
    assert abs(abs(a_m2) / 10_000 - area_fb) / area_fb < 0.01
    assert abs(abs(p_m) / 1_000 - per_fb) / per_fb < 0.01


def test_polygon_near_antimeridian_lenient_parity():
    """SURVEY §7.4 risk 4: the reference computes the bbox from RAW min/max
    coords, so a ±180°-crossing ring yields a zero-spanning (wrong but
    defined) bbox and must NOT raise — a documented limitation we replicate,
    not fix (reference: tests/test_geo.py:300-317)."""
    ring = [
        [179.9, -16.5],
        [-179.8, -16.5],
        [-179.8, -16.6],
        [179.9, -16.6],
        [179.9, -16.5],
    ]
    bbox = geo.compute_bbox(ring)
    assert bbox == [-179.8, -16.6, 179.9, -16.5]  # raw min/max, crosses zero
    c = geo.centroid(ring)
    # same lenient assertion shape as the reference's test...
    assert bbox[0] <= c[0] <= bbox[2] or bbox[0] > bbox[2]
    # ...plus the exact replicated values: arithmetic vertex mean with NO
    # wraparound handling (the reference's geo.py:196-212 semantics), so the
    # centroid lands near lon 0 — the wrong side of the planet — by design
    assert c[0] == (179.9 - 179.8 - 179.8 + 179.9) / 4.0  # 0.05...
    assert c[1] == (-16.5 - 16.5 - 16.6 - 16.6) / 4.0
    # the full kernel ladder stays crash-free on this input
    area, per = geo.geodesic_area_and_perimeter(ring)
    assert area >= 0.0 and per >= 0.0


def test_prepare_aoi_antimeridian_end_to_end(spark):
    """Same leniency through the Spark AOI-prep operator."""
    from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois

    feats = spark.createDataFrame(
        [
            (
                "u-am",
                0,
                "Antimeridian",
                [179.9, -16.5, -179.8, -16.5, -179.8, -16.6, 179.9, -16.6, 179.9, -16.5],
                [],
                None,
            )
        ],
        "url string, feature_index long, name string, exterior array<double>, "
        "holes array<array<double>>, error string",
    )
    rows = prepare_aois(feats).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["min_lon"] == -179.8 and r["max_lon"] == 179.9
    assert r["min_lon"] <= r["centroid_lon"] <= r["max_lon"]
