"""KML/KMZ parser semantics (reference: tests/test_parsers.py)."""

import io
import zipfile

import pytest

from azure_workflow_for_kml_satellite_spark.functions import kml as K

KML = (
    '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
    "<Placemark><name>Field A</name>"
    '<ExtendedData><Data name="crop"><value>apple</value></Data>'
    '<Data name="variety"><value>fuji</value></Data></ExtendedData>'
    "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
    "36.8,-1.3,0 36.81,-1.3,0 36.81,-1.29,0 36.8,-1.29,0"
    "</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>"
    "</Document></kml>"
).encode()


def test_parse_basic():
    feats = K.parse_kml(KML, "f.kml")
    assert len(feats) == 1
    f = feats[0]
    assert f["name"] == "Field A"
    # [lon, lat] order preserved (reference: tests/test_parsers.py:40-44)
    assert f["exterior_coords"][0] == [36.8, -1.3]
    # ring auto-closed (reference: tests/test_parsers.py:46-49)
    assert f["exterior_coords"][0] == f["exterior_coords"][-1]
    assert len(f["exterior_coords"]) == 5
    assert f["metadata"] == {"crop": "apple", "variety": "fuji"}
    assert f["feature_index"] == 0


def test_skip_under_3_vertices():
    # reference: tests/test_parsers.py:73-91, lxml_parser.py:33-35
    kml = (
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Placemark><name>Bad</name>'
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        "1,1,0 2,2,0</coordinates></LinearRing></outerBoundaryIs></Polygon>"
        "</Placemark></kml>"
    ).encode()
    assert K.parse_kml(kml) == []


def test_unnamed_default():
    kml = (
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Placemark>'
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        "1,1 2,1 2,2</coordinates></LinearRing></outerBoundaryIs></Polygon>"
        "</Placemark></kml>"
    ).encode()
    feats = K.parse_kml(kml)
    assert feats[0]["name"] == "Unnamed Feature 0"


def test_interior_rings():
    kml = (
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Placemark><name>D</name><Polygon>'
        "<outerBoundaryIs><LinearRing><coordinates>0,0 1,0 1,1 0,1</coordinates></LinearRing></outerBoundaryIs>"
        "<innerBoundaryIs><LinearRing><coordinates>0.4,0.4 0.6,0.4 0.6,0.6</coordinates></LinearRing></innerBoundaryIs>"
        "</Polygon></Placemark></kml>"
    ).encode()
    f = K.parse_kml(kml)[0]
    assert len(f["interior_coords"]) == 1
    assert f["interior_coords"][0][0] == f["interior_coords"][0][-1]


def test_kmz_prefers_doc_kml():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("other.kml", "<wrong/>")
        zf.writestr("doc.kml", KML.decode())
    assert K.maybe_unzip(buf.getvalue()) == KML


def test_kmz_fallback_first_kml():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", "x")
        zf.writestr("b.kml", KML.decode())
    assert K.maybe_unzip(buf.getvalue()) == KML


def test_kmz_no_kml_raises():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", "x")
    with pytest.raises(ValueError, match="no .kml"):
        K.maybe_unzip(buf.getvalue())


def test_kmz_zip_bomb_file_count():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i in range(51):
            zf.writestr(f"f{i}.txt", "x")
    with pytest.raises(ValueError, match="file count"):
        K.maybe_unzip(buf.getvalue())


def test_kmz_zip_bomb_ratio():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("doc.kml", "A" * 5_000_000)
    with pytest.raises(ValueError, match="Compression ratio"):
        K.maybe_unzip(buf.getvalue())


def test_non_zip_passthrough():
    assert K.maybe_unzip(KML) == KML


def test_validate_rejects_doctype():
    bad = b'<!DOCTYPE kml [<!ENTITY x "y">]>' + KML
    with pytest.raises(ValueError, match="DOCTYPE"):
        K.validate_kml_bytes(bad)


def test_validate_rejects_wrong_namespace():
    with pytest.raises(ValueError, match="namespace"):
        K.validate_kml_bytes(b'<kml xmlns="http://evil.example/ns"><Document/></kml>')


def test_validate_accepts_legacy_namespaces():
    K.validate_kml_bytes(b'<kml xmlns="http://earth.google.com/kml/2.0"><Document/></kml>')


def test_extract_text_deterministic():
    html = b"<html><body><script>var x=1;</script><p>Hello  world</p></body></html>"
    assert K.extract_text(html) == "Hello world"
    # kml subtree excluded from text
    html2 = b"<html><body><p>A</p>" + KML + b"<p>B</p></body></html>"
    assert K.extract_text(html2) == "A B"


def test_extract_kml_documents_inline_and_kmz():
    import base64

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("doc.kml", KML.decode())
    html = (
        b"<html><body>" + KML
        + b'<script type="application/vnd.kmz">' + base64.b64encode(buf.getvalue())
        + b"</script></body></html>"
    )
    docs = K.extract_kml_documents(html)
    assert len(docs) == 2
    assert docs[0] == KML
    assert K.maybe_unzip(docs[1]) == KML


def test_extract_prefilter_is_semantics_preserving(spark):
    """The JVM-side contains() gate must drop only pages that cannot yield
    rows: output with and without the prefilter is identical, and a page
    with no KML marker never reaches Python."""
    from azure_workflow_for_kml_satellite_spark.operators.extract import (
        extract_features,
    )
    from tests.conftest import SF_SMALL

    pages = spark.read.parquet(f"{SF_SMALL}/pages.parquet").limit(60)
    plain = spark.createDataFrame(
        [("https://nokml.example/x", b"<html><body>just text, nothing inside</body></html>")],
        "url string, html binary",
    )
    both = pages.select("url", "html").unionByName(plain)
    a = sorted(map(tuple, extract_features(both, prefilter=True).collect()))
    b = sorted(map(tuple, extract_features(both, prefilter=False).collect()))
    assert a == b
    assert not any(r[0] == "https://nokml.example/x" for r in a)


def test_extract_quarantines_kml_over_feature_cap(spark, tmp_path):
    """A KML document with 501 placemarks (one over MAX_FEATURES_PER_KML)
    becomes exactly one quarantine row; 500 placemarks still extract. The
    sequential oracle agrees on both pages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_workflow_for_kml_satellite_spark.operators.extract import (
        extract_features,
    )
    from azure_workflow_for_kml_satellite_spark.oracle.sequential import (
        compute_features,
    )

    placemark = KML[KML.index(b"<Placemark>") : KML.index(b"</Document>")]
    pages = {
        f"https://example.org/cap/{n}": b"<html><body>"
        + KML.replace(placemark, placemark * n)
        + b"</body></html>"
        for n in (500, 501)
    }
    over, at = "https://example.org/cap/501", "https://example.org/cap/500"
    msg = "KML contains 501 features; maximum is 500"

    rows = extract_features(
        spark.createDataFrame(list(pages.items()), "url string, html binary")
    ).collect()
    assert [(r.feature_index, r.error) for r in rows if r.url == over] == [(None, msg)]
    got_at = sorted(r.feature_index for r in rows if r.url == at and r.error is None)
    assert got_at == list(range(500))

    path = tmp_path / "pages.parquet"
    pq.write_table(pa.table({"url": list(pages), "html": list(pages.values())}), path)
    oracle = compute_features(path)
    assert [r for r in oracle if r["url"] == over] == [
        {"url": over, "feature_index": None, "error": msg}
    ]
    assert sum(1 for r in oracle if r["url"] == at and r["error"] is None) == 500
