"""No engine code that only tests reach.

Every module and every top-level public function or class of the package
(outside the independent ``oracle/``) must be referenced by something the
project ships: the package itself, ``__spark_entry__.py``, ``bench.py``,
``kmlsat_fastdaemon.py``, ``scripts/`` or ``perfbench/``.

- A function or class is referenced when its name matches at a word boundary
  in one of those files, its own ``def``/``class`` line excluded.
- A module is referenced when one of those files, other than the module
  itself, imports it.

A name that only ``tests/`` mentions is dead engine code: delete it, move it
under ``tests/``, or, if tests use it as the reference for shipped code,
list it in ``ALLOWED`` with the reason.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "azure_workflow_for_kml_satellite_spark"

ALLOWED = {
    "functions/geodesic.py": (
        "WGS84 ellipsoid reference that the shipped spherical area/perimeter "
        "band is checked against when pyproj is absent"
    ),
    "functions/geometry.py::haversine_km": (
        "great-circle distance the geodesic tests compare against"
    ),
    "functions/geotiff.py::read_geotiff_f32": (
        "reads back the include_raster GeoTIFF that the NDVI operator writes"
    ),
    "functions/png.py::png_tile_ndvi_stats": (
        "the reference's PNG-tile NDVI remap, pinning the shipped PNG decoder"
    ),
    "functions/h264.py::decode_h264_annexb": (
        "drives the shipped H.264 decoder on raw Annex-B streams"
    ),
    "functions/h264.py::decode_h264_annexb_stream": (
        "drives the shipped multi-frame decoder on raw Annex-B streams"
    ),
    "functions/h264.py::decode_h264_sample": (
        "drives the shipped decoder on one length-prefixed MP4 sample"
    ),
    "functions/webimage.py::decode_webp_luma": (
        "exposes the VP8 luma plane for the golden bit-exactness check"
    ),
    "operators/metrics.py::portfolio_py": (
        "sequential fold the Spark portfolio rollup is checked against"
    ),
}
MAX_ALLOWED = 12


def _shipped_files() -> list[Path]:
    files = list(PKG.rglob("*.py"))
    files += [REPO / n for n in ("__spark_entry__.py", "bench.py", "kmlsat_fastdaemon.py")]
    for d in ("scripts", "perfbench"):
        files += list((REPO / d).rglob("*.py"))
    return sorted(files)


def _imported_names(tree: ast.AST) -> set[str]:
    """Every dotted-path component and alias source a file imports."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out.update(a.name.split("."))
        elif isinstance(node, ast.ImportFrom):
            out.update((node.module or "").split("."))
            out.update(a.name for a in node.names)
    return out


def _subjects() -> list[tuple[str, Path, str | None, int]]:
    """(key, file, def name or None for the module, def line)."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel.startswith("oracle/"):
            continue
        if path.name != "__init__.py":
            out.append((rel, path, None, 0))
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    out.append((f"{rel}::{node.name}", path, node.name, node.lineno))
    return out


def _test_only() -> list[str]:
    shipped = {p: p.read_text() for p in _shipped_files()}
    imports = {p: _imported_names(ast.parse(t)) for p, t in shipped.items()}
    subjects = _subjects()
    assert len(subjects) > 250, "scan found too few engine names"
    dead = []
    for key, path, name, lineno in subjects:
        if name is None:
            mod = path.stem
            hit = any(mod in names for p, names in imports.items() if p != path)
        else:
            pat = re.compile(rf"\b{re.escape(name)}\b")
            hit = False
            for p, text in shipped.items():
                if p == path:
                    lines = text.splitlines()
                    text = "\n".join(lines[: lineno - 1] + lines[lineno:])
                if pat.search(text):
                    hit = True
                    break
        if not hit:
            dead.append(key)
    return dead


def test_no_engine_name_is_reached_only_from_tests():
    dead = set(_test_only())
    unexpected = sorted(dead - set(ALLOWED))
    assert not unexpected, (
        "engine names no shipped file references (delete them, move them "
        f"under tests/, or allow-list them with a reason): {unexpected}"
    )
    stale = sorted(set(ALLOWED) - dead)
    assert not stale, f"allow-list entries that shipped code now reaches: {stale}"


def test_allow_list_is_small_and_explained():
    assert len(ALLOWED) <= MAX_ALLOWED
    assert all(reason.strip() for reason in ALLOWED.values())
