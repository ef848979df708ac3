"""Frame plan — the bounded time dimension (SURVEY.md §2.1 / G10).

Ports the reference's frame planning semantics
(reference: treesight/pipeline/enrichment/frames.py) as a driver-side
generator for a small ``frames`` dimension DataFrame. The reference derives
the seasonal year range from ``date.today()`` (frames.py:31); we pin
``as_of_year`` (constants.DEFAULT_AS_OF_YEAR) for reproducibility.

Per-AOI variation (NAIP preference for CONUS AOIs) is modeled as a
``naip_variant`` flag column: the dimension holds both variants and each AOI
joins on ``aois.has_naip == frames.naip_variant``. Display-suitability
annotations (frames.py:60-95) depend on AOI size, so they are computed as
column expressions after the join (see operators/spatial_join.py).
"""

from __future__ import annotations

import calendar
from datetime import date, timedelta

from azure_workflow_for_kml_satellite_spark.constants import DEFAULT_AS_OF_YEAR

SEASONS = [
    {"key": "winter", "months": [12, 1, 2]},
    {"key": "spring", "months": [3, 4, 5]},
    {"key": "summer", "months": [6, 7, 8]},
    {"key": "autumn", "months": [9, 10, 11]},
]

LANDSAT_YEARS = list(range(2013, 2018))
NAIP_ONLY_YEARS = [2012, 2014, 2016]


def _season_window(year: int, season: dict) -> tuple[str, str]:
    """Reference: frames.py:111-121 (winter spans the year boundary)."""
    if season["key"] == "winter":
        _, feb_end = calendar.monthrange(year, 2)
        return f"{year - 1}-12-01", f"{year}-02-{feb_end}"
    m0 = season["months"][0]
    m2 = season["months"][2]
    start = f"{year}-{m0:02d}-01"
    _, end_day = calendar.monthrange(year, m2)
    return start, f"{year}-{m2:02d}-{end_day}"


def _month_window(year: int, month: int) -> tuple[str, str]:
    """Reference: frames.py:124-129."""
    start = date(year, month, 1)
    end = date(year, 12, 31) if month == 12 else date(year, month + 1, 1) - timedelta(days=1)
    return start.isoformat(), end.isoformat()


def _prefer_naip_for_summer(year: int, season_key: str) -> bool:
    """Reference: frames.py:36-43."""
    return season_key == "summer" and year >= min(NAIP_ONLY_YEARS)


def build_frame_rows(
    naip_variant: bool,
    cadence: str = "maximum",
    as_of_year: int = DEFAULT_AS_OF_YEAR,
) -> list[dict]:
    """All frames for one NAIP-variant, in reference plan order
    (frames.py:193-255, before date filtering/annotation). ``frame_id`` is
    the plan position — the key replacing the reference's positional zip
    (SURVEY.md J12)."""
    seasonal_years = list(range(2018, as_of_year + 1))
    frames: list[dict] = []

    if naip_variant and cadence != "monthly":
        summer = SEASONS[2]
        for yr in NAIP_ONLY_YEARS:
            start, end = _season_window(yr, summer)
            frames.append(
                {
                    "year": yr,
                    "season": "summer",
                    "start": start,
                    "end": end,
                    "collection": "naip",
                    "asset": "image",
                    "is_naip": True,
                }
            )

    if cadence == "monthly":
        for yr in seasonal_years:
            for m in range(1, 13):
                start, end = _month_window(yr, m)
                frames.append(
                    {
                        "year": yr,
                        "season": f"m{m:02d}",
                        "start": start,
                        "end": end,
                        "collection": "sentinel-2-l2a",
                        "asset": "visual",
                        "is_naip": False,
                    }
                )
    else:
        for yr in LANDSAT_YEARS:
            for s in SEASONS:
                start, end = _season_window(yr, s)
                frames.append(
                    {
                        "year": yr,
                        "season": s["key"],
                        "start": start,
                        "end": end,
                        "collection": "landsat-c2-l2",
                        "asset": "red",
                        "is_naip": False,
                    }
                )
        for yr in seasonal_years:
            for s in SEASONS:
                start, end = _season_window(yr, s)
                use_naip = naip_variant and _prefer_naip_for_summer(yr, s["key"])
                frames.append(
                    {
                        "year": yr,
                        "season": s["key"],
                        "start": start,
                        "end": end,
                        "collection": "naip" if use_naip else "sentinel-2-l2a",
                        "asset": "image" if use_naip else "visual",
                        "is_naip": use_naip,
                    }
                )

    for i, f in enumerate(frames):
        f["frame_id"] = i
        f["naip_variant"] = naip_variant
        # NDVI source collection per the reference's dispatch
        # (runner.py:312-319): landsat frames → Landsat NDVI; sentinel or
        # NAIP frames → Sentinel-2 NDVI.
        f["ndvi_collection"] = (
            "landsat-c2-l2" if f["collection"] == "landsat-c2-l2" else "sentinel-2-l2a"
        )
        # Cloud ceiling: 20 for S2 (ndvi.py:110), 30 for Landsat (ndvi.py:283).
        f["max_cloud"] = 30.0 if f["ndvi_collection"] == "landsat-c2-l2" else 20.0
    return frames


def filter_frames(
    frames: list[dict], date_start: str | None, date_end: str | None
) -> list[dict]:
    """Overlap filter (reference: frames.py:247-253)."""
    if not (date_start or date_end):
        return frames
    return [
        f
        for f in frames
        if not (date_start and f["end"] < date_start)
        and not (date_end and f["start"] > date_end)
    ]


EUDR_FRAME_DATE_START = "2021-01-01"


def all_frame_rows(as_of_year: int = DEFAULT_AS_OF_YEAR, cadence: str = "maximum") -> list[dict]:
    """Both NAIP variants concatenated — the full frames dimension."""
    return build_frame_rows(False, cadence, as_of_year) + build_frame_rows(
        True, cadence, as_of_year
    )
