"""Geospatial expressions, built entirely from Catalyst built-ins.

The reference uses PostGIS geography ops (`ST_Distance`, `ST_DWithin`,
`ST_Centroid` — reference `src/transformation/aggregation.py:92-109`,
`sql/schema.sql:373-383`). Every use is point-to-centroid distance, so a
haversine great-circle expression over plain lat/lon doubles replaces the
GIS stack (<0.5% deviation from the ellipsoid at 50 km scale; the test
oracle uses the same formula, see SURVEY.md §7).

No UDFs: ``sin/cos/asin/sqrt/radians`` keep the whole expression inside
whole-stage codegen, so the spatial range join vectorizes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (lat, lon) pairs."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The same formula as a SQL fragment (for DuckDB test oracles)."""
    return (
        f"2 * {EARTH_RADIUS_KM} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))"
    )

