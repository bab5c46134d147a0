"""Geodesy as native Column expressions (JVM-side, codegen'd).

Formulas carry reference semantics without any Python-per-row cost:

- ``lnglat_to_meters``   reference xrspatial/utils.py:280-324 (Web-Mercator)
- ``euclidean_dist``     reference xrspatial/proximity.py:39-86
- ``manhattan_dist``     reference xrspatial/proximity.py:88-132
- ``great_circle_dist``  reference xrspatial/proximity.py:136-221
  (haversine, R=6378137 — an expression, NOT a UDF)
- ``direction_deg``      reference xrspatial/proximity.py:238-258
  (compass bearing: 0=self, 90=E, 180=S, 270=W, 360=N)

``geocode_lat``/``geocode_lon`` is this engine's deterministic
"geocoder" for ids: pure int64 arithmetic, so the *identical* formula
runs in any ANSI-SQL oracle. It stands in for a real geocoding model
the way a hash stands in for content addressing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = math.pi * EARTH_RADIUS

# Knuth multiplicative-hash constants; products stay < 2^63 for ids < 2^31.
_LAT_MULT = 2654435761
_LON_MULT = 2246822519


def geocode_lat(key: Column) -> Column:
    return ((key * F.lit(_LAT_MULT)) % F.lit(1700000)) / F.lit(10000.0) - F.lit(85.0)


def geocode_lon(key: Column) -> Column:
    return ((key * F.lit(_LON_MULT)) % F.lit(3600000)) / F.lit(10000.0) - F.lit(180.0)


def geocode_sql(key_expr: str) -> tuple[str, str]:
    """The same geocode as ANSI SQL strings (for DuckDB oracles)."""
    lat = f"((({key_expr}) * {_LAT_MULT}) % 1700000) / 10000.0 - 85.0"
    lon = f"((({key_expr}) * {_LON_MULT}) % 3600000) / 10000.0 - 180.0"
    return lat, lon


def sql_double(v: float) -> str:
    """``v`` as an exact Spark SQL double literal.  A bare ``1.5`` parses
    as DECIMAL; the shortest ``repr`` with a ``D`` suffix round-trips to
    the same double.  Non-finite values go through a cast."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{v!r}' AS DOUBLE)"


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lnglat_to_meters(lon: Column, lat: Column) -> tuple[Column, Column]:
    easting = lon * F.lit(ORIGIN_SHIFT / 180.0)
    northing = F.log(F.tan((F.lit(90.0) + lat) * F.lit(math.pi / 360.0))) * F.lit(
        ORIGIN_SHIFT / math.pi
    )
    return easting, northing


def euclidean_dist(x1: Column, x2: Column, y1: Column, y2: Column) -> Column:
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


def manhattan_dist(x1: Column, x2: Column, y1: Column, y2: Column) -> Column:
    # reference proximity.py:129-132 — NOTE: |dx| + |dy| (the reference's
    # docstring says taxicab; its kernel returns abs(x)+abs(y)).
    return F.abs(x1 - x2) + F.abs(y1 - y2)


def great_circle_dist(
    x1: Column, x2: Column, y1: Column, y2: Column, radius: float = EARTH_RADIUS
) -> Column:
    lat1, lon1 = F.radians(y1), F.radians(x1)
    lat2, lon2 = F.radians(y2), F.radians(x2)
    a = F.pow(F.sin((lat2 - lat1) / 2), 2) + F.cos(lat1) * F.cos(lat2) * F.pow(
        F.sin((lon2 - lon1) / 2), 2
    )
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def distance_col(
    x1: Column, x2: Column, y1: Column, y2: Column, metric: str = "EUCLIDEAN"
) -> Column:
    m = metric.upper()
    if m == "EUCLIDEAN":
        return euclidean_dist(x1, x2, y1, y2)
    if m == "MANHATTAN":
        return manhattan_dist(x1, x2, y1, y2)
    if m == "GREAT_CIRCLE":
        return great_circle_dist(x1, x2, y1, y2)
    raise ValueError(f"unknown distance metric {metric!r}")


def direction_deg(x1: Column, x2: Column, y1: Column, y2: Column) -> Column:
    """Compass bearing from (x1,y1) to source (x2,y2); 0 for the source
    cell itself (reference proximity.py:238-258)."""
    d = F.atan2(-(y2 - y1), x2 - x1) * F.lit(57.29578)
    folded = (
        F.when(d < 0, F.lit(90.0) - d)
        .when(d > 90.0, F.lit(360.0) - d + F.lit(90.0))
        .otherwise(F.lit(90.0) - d)
    )
    return F.when((x1 == x2) & (y1 == y2), F.lit(0.0)).otherwise(folded)
