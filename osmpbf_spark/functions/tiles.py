"""Web-mercator (slippy z/x/y) raster tiles as Catalyst expressions.

The raster side of raster↔vector tile assignment (BASELINE.json
north_star): standard OSM tile scheme — at zoom z the world is 2^z × 2^z
tiles, x = floor((lon+180)/360·2^z), y via the mercator latitude formula.
Pure JVM math (no UDF). Latitudes are clamped to the web-mercator domain
(±85.05113°), matching the standard tiling convention.

tile_id layout mirrors grid.py: z * 4^29 + x * 2^29 + y.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .grid import RES_SHIFT, Y_SHIFT

MAX_MERC_LAT = 85.05112877980659


def tile_xy(lat: Column, lon: Column, zoom: int) -> tuple[Column, Column]:
    n = F.lit(float(1 << zoom))
    clamped = F.greatest(F.least(lat, F.lit(MAX_MERC_LAT)),
                         F.lit(-MAX_MERC_LAT))
    x = F.floor((lon + 180.0) / 360.0 * n).cast("long")
    x = F.when(x >= (1 << zoom), F.lit(0)).otherwise(x)  # lon=180 wraps
    rad = F.radians(clamped)
    y = F.floor((1.0 - F.asinh(F.tan(rad)) / math.pi) / 2.0 * n) \
        .cast("long")
    y = F.greatest(F.least(y, F.lit((1 << zoom) - 1)), F.lit(0))
    return x, y


def tile_id(lat: Column, lon: Column, zoom: int) -> Column:
    x, y = tile_xy(lat, lon, zoom)
    return (F.lit(zoom).cast("long") * F.lit(RES_SHIFT)
            + x * F.lit(Y_SHIFT) + y)


def py_tile_xy(lat: float, lon: float, zoom: int) -> tuple[int, int]:
    """Pure-python reference (the standard published formula) for golden
    tests."""
    lat = max(min(lat, MAX_MERC_LAT), -MAX_MERC_LAT)
    n = 1 << zoom
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    if x >= n:
        x = 0
    rad = math.radians(lat)
    y = int(math.floor((1.0 - math.asinh(math.tan(rad)) / math.pi)
                       / 2.0 * n))
    return x, max(min(y, n - 1), 0)


def with_tiles(df: DataFrame, *, zoom: int = 12, lat_col: str = "lat",
               lon_col: str = "lon", out_col: str = "tile") -> DataFrame:
    """Attach z/x/y tile ids to point rows (degree doubles)."""
    return df.withColumn(
        out_col,
        F.when(F.col(lat_col).isNotNull(),
               tile_id(F.col(lat_col), F.col(lon_col), zoom)))
