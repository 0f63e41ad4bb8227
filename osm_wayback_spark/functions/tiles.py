"""W4 — Web-Mercator z/x/y tile math as pure Column expressions.

Replaces the reference's external tippecanoe run (run.sh:65,
``-Z15 -z15``). Stays entirely inside whole-stage codegen: no UDF.

y uses the ``ln(tan φ + sec φ)`` form (not asinh) so the DuckDB
oracle can evaluate the bit-identical formula (DuckDB 1.0 lacks
asinh).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_ZOOM = 15  # run.sh:65: tippecanoe -Z15 -z15
MAX_LAT = 85.05112878  # Web-Mercator clamp


def tile_x(lon: Column, z: int) -> Column:
    n = float(2**z)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), x)).cast("long")


def tile_y(lat: Column, z: int) -> Column:
    n = float(2**z)
    clamped = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat))
    rad = F.radians(clamped)
    # ln(tan φ + sec φ) == asinh(tan φ)
    merc = F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
    y = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), y)).cast("long")
