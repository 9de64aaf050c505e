"""Equirectangular distance — port of the reference's ``lonlatdistance``.

Reference: /root/reference/scripts/dbinstallation/dbfunctions.sql:28-50 —
PL/pgSQL equirectangular approximation with R=6371000 m:

    x = Δlon · cos((lat1+lat2)/2), y = Δlat, d = R · sqrt(x² + y²)
    (angles in radians)

Exposed three ways so every consumer uses the same formula:
- :func:`distance_m_col`   one Catalyst expression (JVM, codegen)
- :func:`distance_m_sql`   ANSI-SQL string (DuckDB oracle)
- :func:`distance_m_np`    vectorized numpy (refine UDFs, tests)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def distance_m_col(lon1: str, lat1: str, lon2: str, lat2: str) -> Column:
    """One F.expr over column names or Spark-SQL text. Squares are spelled
    ``x * x`` as in :func:`distance_m_np`, not with :func:`distance_m_sql`'s
    POW, which may round differently and so move ``dist_m`` ties."""
    x = f"((RADIANS({lon2}) - RADIANS({lon1})) * COS((RADIANS({lat1}) + RADIANS({lat2})) / 2))"
    y = f"(RADIANS({lat2}) - RADIANS({lat1}))"
    return F.expr(f"SQRT({x} * {x} + {y} * {y}) * {EARTH_RADIUS_M!r}D")


def distance_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (
        f"(SQRT(POW((RADIANS({lon2}) - RADIANS({lon1})) * "
        f"COS((RADIANS({lat1}) + RADIANS({lat2})) / 2), 2) + "
        f"POW(RADIANS({lat2}) - RADIANS({lat1}), 2)) * {EARTH_RADIUS_M})"
    )


def distance_m_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    x = (lon2 - lon1) * np.cos((lat1 + lat2) / 2)
    y = lat2 - lat1
    return np.sqrt(x * x + y * y) * EARTH_RADIUS_M
