"""Web-Mercator unit-square projection.

Semantics: /root/reference/src/convert.ts:193-207 (forward, y clamped to [0,1])
and /root/reference/src/deconvert.ts:86-96 (inverse).

Provided in three flavors:
  * scalar python (exactness-critical single values),
  * vectorized numpy (inside pandas UDF kernels),
  * Spark Column expressions (pure JVM-side, whole-stage-codegen friendly —
    used by the SQL-expressible `queries()` entries and anywhere geometry
    kernels are not needed).
"""

from __future__ import annotations

import math

import numpy as np


def project_x(x: float) -> float:
    return x / 360.0 + 0.5


def project_y(y: float) -> float:
    s = math.sin(y * math.pi / 180.0)
    if s == 1.0:
        return 0.0  # JS: log(inf) -> inf -> y2=-inf -> clamp 0
    if s == -1.0:
        return 1.0  # JS: log(0) -> -inf -> y2=+inf -> clamp 1
    y2 = 0.5 - 0.25 * math.log((1.0 + s) / (1.0 - s)) / math.pi
    return 0.0 if y2 < 0 else 1.0 if y2 > 1 else y2


def unproject_x(x: float) -> float:
    return (x - 0.5) * 360.0


def unproject_y(y: float) -> float:
    y2 = (180.0 - y * 360.0) * math.pi / 180.0
    return 360.0 * math.atan(math.exp(y2)) / math.pi - 90.0


def project_x_np(x: np.ndarray) -> np.ndarray:
    return x / 360.0 + 0.5


def project_y_np(y: np.ndarray) -> np.ndarray:
    s = np.sin(y * (np.pi / 180.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        y2 = 0.5 - 0.25 * np.log((1.0 + s) / (1.0 - s)) / np.pi
    # poles: s==±1 produce ±inf/nan -> clamp exactly like the scalar path
    y2 = np.where(s == 1.0, 0.0, y2)
    y2 = np.where(s == -1.0, 1.0, y2)
    return np.clip(y2, 0.0, 1.0)


# ---- Spark Column expressions (JVM-side; no Python) -------------------------

def project_x_col(col):
    from pyspark.sql import functions as F

    return col / F.lit(360.0) + F.lit(0.5)


def project_y_col(col):
    from pyspark.sql import functions as F

    s = F.sin(col * F.lit(math.pi / 180.0))
    y2 = F.lit(0.5) - F.lit(0.25) * F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(math.pi)
    return F.least(F.greatest(y2, F.lit(0.0)), F.lit(1.0))


def unproject_x_col(col):
    from pyspark.sql import functions as F

    return (col - F.lit(0.5)) * F.lit(360.0)


def unproject_y_col(col):
    from pyspark.sql import functions as F

    y2 = (F.lit(180.0) - col * F.lit(360.0)) * F.lit(math.pi / 180.0)
    return F.lit(360.0) * F.atan(F.exp(y2)) / F.lit(math.pi) - F.lit(90.0)
