"""Per-zoom tile feature assembly (O13) and integer transform (O14).

Semantics: /root/reference/src/tile.ts (per-zoom tolerance filtering of the
pre-annotated DP square distances, tiny ring/line culling, canonical ring
rewinding, lineMetrics clip tags, numPoints/numSimplified counters) and
/root/reference/src/transform.ts (mercator [0..1] -> integer extent grid).

Assembly is deliberately *per-feature* (not per-tile): the reference's
createTile loop only appends features and accumulates counters, so the
tile-level values (numPoints, numSimplified, numFeatures, bbox) are plain
SUM/MIN/MAX aggregates over per-feature results. That's what lets the Spark
pipeline stay row-wise — a z0 tile holding the whole corpus never has to fit
in one task.
"""

from __future__ import annotations

import numpy as np

from ..config import Options
from .feature import (
    LINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    TILE_LINE,
    TILE_POINT,
    TILE_POLYGON,
)

GEOJSONVT_CLIP_START = "geojsonvt_clip_start"
GEOJSONVT_CLIP_END = "geojsonvt_clip_end"


def js_div(a: float, b: float) -> float:
    """JS float division (x/0 = ±inf, 0/0 = NaN) without raising."""
    if b == 0.0:
        return float("nan") if a == 0.0 else float("inf") if a > 0 else float("-inf")
    return a / b


def assemble_feature(feature: dict, z: int, options: Options):
    """Simplify-filter one source feature for zoom z.

    Returns (tile_feature | None, n_points, n_simplified):
      tile_feature = {"type": 1|2|3, "tags": dict|None, "geometry": [...],
                      "id": ...?} with mercator coords (pre-transform);
      n_points counts *all* source vertices (the numPoints stop-rule signal),
      n_simplified counts emitted vertices.
    """
    tolerance = options.zoom_tolerance(z)
    ftype = feature["type"]
    n_points = 0
    n_simplified = 0

    if ftype in (POINT, MULTIPOINT):
        pts = feature["rings"][0]["pts"]
        n = len(pts) // 3
        n_points += n
        n_simplified += n
        geometry = pts.reshape(-1, 3)[:, :2]  # flat list of [x, y]
        tf = {"type": TILE_POINT, "tags": feature["tags"], "geometry": geometry}
        _set_id(tf, feature)
        return tf, n_points, n_simplified

    sq_tolerance = tolerance * tolerance
    is_polygon = ftype in (POLYGON, MULTIPOLYGON)
    geometry = []
    if ftype == MULTIPOLYGON:
        cur_poly = None
        for ring in feature["rings"]:
            is_outer = ring["poly"] != cur_poly
            cur_poly = ring["poly"]
            np_, ns = _add_ring(geometry, ring, tolerance, sq_tolerance, True, is_outer)
            n_points += np_
            n_simplified += ns
    else:
        for i, ring in enumerate(feature["rings"]):
            np_, ns = _add_ring(
                geometry, ring, tolerance, sq_tolerance, is_polygon, i == 0
            )
            n_points += np_
            n_simplified += ns

    if not geometry:
        return None, n_points, n_simplified

    tags = feature["tags"]
    if ftype == LINESTRING and options.line_metrics:
        ring = feature["rings"][0]
        tags = dict(feature["tags"] or {})
        tags[GEOJSONVT_CLIP_START] = js_div(ring["start"], ring["size"])
        tags[GEOJSONVT_CLIP_END] = js_div(ring["end"], ring["size"])

    tf = {
        "type": TILE_POLYGON if is_polygon else TILE_LINE,
        "tags": tags,
        "geometry": geometry,
    }
    _set_id(tf, feature)
    return tf, n_points, n_simplified


def _set_id(tf: dict, feature: dict) -> None:
    if feature["id"] is not None:
        tf["id"] = feature["id"]


def _add_ring(result, ring, tolerance, sq_tolerance, is_polygon, is_outer):
    """src/tile.ts:143-164: cull tiny rings, keep vertices above tolerance,
    rewind polygon rings."""
    pts = ring["pts"]
    n = len(pts) // 3
    if tolerance > 0 and ring["size"] < (sq_tolerance if is_polygon else tolerance):
        return n, 0  # culled: vertices counted, nothing emitted

    m = pts.reshape(-1, 3)
    if tolerance == 0:
        kept = m[:, :2]
    else:
        kept = m[m[:, 2] > sq_tolerance][:, :2]
    ns = kept.shape[0]

    if is_polygon:
        kept = _rewind(kept, is_outer)
    result.append(kept)
    return n, ns


def _rewind(ring: np.ndarray, clockwise: bool) -> np.ndarray:
    """src/tile.ts:166-184 — canonical winding (outer CW, inner CCW in tile
    screen space). Sequential-order shoelace so the sign matches JS exactly."""
    if ring.shape[0] == 0:
        return ring
    x = ring[:, 0]
    y = ring[:, 1]
    terms = np.empty(len(x), dtype=np.float64)
    terms[0] = (x[0] - x[-1]) * (y[0] + y[-1])
    np.multiply(x[1:] - x[:-1], y[1:] + y[:-1], out=terms[1:])
    # cumsum keeps strict left-to-right float order (sign parity with JS)
    area = float(terms.cumsum()[-1])
    if (area > 0) != clockwise:
        return ring
    return ring[::-1]


def js_round(v: np.ndarray) -> np.ndarray:
    """ECMA Math.round: nearest integer, exact halves toward +inf.
    (NOT numpy banker's rounding, and NOT floor(v+0.5) whose float add can
    round 0.49999999999999994 up.)"""
    f = np.floor(v)
    return (f + ((v - f) >= 0.5)).astype(np.int64)


def transform_tile_feature(tf: dict, z: int, tx: int, ty: int, extent: int) -> dict:
    """Mercator [0..1] -> integer tile coords (src/transform.ts:67-72)."""
    z2 = 1 << z
    if tf["type"] == TILE_POINT:
        g = np.asarray(tf["geometry"], dtype=np.float64)
        out = np.stack(
            [js_round(extent * (g[:, 0] * z2 - tx)), js_round(extent * (g[:, 1] * z2 - ty))],
            axis=1,
        )
        geometry = out
    else:
        geometry = []
        for ring in tf["geometry"]:
            g = np.asarray(ring, dtype=np.float64)
            if g.size == 0:
                geometry.append(np.empty((0, 2), dtype=np.int64))
                continue
            geometry.append(
                np.stack(
                    [
                        js_round(extent * (g[:, 0] * z2 - tx)),
                        js_round(extent * (g[:, 1] * z2 - ty)),
                    ],
                    axis=1,
                )
            )
    out_tf = {"type": tf["type"], "tags": tf["tags"], "geometry": geometry}
    if "id" in tf:
        out_tf["id"] = tf["id"]
    return out_tf
