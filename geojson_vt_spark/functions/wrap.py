"""Antimeridian wrapping (O7).

Semantics: /root/reference/src/wrap.ts:6-21 — clip the world into a left copy
[-1-buffer, buffer] and a right copy [1-buffer, 2+buffer], shift them by ±1,
and concatenate left + center + right (order matters for fixture parity).
If neither side copy has features the input is returned unchanged (the center
clip is then skipped entirely).
"""

from __future__ import annotations

from ..config import Options
from .clip import AXIS_X, clip_features
from .feature import make_feature, make_ring

# world-copy order keys (sort by (wcopy, fid) reproduces the concat order)
WORLD_LEFT = 0
WORLD_CENTER = 1
WORLD_RIGHT = 2


def wrap_features(features: list, options: Options) -> list:
    """Returns [(wcopy, feature), ...] in reference output order."""
    buffer = options.buffer / options.extent

    left = clip_features(features, 1, -1 - buffer, buffer, AXIS_X, options)
    right = clip_features(features, 1, 1 - buffer, 2 + buffer, AXIS_X, options)

    if not left and not right:
        return [(WORLD_CENTER, f) for f in features]

    center = clip_features(features, 1, -buffer, 1 + buffer, AXIS_X, options)

    merged = [(WORLD_LEFT, _shift_feature(f, 1.0)) for f in left]
    merged.extend((WORLD_CENTER, f) for f in center)
    merged.extend((WORLD_RIGHT, _shift_feature(f, -1.0)) for f in right)
    return merged


def _shift_feature(feature: dict, offset: float) -> dict:
    rings = []
    for ring in feature["rings"]:
        pts = ring["pts"].copy()
        pts[0::3] += offset
        rings.append(
            make_ring(pts, ring["poly"], ring["size"], ring["start"], ring["end"])
        )
    return make_feature(feature["id"], feature["type"], rings, feature["tags"])
