"""Correctness gates. Each returns None when the output is right, else a
short reason. They run outside the timed region; a reason counts the op as
failed.

Tile oracle: the package's single-tile path (`geojson_to_tile`, convert +
wrap + clip + transform of one tile, no index) over the generated GeoJSON.
Features whose mercator bbox (or a wrapped world copy of it) misses the
buffered tile are dropped before the call; clipping would drop them anyway,
and this keeps the oracle cheap at low zoom counts.

Polygon rings are compared up to their start vertex: the pyramid clips a
ring once per level while the oracle clips it once, so the same closed ring
can come back starting at another of its vertices. Vertex order, winding
and every coordinate must still match.
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np

from .inputs import merc_x, merc_y


def _norm_geom(g):
    if hasattr(g, "tolist"):
        g = g.tolist()
    if isinstance(g, (list, tuple)):
        return [_norm_geom(v) for v in g]
    return g


def _canon_ring(ring: list) -> list:
    if len(ring) < 2 or ring[0] != ring[-1]:
        return ring
    pts = ring[:-1]
    start = min(range(len(pts)), key=lambda i: pts[i:] + pts[:i])
    rot = pts[start:] + pts[:start]
    return rot + rot[:1]


def norm_tile(features) -> list:
    if features is None:
        return None
    out = []
    for f in features:
        geom = _norm_geom(f["geometry"])
        if f["type"] == 3:
            geom = [_canon_ring(r) for r in geom]
        out.append(json.dumps({**f, "geometry": geom}, sort_keys=True))
    return out


class FeatureSet:
    """The generated GeoJSON features in source order, split into the
    batches the engine appends diffs as (each batch is wrapped on its own,
    so tile features sort by batch, then by wrap order within it)."""

    def __init__(self, features: list, options):
        self.options = options
        self.batches: list = []
        self._append(features)

    def _append(self, features: list) -> None:
        rings = [np.asarray(f["geometry"]["coordinates"][0], dtype=np.float64) for f in features]
        box = np.array(
            [[merc_x(r[:, 0].min()), merc_x(r[:, 0].max()), merc_y(r[:, 1].max()), merc_y(r[:, 1].min())]
             for r in rings]
        ).reshape(-1, 4)
        self.batches.append((list(features), box))

    def apply(self, diff: dict) -> None:
        """difference.ts semantics: removes and re-adds drop the old
        feature; adds, then geometry updates, append as new batches."""
        adds = diff.get("add") or []
        updates = diff.get("update") or []
        gone = set(diff.get("remove") or []) | {f["id"] for f in adds}
        by_id = {f["id"]: f for feats, _box in self.batches for f in feats}
        moved = []
        for u in updates:
            old = by_id.get(u["id"])
            if old is not None and u["id"] not in gone:
                moved.append({**old, "geometry": u["newGeometry"]})
        gone |= {f["id"] for f in moved}
        kept = self.batches
        self.batches = []
        for feats, box in kept:
            keep = [i for i, f in enumerate(feats) if f["id"] not in gone]
            self.batches.append(([feats[i] for i in keep], box[keep]))
        for new in (adds, moved):
            if new:
                self._append(new)

    def expected_tile(self, z: int, x: int, y: int) -> list:
        from geojson_vt_spark.operators.geojson_to_tile import geojson_to_tile

        out = []
        for feats, box in self.batches:
            hit = np.flatnonzero(_touches(box, z, x, y, self.options))
            if hit.size:
                t = geojson_to_tile(
                    {"type": "FeatureCollection", "features": [feats[i] for i in hit]},
                    z, x, y, self.options, wrap=True, clip=True,
                )
                out.extend(t["features"])
        return norm_tile(out)

    def clipped(self, z: int, x: int, y: int) -> tuple:
        """(features, vertices) in the tile's clip of the wrapped features:
        what the pyramid's stop rule weighs against index_max_points."""
        from geojson_vt_spark.functions.clip import AXIS_X, AXIS_Y, clip_features
        from geojson_vt_spark.functions.convert import convert_geojson
        from geojson_vt_spark.functions.wrap import wrap_features

        o = self.options
        b = o.buffer / o.extent
        n_feats = n_points = 0
        for feats, box in self.batches:
            hit = np.flatnonzero(_touches(box, z, x, y, o))
            if not hit.size:
                continue
            conv = convert_geojson(
                {"type": "FeatureCollection", "features": [feats[i] for i in hit]}, o
            )
            wrapped = [f for _w, f in wrap_features(conv, o)]
            left = clip_features(wrapped, 1 << z, x - b, x + 1 + b, AXIS_X, o)
            kept = clip_features(left, 1 << z, y - b, y + 1 + b, AXIS_Y, o)
            n_feats += len(kept)
            n_points += sum(len(r["pts"]) // 3 for f in kept for r in f["rings"])
        return n_feats, n_points


def _touches(box: np.ndarray, z: int, x: int, y: int, options) -> np.ndarray:
    """Mask of features whose mercator bbox, or a world copy of it shifted
    by one world width, reaches the buffered tile."""
    n = float(1 << z)
    b = options.buffer / options.extent
    eps = 1e-9
    x0, x1 = (x - b) / n - eps, (x + 1 + b) / n + eps
    y0, y1 = (y - b) / n - eps, (y + 1 + b) / n + eps
    mask = (box[:, 3] >= y0) & (box[:, 2] <= y1)
    wrap = np.zeros(len(box), dtype=bool)
    for k in (-1.0, 0.0, 1.0):
        wrap |= (box[:, 1] + k >= x0) & (box[:, 0] + k <= x1)
    return mask & wrap


def tile_mismatch(served, expected) -> str | None:
    got = norm_tile(served)
    if got == expected:
        return None
    if got is None:
        return "tile missing"
    return f"tile differs: {len(got)} served vs {len(expected)} expected features"


def viewport_mismatch(served: dict, requested: list, known: set, expected_of) -> str | None:
    want = {f"z{z}-{x}-{y}" for z, x, y in requested if (z, x, y) in known}
    if set(served) != want:
        return f"viewport keys differ: {len(served)} served vs {len(want)} registered"
    for z, x, y in requested:
        key = f"z{z}-{x}-{y}"
        if key in served:
            why = tile_mismatch(served[key], expected_of(z, x, y))
            if why:
                return f"{key}: {why}"
    return None


def registry_mismatch(known: set, keys: list, clipped, options) -> str | None:
    """The built registry's split decisions at `keys`, against the stop
    rule applied to the oracle's clip. A tile splits when
    z < min(index_max_zoom, max_zoom) and its clip holds more than
    index_max_points vertices; a split registers all four children, empty
    ones included (as tile-index.ts does). So:

    - a registered tile below z0 has a registered parent that splits;
    - a registered tile has its four children registered if it splits, and
      none if it stops;
    - an unregistered key lies under a registered tile that stops."""
    memo: dict = {}
    top = min(options.index_max_zoom, options.max_zoom)

    def splits(k):
        if k not in memo:
            memo[k] = clipped(*k)
        return k[0] < top and memo[k][1] > options.index_max_points

    def name(k):
        return f"z{k[0]}-{k[1]}-{k[2]}"

    for key in dict.fromkeys(keys):
        z, x, y = key
        if key in known:
            parent = (z - 1, x >> 1, y >> 1)
            if z > 0 and (parent not in known or not splits(parent)):
                return f"{name(key)} is registered but its parent {name(parent)} stops"
            split = splits(key)
            for child in ((z + 1, 2 * x + dx, 2 * y + dy) for dy in (0, 1) for dx in (0, 1)):
                if (child in known) != split:
                    return (f"{name(child)} {'missing' if split else 'registered'}: "
                            f"{name(key)} clip holds {memo[key][1]} vertices")
            continue
        anc = key
        while anc not in known and anc[0] > 0:
            anc = (anc[0] - 1, anc[1] >> 1, anc[2] >> 1)
        if anc not in known:
            if clipped(*anc)[0] > 0:
                return f"root tile missing above {name(key)}"
        elif splits(anc):
            return (f"{name(key)} missing: its registered ancestor {name(anc)} "
                    f"clip holds {memo[anc][1]} vertices")
    return None


# -- oracle comparison (row count + order-insensitive value hash) ------------


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def rows_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_mismatch(rows, cols, o_rows, o_cols) -> str | None:
    if sorted(cols) != sorted(o_cols):
        return f"columns differ: {sorted(cols)} vs oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows vs oracle {len(o_rows)}"
    if rows_hash(rows, cols) != rows_hash(o_rows, o_cols):
        return "row values differ from oracle"
    return None


def grid_mismatch(levels: dict, n_points: int, max_zoom: int) -> str | None:
    """build_grid_trees invariants: every zoom's clusters hold all points
    (sum of `num` is the point count), the level above max_zoom is the raw
    points, and cluster counts never shrink with zoom."""
    zooms = sorted(levels)
    if zooms != list(range(0, max_zoom + 2)):
        return f"zoom levels {zooms}"
    for z in zooms:
        rows, weight = levels[z]
        if weight != n_points:
            return f"z{z} holds {weight} of {n_points} points"
    if levels[max_zoom + 1][0] != n_points:
        return f"raw level has {levels[max_zoom + 1][0]} rows"
    counts = [levels[z][0] for z in zooms]
    if any(a > b for a, b in zip(counts, counts[1:])):
        return f"cluster counts shrink with zoom: {counts}"
    return None
