"""Axis-parallel band clipping (O8-O11).

Semantics: /root/reference/src/clip.ts — clip features to [start, end] on one
axis; points are filtered, lines are segment-walked with interpolated entry/exit
crossings (marked m=1) and split into slices, polygon rings are re-closed.
Feature-level bbox trivial accept/reject short-circuits untouched features.

The batch-level accept/reject of the reference (clip.ts:29-35) is equivalent to
the per-feature checks (a batch bbox inside the band implies every feature bbox
is) — in the Spark pipeline it is expressed as Column predicates on the bbox
columns so Catalyst filters rows before the UDF ever sees them.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import Options
from .feature import (
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    make_feature,
    make_ring,
)

AXIS_X = 0
AXIS_Y = 1


def clip_features(
    features: list,
    scale: float,
    start: float,
    end: float,
    axis: int,
    options: Options,
) -> list:
    """Clip a feature list; returns possibly-empty list (reference returns
    null for empty — callers here treat [] the same)."""
    start /= scale
    end /= scale
    out: list = []
    for f in features:
        clip_one(f, start, end, axis, options, out)
    return out


def clip_one(
    feature: dict, start: float, end: float, axis: int, options: Options, out: list
) -> None:
    """Clip a single feature into `out` (0..n results)."""
    fmin = feature["minx"] if axis == AXIS_X else feature["miny"]
    fmax = feature["maxx"] if axis == AXIS_X else feature["maxy"]

    if fmin >= start and fmax < end:  # trivial accept
        out.append(feature)
        return
    if fmax < start or fmin >= end:  # trivial reject
        return

    ftype = feature["type"]
    fid = feature["id"]
    tags = feature["tags"]

    if ftype in (POINT, MULTIPOINT):
        pts = feature["rings"][0]["pts"]
        a = pts[axis::3]
        keep = (a >= start) & (a <= end)
        kept = pts.reshape(-1, 3)[keep].reshape(-1)
        if not kept.size:
            return
        new_type = POINT if kept.size == 3 else MULTIPOINT
        out.append(make_feature(fid, new_type, [make_ring(kept)], tags))
        return

    if ftype == LINESTRING:
        slices = _clip_ring(
            feature["rings"][0], start, end, axis, False, options.line_metrics
        )
        if not slices:
            return
        if options.line_metrics:
            for s in slices:
                out.append(make_feature(fid, LINESTRING, [s], tags))
            return
        if len(slices) > 1:
            out.append(make_feature(fid, MULTILINESTRING, slices, tags))
        else:
            out.append(make_feature(fid, LINESTRING, slices, tags))
        return

    if ftype == MULTILINESTRING:
        slices = []
        for ring in feature["rings"]:
            slices.extend(_clip_ring(ring, start, end, axis, False, False))
        if not slices:
            return
        new_type = LINESTRING if len(slices) == 1 else MULTILINESTRING
        out.append(make_feature(fid, new_type, slices, tags))
        return

    if ftype == POLYGON:
        rings = []
        for ring in feature["rings"]:
            rings.extend(_clip_ring(ring, start, end, axis, True, False))
        if rings:
            out.append(make_feature(fid, POLYGON, rings, tags))
        return

    if ftype == MULTIPOLYGON:
        rings = []
        kept_polys: set = set()
        for ring in feature["rings"]:
            res = _clip_ring(ring, start, end, axis, True, False)
            for r in res:
                r["poly"] = ring["poly"]
            rings.extend(res)
            if res:
                kept_polys.add(ring["poly"])
        if not rings:
            return
        # renumber polygon indices densely, preserving order
        remap = {p: i for i, p in enumerate(sorted(kept_polys))}
        for r in rings:
            r["poly"] = remap[r["poly"]]
        out.append(make_feature(fid, MULTIPOLYGON, rings, tags))
        return


def _clip_ring(
    ring: dict,
    start: float,
    end: float,
    axis: int,
    is_polygon: bool,
    track_metrics: bool,
) -> list:
    """Segment-walking clip of one ring (src/clip.ts:166-241).

    Returns a list of slice rings (non-polygon lines may split; polygons always
    produce at most one, re-closed).
    """
    pts = ring["pts"]
    size = ring["size"]
    rstart = ring["start"]
    rend = ring["end"]
    poly = ring["poly"]

    slices: list = []
    cur: list = []
    cur_start = rstart
    cur_end = rend
    length = rstart if rstart is not None else 0.0

    n = len(pts)
    for i in range(0, n - 3, 3):
        ax_ = pts[i]
        ay = pts[i + 1]
        az = pts[i + 2]
        bx = pts[i + 3]
        by = pts[i + 4]
        a = ax_ if axis == AXIS_X else ay
        b = bx if axis == AXIS_X else by
        exited = False
        seg_len = 0.0
        t = 0.0

        if track_metrics:
            seg_len = math.sqrt((ax_ - bx) ** 2 + (ay - by) ** 2)

        if a < start:
            if b > start:  # enters from the left
                t = _intersect(cur, ax_, ay, bx, by, start, axis)
                if track_metrics:
                    cur_start = length + seg_len * t
        elif a > end:
            if b < end:  # enters from the right
                t = _intersect(cur, ax_, ay, bx, by, end, axis)
                if track_metrics:
                    cur_start = length + seg_len * t
        else:
            cur.extend((ax_, ay, az))

        if b < start and a >= start:  # exits left
            t = _intersect(cur, ax_, ay, bx, by, start, axis)
            exited = True
        if b > end and a <= end:  # exits right
            t = _intersect(cur, ax_, ay, bx, by, end, axis)
            exited = True

        if not is_polygon and exited:
            if track_metrics:
                cur_end = length + seg_len * t
            slices.append(
                make_ring(np.array(cur, dtype=np.float64), poly, size, cur_start, cur_end)
            )
            cur = []
            cur_start = rstart
            cur_end = rend

        if track_metrics:
            length += seg_len

    # last point
    last = n - 3
    ax_ = pts[last]
    ay = pts[last + 1]
    az = pts[last + 2]
    a = ax_ if axis == AXIS_X else ay
    if start <= a <= end:
        cur.extend((ax_, ay, az))

    # close the polygon if endpoints diverged after clipping
    if is_polygon and len(cur) >= 6 and (cur[-3] != cur[0] or cur[-2] != cur[1]):
        cur.extend((cur[0], cur[1], cur[2]))

    if cur:
        slices.append(
            make_ring(np.array(cur, dtype=np.float64), poly, size, cur_start, cur_end)
        )
    return slices


def _intersect(out: list, ax: float, ay: float, bx: float, by: float, v: float, axis: int) -> float:
    # linear interpolation crossing, marked m=1 (src/clip.ts:262-272)
    if axis == AXIS_X:
        t = (v - ax) / (bx - ax)
        out.extend((v, ay + (by - ay) * t, 1.0))
    else:
        t = (v - ay) / (by - ay)
        out.extend((ax + (bx - ax) * t, v, 1.0))
    return t
