"""Plain-numpy timings of the tiling kernels (no Spark), on a seeded batch
from the pyramid workload's generator. Each kernel runs `reps` times; the
median wall is reported with the vertices it processed per second."""

from __future__ import annotations

import statistics
import time

import numpy as np

from .inputs import rect_collection, rect_params


def _median_wall(fn, reps: int):
    walls, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def kernel_timings(seed: int, n_features: int, edge_points: int, options, reps: int = 5) -> dict:
    from geojson_vt_spark.functions.clip import AXIS_X, AXIS_Y
    from geojson_vt_spark.functions.convert import convert_geojson
    from geojson_vt_spark.functions.flat import (
        assemble_flat,
        clip_flat,
        flat_from_features,
        tile_geometry_json,
    )

    fc = rect_collection(rect_params(seed, n_features, stream=3), edge_points)
    n_in = sum(len(f["geometry"]["coordinates"][0]) for f in fc["features"])
    out = {}

    s, feats = _median_wall(lambda: convert_geojson(fc, options), reps)
    out["functions.convert.convert_geojson"] = (s, n_in)

    fl = flat_from_features(feats)
    nf = fl.n_features
    # the z0 -> z1 west/north quadrant split: x band, then y band
    k1 = 0.5 * options.buffer / options.extent
    lo, hi = np.full(nf, -k1), np.full(nf, 0.5 + k1)

    def clip():
        fx, srcx, _ = clip_flat(fl, lo, hi, AXIS_X, options.line_metrics)
        m = fx.n_features
        return clip_flat(fx, np.full(m, -k1), np.full(m, 0.5 + k1), AXIS_Y, options.line_metrics)

    s, _ = _median_wall(clip, reps)
    out["functions.flat.clip_flat"] = (s, fl.n_vertices)

    z = 8
    z_f = np.full(nf, z, dtype=np.int64)
    s, (_np, _ns, emit) = _median_wall(lambda: assemble_flat(fl, z_f, options), reps)
    out["functions.flat.assemble_flat"] = (s, fl.n_vertices)

    n = 1 << z
    x_f = np.floor(np.asarray(fl.minx) * n).astype(np.float64)
    y_f = np.floor(np.asarray(fl.miny) * n).astype(np.float64)
    s, _ = _median_wall(lambda: tile_geometry_json(emit, z_f, x_f, y_f, options.extent), reps)
    out["functions.flat.tile_geometry_json"] = (s, len(emit["gxs"]))

    metrics = {}
    for name, (s, verts) in out.items():
        metrics[f"{name}.s"] = s
        metrics[f"{name}.vertices_per_s"] = verts / s
    return metrics
