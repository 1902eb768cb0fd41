"""Single-tile fast path (O16).

Semantics: /root/reference/src/geojson-to-tile.ts:42-58 — convert, optional
wrap, optional clip to the tile bbox (+buffer), assemble + transform one tile,
no index.

Two surfaces:
  * ``geojson_to_tile`` — driver-side, exact reference parity (incl. the JS
    ``1 << z`` int32-shift semantics for out-of-range zooms, which the
    reference's weird-z tests rely on);
  * ``tile_from_features_df`` — the Spark shape: Catalyst bbox predicate on
    the plain bbox columns prunes rows *before* the Arrow clip/assemble
    kernel ever sees them (the scan reads only straddling candidates), then a
    single mapInArrow runs the pyramid's whole-batch flat kernels (band clip
    on both axes, assembly) and emits the tile's features. This is the
    "minimum slice" query used when the source is already a (huge) feature
    table: predicate pushdown + column pruning happen for free.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import Options
from ..functions.clip import AXIS_X, AXIS_Y, clip_features
from ..functions.convert import convert_geojson
from ..functions.flat import clip_flat, list_parts
from ..functions.tile import assemble_feature, transform_tile_feature
from ..functions.wrap import wrap_features
from ..model import TILE_FEATURE_SCHEMA
from ..plans.pyramid import _read_state, _tile_rows

_TILE_ARROW = to_arrow_schema(TILE_FEATURE_SCHEMA)
_BBOX = ("minx", "miny", "maxx", "maxy")


def _js_shl1(z) -> int:
    # JS `1 << z`: operand coerced to int32, shift count taken mod 32
    return 1 << (int(z) & 31)


def _transformed_features(features: list, z, x, y, options: Options) -> list:
    out = []
    for f in features:
        tf, _np, _ns = assemble_feature(f, z, options)
        if tf is None:
            continue
        tft = transform_tile_feature(tf, z, x, y, options.extent)
        tft["geometry"] = (
            tft["geometry"].tolist()
            if hasattr(tft["geometry"], "tolist")
            else [r.tolist() for r in tft["geometry"]]
        )
        out.append(tft)
    return out


def geojson_to_tile(
    data: dict,
    z,
    x,
    y,
    options: Optional[Options] = None,
    wrap: bool = False,
    clip: bool = False,
) -> dict:
    options = options or Options()
    features = convert_geojson(data, options)
    if wrap:
        features = [f for _w, f in wrap_features(features, options)]
    if clip or options.line_metrics:
        pow2 = _js_shl1(z)
        buffer = options.buffer / options.extent
        left = clip_features(features, pow2, x - buffer, x + 1 + buffer, AXIS_X, options)
        features = clip_features(left, pow2, y - buffer, y + 1 + buffer, AXIS_Y, options)
    if not features or not (0 <= int(z) <= 24 and float(z) == int(z)):
        return {"z": z, "x": x, "y": y, "features": []}
    return {
        "z": z,
        "x": x,
        "y": y,
        "features": _transformed_features(features, int(z), x, y, options),
    }


def tile_from_features_df(
    features_df: DataFrame, z: int, x: int, y: int, options: Optional[Options] = None
) -> DataFrame:
    """Distributed single-tile slice over a FEATURE_SCHEMA table.

    The bbox trivial accept/reject (clip.ts:29-35) is expressed as a Column
    predicate so Catalyst pushes it into the scan; the kernel clips only the
    rows that pass. okey is the source okey plus the slice's ordinal within
    its source feature; minx..maxy are the source row's bbox.
    """
    options = options or Options()
    z2 = 1 << z
    buffer = options.buffer / options.extent
    k1x, k2x = (x - buffer) / z2, (x + 1 + buffer) / z2
    k1y, k2y = (y - buffer) / z2, (y + 1 + buffer) / z2

    pruned = features_df.filter(
        (F.col("maxx") >= F.lit(k1x))
        & (F.col("minx") <= F.lit(k2x))
        & (F.col("maxy") >= F.lit(k1y))
        & (F.col("miny") <= F.lit(k2y))
    )

    def clip(fl, k1, k2, axis):
        n = fl.n_features
        return clip_flat(fl, np.full(n, k1), np.full(n, k2), axis, options.line_metrics)

    def kernel(batches):
        for batch in batches:
            fl, _z, _x, _y, okeys, ids, tags = _read_state(batch)
            flx, srcx, _ = clip(fl, k1x, k2x, AXIS_X)
            fly, srcy, _ = clip(flx, k1y, k2y, AXIS_Y)
            n = fly.n_features
            if not n:
                continue
            # clip output is ordered by source row, so a slice's ordinal
            # within its source row is its distance from the run's start
            src = srcx[srcy]
            first = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
            ordinal = np.arange(n) - np.repeat(first, np.diff(np.r_[first, n]))
            ia = pa.array(src, pa.int64())
            off, old = list_parts(okeys.take(ia))
            okey = pa.ListArray.from_arrays(
                pa.array(off + np.arange(n + 1), pa.int32()),
                pa.array(np.insert(old, off[1:], ordinal)), type=okeys.type,
            )
            rows = _tile_rows((
                fly, np.full(n, z), np.full(n, x), np.full(n, y),
                okey, ids.take(ia), tags.take(ia),
            ), options)[0]
            keep = rows.column("tf_geom").is_valid()
            cols = [
                batch.column(f.name).take(ia) if f.name in _BBOX else rows.column(f.name)
                for f in _TILE_ARROW
            ]
            yield pa.RecordBatch.from_arrays(
                [c.filter(keep) for c in cols], schema=_TILE_ARROW
            )

    return pruned.mapInArrow(kernel, TILE_FEATURE_SCHEMA)
