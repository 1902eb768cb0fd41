"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees what these functions return.

The rectangle shape is the reference geojson-vt bench's: uniform lon/lat
corners, widths and heights 0.1-0.6 degrees. `edge_points` densifies each
edge (collinear points), which raises the vertex count per feature without
changing the footprint, so a corpus just above the pyramid's one-shot
vertex limit stays small enough to build inside the run budget.
"""

from __future__ import annotations

import math
import os

import numpy as np


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def rect_params(seed: int, n: int, stream: int = 0) -> np.ndarray:
    """(n, 4) array of lon, lat, width, height."""
    g = rng(seed, stream)
    return np.column_stack([
        g.uniform(-180.0, 180.0, n),
        g.uniform(-80.0, 80.0, n),
        g.uniform(0.1, 0.6, n),
        g.uniform(0.1, 0.6, n),
    ])


def rect_ring(lon: float, lat: float, w: float, h: float, edge_points: int) -> list:
    corners = [(lon, lat), (lon + w, lat), (lon + w, lat + h), (lon, lat + h), (lon, lat)]
    ring = []
    for (ax, ay), (bx, by) in zip(corners, corners[1:]):
        for j in range(edge_points):
            t = j / edge_points
            ring.append([ax + (bx - ax) * t, ay + (by - ay) * t])
    ring.append([lon, lat])
    return ring


def rect_feature(fid: int, p, edge_points: int) -> dict:
    lon, lat, w, h = (float(v) for v in p)
    return {
        "type": "Feature",
        "id": int(fid),
        "properties": {"i": int(fid)},
        "geometry": {"type": "Polygon", "coordinates": [rect_ring(lon, lat, w, h, edge_points)]},
    }


def rect_collection(params: np.ndarray, edge_points: int, first_id: int = 0) -> dict:
    return {
        "type": "FeatureCollection",
        "features": [rect_feature(first_id + i, p, edge_points) for i, p in enumerate(params)],
    }


def _feature_rows_fn(options, edge_points: int):
    def fn(batches):
        import pandas as pd

        from geojson_vt_spark.functions.convert import convert_geojson
        from geojson_vt_spark.functions.wrap import wrap_features
        from geojson_vt_spark.model import FEATURE_SCHEMA, feature_to_row

        cols = [f.name for f in FEATURE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for fid, lon, lat, w, h in pdf[["id", "lon", "lat", "w", "h"]].itertuples(index=False):
                feat = rect_feature(fid, (lon, lat, w, h), edge_points)
                for wcopy, f in wrap_features(convert_geojson(feat, options), options):
                    # okey [wcopy, id] sorts like the wrap order of the whole
                    # collection, which is what the single-tile oracle sees
                    rows.append(feature_to_row(f, 0, 0, 0, [wcopy, int(fid)]))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return fn


def feature_frame(spark, params: np.ndarray, options, edge_points: int):
    """FEATURE_SCHEMA frame of the rectangles, converted in the Python
    workers and checkpointed (input generation, not the engine under test)."""
    import pandas as pd

    from geojson_vt_spark.model import FEATURE_SCHEMA

    pdf = pd.DataFrame(params, columns=["lon", "lat", "w", "h"])
    pdf.insert(0, "id", np.arange(len(params), dtype=np.int64))
    n = spark.sparkContext.defaultParallelism
    return (
        spark.createDataFrame(pdf)
        .repartition(n)
        .mapInPandas(_feature_rows_fn(options, edge_points), FEATURE_SCHEMA)
        .localCheckpoint(eager=True)
    )


# -- slippy-map helpers ------------------------------------------------------


def merc_x(lon):
    return np.asarray(lon, dtype=np.float64) / 360.0 + 0.5


def merc_y(lat):
    s = np.sin(np.radians(np.asarray(lat, dtype=np.float64)))
    y = 0.5 - 0.25 * np.log((1 + s) / (1 - s)) / math.pi
    return np.clip(y, 0.0, 1.0)


def tile_of(lon: float, lat: float, z: int) -> tuple:
    n = 1 << z
    x = min(n - 1, max(0, int(float(merc_x(lon)) * n)))
    y = min(n - 1, max(0, int(float(merc_y(lat)) * n)))
    return z, x, y


# -- tile-edit diffs -----------------------------------------------------------


def edit_diffs(seed: int, n_features: int, rounds: int) -> list:
    """One diff per round: two adds, one remove, one geometry update, all on
    distinct ids. Returns [(diff, probe_lonlat)], probe_lonlat being a point
    inside the first added rectangle (the tile the round drills into)."""
    g = rng(seed, 7)
    ids = g.permutation(n_features)
    out = []
    next_id = n_features
    for r in range(rounds):
        adds = rect_params(seed, 2, stream=100 + r)
        upd = rect_params(seed, 1, stream=200 + r)[0]
        diff = {
            "add": [rect_feature(next_id + i, p, 1) for i, p in enumerate(adds)],
            "remove": [int(ids[2 * r])],
            "update": [{
                "id": int(ids[2 * r + 1]),
                "newGeometry": rect_feature(0, upd, 1)["geometry"],
            }],
        }
        next_id += len(adds)
        lon, lat, w, h = adds[0]
        out.append((diff, (lon + w / 2.0, lat + h / 2.0)))
    return out


# -- geo-analytics tables ------------------------------------------------------


def write_geo_tables(seed: int, out_dir: str, sizes: dict) -> dict:
    """Parquet tables with the columns the analytics queries read (events,
    nation, documents) plus a projected point set for the grid clusterer.
    Returns the row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    g = rng(seed, 11)
    n_ev = sizes["events"]
    n_docs, n_pts = sizes["documents"], sizes["points"]

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "value": pa.array(np.round(g.gamma(1.2, 40.0, n_ev) + 0.01, 2)),
    })
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32))})

    # documents: Zipf-ish tokens over a 2k vocabulary, 10 sources; the last
    # quarter are near-duplicates of a seeded original of the same source.
    # Half of them replace 5-20% of the original's tokens; the other half
    # swap whole distinct tokens so their token-set Jaccard with the
    # original lands in [0.5, 0.6), just above the dedup threshold, where
    # the LSH banding decides which pairs become candidates
    vocab = np.array([f"w{i}" for i in range(2000)])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    n_orig = n_docs - n_docs // 4
    texts = [" ".join(g.choice(vocab, int(g.integers(20, 80)), p=weights)) for _ in range(n_orig)]
    sources = [f"src{int(s)}" for s in g.integers(0, 10, n_orig)]
    for i, src in enumerate(g.integers(0, n_orig, n_docs - n_orig)):
        toks = texts[src].split(" ")
        if i % 2 == 0:
            swap = g.random(len(toks)) < g.uniform(0.05, 0.2)
            repl = g.choice(vocab, len(toks), p=weights)
            texts.append(" ".join(r if s else t for t, r, s in zip(toks, repl, swap)))
        else:
            own = sorted(set(toks))
            j = g.uniform(0.5, 0.6)
            # drop d of the m distinct tokens and add d new ones: J = (m - d) / (m + d)
            d = int(len(own) * (1 - j) / (1 + j))
            keep = list(g.permutation(own)[d:])
            new = g.choice(np.setdiff1d(vocab, own), d, replace=False)
            texts.append(" ".join(g.permutation(keep + list(new))))
        sources.append(sources[src])
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "source": pa.array(sources),
    })

    # points: a dense-cluster mixture plus uniform background, in projected
    # [0, 1) coordinates (the grid clusterer's input frame)
    k = 40
    centers = g.random((k, 2))
    pick = g.integers(0, k, n_pts)
    clustered = centers[pick] + g.normal(0.0, 0.01, (n_pts, 2))
    uniform = g.random((n_pts, 2))
    pts = np.where(g.random((n_pts, 1)) < 0.7, clustered, uniform)
    pts = np.clip(pts, 0.0, 1.0 - 1e-9)
    put("points", {
        "idx": pa.array(np.arange(n_pts, dtype=np.int64)),
        "px": pa.array(pts[:, 0]),
        "py": pa.array(pts[:, 1]),
        "id": pa.array([None] * n_pts, pa.string()),
        "tags": pa.array([None] * n_pts, pa.string()),
    })
    return {"events": n_ev, "documents": n_docs, "points": n_pts}
