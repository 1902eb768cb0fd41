"""Hot-tile skew: a dense 'city' holds 80% of all features in ONE z14 tile.

The north rule requires skew handled explicitly, not by luck. The pyramid's
two-phase plan does it structurally: per-level kernels are row-wise
mapInArrow (one hot tile's rows spread over every task, so a skewed key
cannot overload a single worker), and a tile's whole subtree collapses into
one task only once its vertex count fits the _SUBTREE_MAX_POINTS cap.
These tests build the skewed corpus and assert (a) the distributed phase
carries the hot chain without losing or duplicating rows, and (b) the
single-task subtree path handles the same skew when the cap admits it."""

import time

import numpy as np
import pandas as pd

from geojson_vt_spark.config import Options
from geojson_vt_spark.model import FEATURE_SCHEMA
from geojson_vt_spark.plans import pyramid as pyr

N_DENSE = 24_000
N_SPARSE = 6_000
# the 'city': one mercator point, deep inside a single z14 tile
CITY_X, CITY_Y = 0.31234567, 0.47654321


def _skewed_features(spark):
    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i < N_DENSE:
                    px = CITY_X + (i % 97) * 1e-9  # sub-tile jitter
                    py = CITY_Y + (i % 89) * 1e-9
                else:
                    h1 = (i * 2654435761) % 4294967296 / 4294967296.0
                    h2 = (i * 2246822519 + 7) % 4294967296 / 4294967296.0
                    px, py = h1, h2
                rows.append({
                    "z": 0, "x": 0, "y": 0, "okey": [0, i],
                    "id": str(i), "ftype": 1, "tags": None,
                    "coords": np.array([px, py, 0.0]),
                    "rlens": np.array([1], dtype=np.int32),
                    "rpoly": np.array([0], dtype=np.int32),
                    "rsize": np.array([0.0]),
                    "rstart": np.array([0.0]),
                    "rend": np.array([0.0]),
                    "minx": px, "miny": py, "maxx": px, "maxy": py,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return spark.range(N_DENSE + N_SPARSE).repartition(8).mapInPandas(
        gen, FEATURE_SCHEMA
    )


def _assert_hot_chain(store):
    reg = store.registry_df().collect()
    by_key = {(r.z, r.x, r.y): r for r in reg}
    for z in range(0, 15):
        z2 = 1 << z
        r = by_key.get((z, int(CITY_X * z2), int(CITY_Y * z2)))
        assert r is not None, f"hot tile missing at z{z}"
        assert r.num_points >= N_DENSE, (
            f"z{z} hot tile lost dense points: {r.num_points}"
        )
    z2 = 1 << 14
    hot = by_key[(14, int(CITY_X * z2), int(CITY_Y * z2))]
    assert hot.num_features >= N_DENSE
    return reg


def test_dense_city_distributed_phase(spark, monkeypatch):
    """With subtree routing off (cap 0; the whole 30k corpus would route at
    z0 otherwise), all 14 levels run the distributed per-level phase — the
    skewed key rides row-wise kernels."""
    monkeypatch.setattr(pyr, "_SUBTREE_MAX_POINTS", 0)
    options = Options(max_zoom=14, index_max_zoom=14, index_max_points=100)
    t0 = time.time()
    store = pyr.build_pyramid(_skewed_features(spark), options)
    build_sec = time.time() - t0
    _assert_hot_chain(store)
    assert build_sec < 420, f"skewed build took {build_sec:.0f}s"


def test_dense_city_subtree_phase(spark):
    """The whole corpus (30k vertices, under the _SUBTREE_MAX_POINTS cap)
    routes at z0, so the hot chain collapses into one subtree task — the
    one-task path must produce the identical hot chain."""
    assert N_DENSE + N_SPARSE <= pyr._SUBTREE_MAX_POINTS
    options = Options(max_zoom=14, index_max_zoom=14, index_max_points=100)
    store = pyr.build_pyramid(_skewed_features(spark), options)
    assert store.one_shot
    _assert_hot_chain(store)
