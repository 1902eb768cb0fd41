"""Batch (flat.py) vs scalar (clip.py) parity.

The batched clip must reproduce the scalar walker bit for bit: same output
features, same order, same float values (crossings share the exact
interpolation expression), same ring metadata and bboxes.  Exercised over
every golden fixture's converted features and randomized geometry, across
both axes, many bands, with and without lineMetrics."""

import json
import os

import numpy as np
import pytest

from geojson_vt_spark.config import Options
from geojson_vt_spark.functions.clip import AXIS_X, AXIS_Y, clip_one
from geojson_vt_spark.functions.convert import convert_geojson
from geojson_vt_spark.functions.feature import (
    LINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    make_feature,
    make_ring,
)
from geojson_vt_spark.functions.flat import (
    clip_flat,
    flat_from_features,
    flat_to_features,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _scalar_clip(features, start, end, axis, options):
    out = []
    src = []
    for i, f in enumerate(features):
        before = len(out)
        clip_one(f, start, end, axis, options, out)
        src.extend([i] * (len(out) - before))
    return out, src


def _assert_feature_equal(a, b, ctx):
    assert a["type"] == b["type"], ctx
    assert len(a["rings"]) == len(b["rings"]), ctx
    assert a["minx"] == b["minx"] and a["maxx"] == b["maxx"], ctx
    assert a["miny"] == b["miny"] and a["maxy"] == b["maxy"], ctx
    for ra, rb in zip(a["rings"], b["rings"]):
        assert np.array_equal(ra["pts"], rb["pts"]), ctx
        assert ra["poly"] == rb["poly"], ctx
        assert ra["size"] == rb["size"], ctx
        sa = 0.0 if ra["start"] is None else ra["start"]
        sb = 0.0 if rb["start"] is None else rb["start"]
        ea = 0.0 if ra["end"] is None else ra["end"]
        eb = 0.0 if rb["end"] is None else rb["end"]
        assert sa == sb and ea == eb, ctx


def _check_parity(features, options, bands=None):
    if not features:
        return
    fl = flat_from_features(features)
    nfe = len(features)
    if bands is None:
        bands = [(-0.1, 0.6), (0.2, 0.55), (0.25, 0.25004), (0.0, 1.0),
                 (0.4, 1.2), (-2.0, 3.0), (0.5, 0.5)]
    for axis in (AXIS_X, AXIS_Y):
        for start, end in bands:
            sc, sc_src = _scalar_clip(features, start, end, axis, options)
            out_fl, src, j = clip_flat(
                fl,
                np.full(nfe, start), np.full(nfe, end),
                axis, options.line_metrics,
            )
            got = flat_to_features(out_fl)
            ctx = f"axis={axis} band=({start},{end})"
            assert len(got) == len(sc), ctx
            assert list(src) == sc_src, ctx
            for k, (a, b) in enumerate(zip(sc, got)):
                _assert_feature_equal(a, b, f"{ctx} feat#{k}")


@pytest.mark.parametrize("name", ["us-states", "dateline", "collection",
                                  "feature", "single-geom", "places"])
def test_fixture_parity(name):
    data = json.load(open(os.path.join(FIX, f"{name}.json")))
    options = Options()
    feats = convert_geojson(data, options)
    _check_parity(feats, options)


def test_fixture_parity_line_metrics():
    data = json.load(open(os.path.join(FIX, "dateline.json")))
    options = Options(line_metrics=True)
    feats = convert_geojson(data, options)
    _check_parity(feats, options)


def _rand_features(rng, n=60):
    feats = []
    for i in range(n):
        kind = rng.randint(0, 5)
        if kind == 0:  # point
            pts = np.array([rng.rand(), rng.rand(), 0.0])
            feats.append(make_feature(i, POINT, [make_ring(pts)], {"k": i}))
        elif kind == 1:  # multipoint
            m = rng.randint(1, 6)
            pts = np.empty(3 * m)
            pts[0::3] = rng.rand(m)
            pts[1::3] = rng.rand(m)
            pts[2::3] = 0.0
            feats.append(make_feature(i, MULTIPOINT, [make_ring(pts)], None))
        elif kind == 2:  # linestring (sizes/starts mimic converted rows)
            m = rng.randint(2, 12)
            pts = np.empty(3 * m)
            pts[0::3] = rng.rand(m)
            pts[1::3] = rng.rand(m)
            pts[2::3] = rng.rand(m)
            feats.append(make_feature(
                i, LINESTRING,
                [make_ring(pts, 0, float(rng.rand() * 3), 0.0,
                           float(rng.rand() * 3))],
                {"t": "l"},
            ))
        elif kind == 3:  # polygon with hole
            rings = []
            for r in range(rng.randint(1, 3)):
                m = rng.randint(3, 9)
                pts = np.empty(3 * (m + 1))
                pts[0:3 * m:3] = rng.rand(m)
                pts[1:3 * m:3] = rng.rand(m)
                pts[2:3 * m:3] = rng.rand(m)
                pts[-3:] = pts[:3]  # closed
                rings.append(make_ring(pts, 0, float(rng.rand())))
            feats.append(make_feature(i, POLYGON, rings, None))
        else:  # multipolygon
            rings = []
            for p in range(rng.randint(1, 3)):
                for r in range(rng.randint(1, 2)):
                    m = rng.randint(3, 7)
                    pts = np.empty(3 * (m + 1))
                    pts[0:3 * m:3] = rng.rand(m)
                    pts[1:3 * m:3] = rng.rand(m)
                    pts[2:3 * m:3] = rng.rand(m)
                    pts[-3:] = pts[:3]
                    rings.append(make_ring(pts, p, float(rng.rand())))
            feats.append(make_feature(i, MULTIPOLYGON, rings, {"p": 1}))
    return feats


def test_random_parity():
    rng = np.random.RandomState(42)
    feats = _rand_features(rng)
    _check_parity(feats, Options())


def test_random_parity_line_metrics():
    rng = np.random.RandomState(7)
    feats = [f for f in _rand_features(rng, 80)]
    _check_parity(feats, Options(line_metrics=True))


def _check_assembly_parity(features, options, zooms):
    from geojson_vt_spark.functions.flat import assemble_flat, tile_geometry_json
    from geojson_vt_spark.functions.tile import (
        assemble_feature,
        transform_tile_feature,
    )
    from geojson_vt_spark.model import tile_feature_to_json

    fl = flat_from_features(features)
    nfe = len(features)
    for z in zooms:
        for tx, ty in ((0, 0), (1, 2)):
            npts, nsimp, emit = assemble_flat(
                fl, np.full(nfe, z, np.int64), options
            )
            geoms = {} if emit is None else tile_geometry_json(
                emit,
                np.full(nfe, z, np.int64),
                np.full(nfe, float(tx)), np.full(nfe, float(ty)),
                options.extent,
            )
            for i, f in enumerate(features):
                tf, np_, ns = assemble_feature(f, z, options)
                ctx = f"z={z} t=({tx},{ty}) feat#{i}"
                assert npts[i] == np_, ctx
                assert nsimp[i] == ns, ctx
                if tf is None:
                    assert i not in geoms, ctx
                    continue
                tft = transform_tile_feature(tf, z, tx, ty, options.extent)
                assert geoms.get(i) == tile_feature_to_json(tft), ctx
                assert emit["f_tile_type"][i] == tf["type"], ctx


@pytest.mark.parametrize("name", ["us-states", "dateline", "collection",
                                  "feature", "single-geom", "places"])
def test_fixture_assembly_parity(name):
    data = json.load(open(os.path.join(FIX, f"{name}.json")))
    options = Options()
    feats = convert_geojson(data, options)
    _check_assembly_parity(feats, options, zooms=(0, 3, 7, options.max_zoom))


def test_random_assembly_parity():
    rng = np.random.RandomState(11)
    feats = _rand_features(rng, 80)
    _check_assembly_parity(feats, Options(), zooms=(0, 2, 14))


def test_assembly_parity_after_clip():
    """Assembly parity on clipped output (the shapes the pyramid feeds it)."""
    data = json.load(open(os.path.join(FIX, "us-states.json")))
    options = Options()
    feats = convert_geojson(data, options)
    out = []
    for f in feats:
        clip_one(f, 0.2, 0.6, AXIS_X, options, out)
    _check_assembly_parity(out, options, zooms=(1, 5))


def test_per_feature_bands():
    """clip_flat takes per-feature bands (the split kernel's case: each
    feature clipped to its own tile's quadrant)."""
    rng = np.random.RandomState(3)
    feats = _rand_features(rng, 40)
    options = Options()
    fl = flat_from_features(feats)
    starts = rng.rand(len(feats)) * 0.5
    ends = starts + rng.rand(len(feats)) * 0.6
    out_fl, src, j = clip_flat(fl, starts, ends, AXIS_X, False)
    got = flat_to_features(out_fl)
    exp = []
    exp_src = []
    for i, f in enumerate(feats):
        before = len(exp)
        clip_one(f, float(starts[i]), float(ends[i]), AXIS_X, options, exp)
        exp_src.extend([i] * (len(exp) - before))
    assert len(got) == len(exp)
    assert list(src) == exp_src
    for k, (a, b) in enumerate(zip(exp, got)):
        _assert_feature_equal(a, b, f"feat#{k}")


def _assert_cells_equal(arrow_cells, plain_cells, n):
    """Arrow-backed list columns must carry exactly the values of the
    plain numpy-split twin, feature by feature."""
    for col in ("coords", "rlens", "rpoly", "rsize", "rstart", "rend"):
        a_list = [np.asarray(v, dtype=np.float64)
                  for v in arrow_cells[col].to_pylist()]
        p_list = [np.asarray(v, dtype=np.float64) for v in plain_cells[col]]
        assert len(a_list) == len(p_list) == n, col
        for i, (av, pv) in enumerate(zip(a_list, p_list)):
            assert np.array_equal(av, pv, equal_nan=True), f"{col} feat#{i}"
    for col in ("ftype", "minx", "miny", "maxx", "maxy"):
        assert np.array_equal(arrow_cells[col], plain_cells[col]), col


@pytest.mark.parametrize("name", ["us-states", "dateline", "places"])
def test_cells_arrow_twin_fixture(name):
    from geojson_vt_spark.functions.flat import flat_to_cells, flat_to_cells_arrow

    data = json.load(open(os.path.join(FIX, f"{name}.json")))
    features = convert_geojson(data, Options())
    fl = flat_from_features(features)
    _assert_cells_equal(flat_to_cells_arrow(fl), flat_to_cells(fl), fl.n_features)


def test_cells_arrow_twin_line_metrics_and_empty():
    from geojson_vt_spark.functions.flat import flat_to_cells, flat_to_cells_arrow

    data = json.load(open(os.path.join(FIX, "us-states.json")))
    features = convert_geojson(data, Options(line_metrics=True))
    fl = flat_from_features(features)
    _assert_cells_equal(flat_to_cells_arrow(fl), flat_to_cells(fl), fl.n_features)
    empty = flat_from_features([])
    ec = flat_to_cells_arrow(empty)
    assert len(ec["coords"]) == 0 and len(ec["ftype"]) == 0


def test_flat_from_arrow_reads_sliced_batch():
    """A sliced batch (list offsets not starting at 0) reads exactly its own
    rows: the Arrow reader rebases every list column's offsets."""
    import pyarrow as pa

    from geojson_vt_spark.functions.flat import (
        Flat,
        flat_from_arrow,
        flat_to_cells_arrow,
        take,
    )

    data = json.load(open(os.path.join(FIX, "us-states.json")))
    fl = flat_from_features(convert_geojson(data, Options()))
    batch = pa.RecordBatch.from_pydict(flat_to_cells_arrow(fl))
    got = flat_from_arrow(batch.slice(5, 10))
    want = take(fl, np.arange(5, 15))
    for name in Flat.__slots__:
        g, w = getattr(got, name), getattr(want, name)
        assert g.dtype == w.dtype, name
        assert np.array_equal(g, w, equal_nan=True), name
