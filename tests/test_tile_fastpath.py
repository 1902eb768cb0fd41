"""O16 single-tile fast path (reference: test/geojson-to-tile.test.ts) and
O25 convert->deconvert round trips (reference: test/round-trip.test.ts).

The driver-side parity matrix runs kernel-only (no Spark); the distributed
variant is exercised against the same goldens through its mapInArrow kernel
with the Catalyst bbox prune, and row for row against the scalar walkers
(`tests/util.py:tile_slice_reference`)."""

import pytest

from geojson_vt_spark.config import Options
from geojson_vt_spark.functions.convert import convert_geojson
from geojson_vt_spark.functions.deconvert import features_to_geojson
from geojson_vt_spark.model import TILE_FEATURE_SCHEMA
from geojson_vt_spark.operators.engine import geojson_to_feature_rows
from geojson_vt_spark.operators.geojson_to_tile import (
    geojson_to_tile,
    tile_from_features_df,
)

from .conftest import load_fixture

SQUARE = [
    {
        "geometry": [[[4160, -64], [4160, 4160], [-64, 4160], [-64, -64], [4160, -64]]],
        "type": 3,
        "tags": {"name": "Pennsylvania", "density": 284.3},
        "id": "42",
    }
]


def test_single_tile_no_clip():
    tile = geojson_to_tile(load_fixture("single-tile.json"), 12, 1171, 1566)
    assert len(tile["features"]) == 1
    assert (
        tile["features"][0]["tags"]["name"]
        == "P Street Northwest - Massachusetts Avenue Northwest"
    )


def test_wrap_across_antimeridian():
    geojson = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "test"},
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[-200, 0], [200, 0]],
                },
            }
        ],
    }
    no_wrap = geojson_to_tile(geojson, 0, 0, 0, wrap=False, clip=True)
    assert no_wrap["features"] == [
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[-64, 2048], [4160, 2048]]]}
    ]
    with_wrap = geojson_to_tile(geojson, 0, 0, 0, wrap=True, clip=True)
    assert with_wrap["features"] == [
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[3868, 2048], [4160, 2048]]]},
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[-64, 2048], [4160, 2048]]]},
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[-64, 2048], [228, 2048]]]},
    ]


def test_wrap_duplicates_beyond_world_bounds():
    geojson = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "test"},
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[-200, 0], [-170, 0]],
                },
            }
        ],
    }
    no_wrap = geojson_to_tile(geojson, 0, 0, 0, wrap=False, clip=False)
    assert no_wrap["features"] == [
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[-228, 2048], [114, 2048]]]}
    ]
    with_wrap = geojson_to_tile(geojson, 0, 0, 0, wrap=True, clip=False)
    assert with_wrap["features"] == [
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[3868, 2048], [4160, 2048]]]},
        {"type": 2, "tags": {"name": "test"}, "geometry": [[[-64, 2048], [114, 2048]]]},
    ]


def test_clip_outside_tile():
    geojson = load_fixture("us-states.json")
    t1 = geojson_to_tile(geojson, 7, 37, 48, clip=True)
    golden = load_fixture("us-states-z7-37-48.json")
    assert t1["features"] == golden
    t2 = geojson_to_tile(geojson, 9, 148, 192, clip=True)
    assert t2["features"] == SQUARE
    assert geojson_to_tile(geojson, 11, 800, 400, clip=True)["features"] == []
    assert geojson_to_tile(geojson, -5, 123.25, 400.25, clip=True)["features"] == []
    assert geojson_to_tile(geojson, 25, 200, 200, clip=True)["features"] == []


def test_distributed_single_tile_matches_driver(spark):
    """The Spark shape (Catalyst bbox prune + Arrow kernel) produces the same
    tile as the reference-parity driver path."""
    import json

    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame, tile_feature_from_row

    geojson = load_fixture("us-states.json")
    rows = geojson_to_feature_rows(geojson, Options())
    df = local_frame(spark, rows, FEATURE_SCHEMA)
    out = tile_from_features_df(df, 7, 37, 48).collect()
    out.sort(key=lambda r: tuple(r.okey))
    got = [tile_feature_from_row(r.asDict()) for r in out]
    golden = load_fixture("us-states-z7-37-48.json")
    assert json.dumps(got, sort_keys=True) == json.dumps(golden, sort_keys=True)


# us-states (polygons) + dateline (points, lines, a multiline, a polygon) +
# a line that leaves and re-enters tile 2/1/1 five times, so lineMetrics
# splits it into several slices of one source row
ZIGZAG = {
    "type": "Feature",
    "id": "zigzag",
    "properties": {"kind": "zigzag"},
    "geometry": {
        "type": "LineString",
        "coordinates": [[-100 + 20 * (k % 2), 5 + 3 * k] for k in range(12)],
    },
}
SLICE_TILES = [(0, 0, 0), (1, 0, 0), (2, 1, 1), (3, 1, 3), (5, 0, 12),
               (7, 37, 48), (9, 148, 192), (11, 800, 400)]


@pytest.mark.parametrize(
    "options",
    [Options(), Options(line_metrics=True), Options(tolerance=0)],
    ids=["default", "line_metrics", "tolerance0"],
)
def test_distributed_single_tile_matches_scalar_rows(spark, options):
    """Every output column of the flat kernel equals the scalar walkers',
    over several Arrow batches per task, LineStrings included."""
    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame

    from .util import session_conf, tile_slice_reference

    data = {
        "type": "FeatureCollection",
        "features": load_fixture("us-states.json")["features"]
        + load_fixture("dateline.json")["features"] + [ZIGZAG],
    }
    rows = geojson_to_feature_rows(data, options)
    df = local_frame(spark, rows, FEATURE_SCHEMA)
    src = [r.asDict() for r in df.collect()]
    names = [f.name for f in TILE_FEATURE_SCHEMA.fields]
    sliced = 0
    with session_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        for z, x, y in SLICE_TILES:
            got = sorted(
                (r.asDict() for r in tile_from_features_df(df, z, x, y, options).collect()),
                key=lambda r: r["okey"],
            )
            want = tile_slice_reference(src, z, x, y, options)
            want.sort(key=lambda r: r["okey"])
            assert [[r[c] for c in names] for r in got] == [
                [r[c] for c in names] for r in want
            ], (z, x, y)
            sliced += sum(r["okey"][-1] > 0 for r in want)
    # the empty tile stays empty; lineMetrics really splits the zigzag
    assert not tile_slice_reference(src, 11, 800, 400, options)
    assert (sliced > 0) == options.line_metrics


# ---- round trips (reference: test/round-trip.test.ts) ----------------------

ROUND_TRIP_CASES = [
    ("Point", [10, 20]),
    ("MultiPoint", [[0, 0], [5, 5], [-10, 45]]),
    ("LineString", [[0, 0], [10, 10], [20, -5]]),
    ("MultiLineString", [[[0, 0], [1, 1]], [[2, 2], [3, 3], [4, 4]]]),
    ("Polygon", [[[0, 0], [5, 0], [5, 5], [0, 5], [0, 0]]]),
    (
        "MultiPolygon",
        [
            [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
            [[[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]]],
        ],
    ),
]


def _flatten(coords):
    if isinstance(coords[0], (int, float)):
        return [coords]
    out = []
    for c in coords:
        out.extend(_flatten(c))
    return out


@pytest.mark.parametrize("gtype,coords", ROUND_TRIP_CASES, ids=[c[0] for c in ROUND_TRIP_CASES])
def test_round_trip(gtype, coords):
    feats = convert_geojson(
        {
            "type": "Feature",
            "geometry": {"type": gtype, "coordinates": coords},
            "properties": {},
        },
        Options(updateable=True),
    )
    out = features_to_geojson(feats)
    got = out["features"][0]["geometry"]
    assert got["type"] == gtype
    for a, b in zip(_flatten(got["coordinates"]), _flatten(coords)):
        assert a[0] == pytest.approx(b[0], abs=1e-10)
        assert a[1] == pytest.approx(b[1], abs=1e-10)


def test_round_trip_preserves_id_and_props():
    feats = convert_geojson(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "id": "test-id",
                    "geometry": {"type": "Point", "coordinates": [0, 0]},
                    "properties": {"a": 1, "b": "two", "c": None},
                }
            ],
        },
        Options(updateable=True),
    )
    out = features_to_geojson(feats)
    assert out["features"][0]["id"] == "test-id"
    assert out["features"][0]["properties"] == {"a": 1, "b": "two", "c": None}
