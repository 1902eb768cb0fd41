"""Incremental update suite (reference: test/update.test.ts, 23 tests, and
src/difference.test.ts) ported to the Spark engine: diff apply (O22), tile
invalidation + lazy regeneration (O23), predicate filter (O24), getData
export (O25), cluster rebuild / option toggling (O26)."""

import pytest

from geojson_vt_spark.config import ClusterOptions, Options
from geojson_vt_spark.operators.engine import GeoJSONVTSpark


def fc(*features):
    return {"type": "FeatureCollection", "features": list(features)}


def pt(fid, coords, props=None):
    f = {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": coords},
        "properties": props,
    }
    if fid is not None:
        f["id"] = fid
    return f


def test_requires_updateable(spark):
    eng = GeoJSONVTSpark(spark, data=fc())
    with pytest.raises(ValueError):
        eng.update_data({"add": [], "remove": []})


def test_add_with_promote_ids_to_empty_index(spark):
    eng = GeoJSONVTSpark(
        spark, data=fc(), options=Options(updateable=True, promote_id="myId")
    )
    eng.update_data(
        {"add": [pt(None, [0, 0], {"myId": 1}), pt(None, [1, 1], {"myId": 2})]}
    )
    assert len(eng.get_tile(0, 0, 0)) == 2


def test_add_new_features(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("feature1", [0, 0], {"name": "Feature 1"})),
        options=Options(updateable=True),
    )
    eng.update_data({"add": [pt("feature2", [10, 10], {"name": "Feature 2"})]})
    assert len(eng.get_tile(0, 0, 0)) == 2


def test_remove_by_id(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(
            pt("feature1", [0, 0], {"name": "Feature 1"}),
            pt("feature2", [10, 10], {"name": "Feature 2"}),
        ),
        options=Options(updateable=True),
    )
    eng.update_data({"remove": ["feature1"]})
    assert len(eng.get_tile(0, 0, 0)) == 1


def test_replace_duplicate_id(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("feature1", [0, 0], {"name": "Original"})),
        options=Options(updateable=True),
    )
    eng.update_data({"add": [pt("feature1", [5, 5], {"name": "Updated"})]})
    tile = eng.get_tile(0, 0, 0)
    assert len(tile) == 1
    assert tile[0]["id"] == "feature1"
    assert tile[0]["tags"]["name"] == "Updated"


@pytest.mark.parametrize("start,new", [([0, 0], [181, 0]), ([181, 0], [0, 0])])
def test_update_crossing_antimeridian(spark, start, new):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt(0, start, {"name": "Original"})),
        options=Options(updateable=True, buffer=2048, extent=8192),
    )
    eng.update_data(
        {
            "update": [
                {"id": 0, "newGeometry": {"type": "Point", "coordinates": new}}
            ]
        }
    )
    assert len(eng.get_tile(1, 0, 1)) == 1


def test_multiple_updates_no_duplication(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt(0, [0, 0], {"name": "Original"})),
        options=Options(updateable=True, buffer=2048, extent=8192),
    )
    for lng in (181, 182):
        eng.update_data(
            {
                "update": [
                    {"id": 0, "newGeometry": {"type": "Point", "coordinates": [lng, 0]}}
                ]
            }
        )
    assert len(eng.get_tile(1, 0, 1)) == 1


def test_wrong_id_noop(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt(0, [0, 0], {"name": "Original"})),
        options=Options(updateable=True, buffer=2048, extent=8192),
    )
    eng.update_data(
        {"update": [{"id": 1, "newGeometry": {"type": "Point", "coordinates": [181, 0]}}]}
    )
    tile = eng.get_tile(1, 0, 1)
    assert len(tile) == 1
    assert tile[0]["tags"]["name"] == "Original"


def test_add_and_remove_same_call(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(
            pt("feature1", [0, 0], {"name": "Feature 1"}),
            pt("feature2", [10, 10], {"name": "Feature 2"}),
        ),
        options=Options(updateable=True),
    )
    eng.update_data(
        {"remove": ["feature1"], "add": [pt("feature3", [20, 20], {"name": "Feature 3"})]}
    )
    tile = eng.get_tile(0, 0, 0)
    assert sorted(f["id"] for f in tile) == ["feature2", "feature3"]


def test_empty_diff(spark):
    eng = GeoJSONVTSpark(spark, data=fc(), options=Options(updateable=True))
    eng.update_data({})
    eng.update_data({"add": [], "remove": []})
    eng.update_data(None)


def test_invalidate_partial_intersection(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("far-east", [179.99, 0], {})),
        options=Options(updateable=True, index_max_zoom=2, index_max_points=0),
    )
    eng.update_data(
        {
            "add": [
                {
                    "type": "Feature",
                    "id": "edge-line",
                    "geometry": {
                        "type": "LineString",
                        "coordinates": [[0, -1], [180, 1]],
                    },
                    "properties": {},
                }
            ]
        }
    )
    tile = eng.get_tile(2, 3, 2)
    assert tile is not None
    assert len(tile) == 2


def test_invalidate_multiple_zoom_levels(spark):
    poly = lambda size: {  # noqa: E731
        "type": "Feature",
        "id": "feature1",
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [size, 0], [size, size], [0, size], [0, 0]]],
        },
        "properties": {"name": "Original" if size == 5 else "Updated"},
    }
    eng = GeoJSONVTSpark(
        spark,
        data=fc(poly(5)),
        options=Options(updateable=True, index_max_zoom=7, index_max_points=0),
    )
    eng.update_data({"add": [poly(10)]})
    for z, x, y in ((3, 4, 4), (5, 16, 16), (7, 64, 64)):
        tile = eng.get_tile(z, x, y)
        assert tile is not None
        assert tile[0]["id"] == "feature1"
        assert tile[0]["tags"]["name"] == "Updated"


def test_drilldown_after_update(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(
            {
                "type": "Feature",
                "id": "line1",
                "geometry": {"type": "LineString", "coordinates": [[0, 0], [5, 5]]},
                "properties": {},
            }
        ),
        options=Options(updateable=True, index_max_zoom=5),
    )
    eng.update_data(
        {
            "add": [
                {
                    "type": "Feature",
                    "id": "line2",
                    "geometry": {"type": "LineString", "coordinates": [[0, 0], [6, 6]]},
                    "properties": {},
                }
            ]
        }
    )
    tile = eng.get_tile(8, 128, 128)
    assert tile is not None
    assert sorted(f["id"] for f in tile) == ["line1", "line2"]


@pytest.fixture()
def population_engine(spark):
    return GeoJSONVTSpark(
        spark,
        data=fc(
            pt("small", [0, 0], {"population": 100}),
            pt("large", [10, 10], {"population": 2000}),
            pt("medium", [20, 20], {"population": 500}),
        ),
        options=Options(updateable=True),
    )


def test_filter_keeps_all(population_engine):
    eng = population_engine
    assert len(eng.get_tile(0, 0, 0)) == 3
    eng.update_data({}, filter=lambda f: f["geometry"]["type"] == "Point")
    assert len(eng.get_tile(0, 0, 0)) == 3
    eng.update_data({}, filter=lambda f: f["properties"]["population"] > 1)
    assert len(eng.get_tile(0, 0, 0)) == 3


def test_filter_removes_non_matching(population_engine):
    eng = population_engine
    eng.update_data({}, filter=lambda f: f["properties"]["population"] > 500)
    tile = eng.get_tile(0, 0, 0)
    assert len(tile) == 1
    assert tile[0]["id"] == "large"


def test_filter_removes_all(population_engine):
    eng = population_engine
    eng.update_data({}, filter=lambda f: f["properties"]["population"] < 100)
    assert eng.get_tile(0, 0, 0) == []


def test_filter_update_rows_over_batches(spark):
    """filter_update over several Arrow batches: the removed rows are the
    id-bearing rows failing the predicate, every copy of a failing id
    leaves the source, and null-id rows always stay."""
    from geojson_vt_spark.functions.deconvert import feature_to_geojson
    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame, row_to_feature
    from geojson_vt_spark.operators.engine import geojson_to_feature_rows
    from geojson_vt_spark.operators.updates import filter_update

    from .conftest import load_fixture
    from .util import session_conf

    data = load_fixture("us-states.json")
    data["features"] += load_fixture("dateline.json")["features"]
    data["features"].append(pt(None, [5, 5], {"density": 0}))
    rows = geojson_to_feature_rows(data, Options(updateable=True))
    source = local_frame(spark, rows, FEATURE_SCHEMA)
    empty = local_frame(spark, [], FEATURE_SCHEMA)

    def pred(f):
        return (f["properties"] or {}).get("density", 0) > 100

    src = [r.asDict() for r in source.collect()]
    failing = [
        r for r in src
        if r["id"] is not None
        and not pred(feature_to_geojson(row_to_feature(dict(r))))
    ]
    bad_ids = {r["id"] for r in failing}
    with session_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        affected, kept = filter_update(source, empty, pred)
        got_removed = [r.asDict() for r in affected.collect()]
        got_kept = [r.asDict() for r in kept.collect()]

    def key(r):
        return r["okey"]

    assert len(src) > 3 * 7 and failing and len(failing) < len(src)
    assert any(r["id"] is None for r in src)
    assert sorted(got_removed, key=key) == sorted(failing, key=key)
    assert sorted(got_kept, key=key) == sorted(
        (r for r in src if r["id"] not in bad_ids), key=key
    )


def test_get_data(spark):
    data = fc(pt("point1", [0, 0], {"name": "Test"}))
    eng = GeoJSONVTSpark(spark, data=data, options=Options(updateable=True))
    out = eng.get_data()
    assert out["type"] == "FeatureCollection"
    assert len(out["features"]) == 1
    assert out["features"][0]["id"] == "point1"

    not_updateable = GeoJSONVTSpark(spark, data=data)
    with pytest.raises(ValueError):
        not_updateable.get_data()


def test_cluster_mode_initializes(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(
            pt("point1", [0, 0], {"name": "Point 1"}),
            pt("point2", [0.001, 0.001], {"name": "Point 2"}),
            pt("point3", [100, 50], {"name": "Point 3"}),
        ),
        options=Options(cluster=True),
    )
    tile = eng.get_tile(0, 0, 0)
    assert tile is not None
    assert len(tile) > 0


def test_cluster_update_rebuilds(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("point1", [0, 0], {"name": "Point 1"})),
        options=Options(cluster=True, updateable=True),
    )
    assert len(eng.get_tile(0, 0, 0)) == 1
    eng.update_data({"add": [pt("point2", [100, 50], {"name": "Point 2"})]})
    assert len(eng.get_tile(0, 0, 0)) == 2
    eng.update_data({"remove": ["point1"]})
    assert len(eng.get_tile(0, 0, 0)) == 1


def test_update_cluster_options_radius(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("point1", [0, 0], {}), pt("point2", [0.5, 0.5], {}), pt("point3", [1, 1], {})),
        options=Options(
            updateable=True, cluster=True, cluster_options=ClusterOptions(radius=200)
        ),
    )
    close_count = len(eng.get_tile(0, 0, 0))
    eng.update_cluster_options(True, ClusterOptions(radius=1))
    assert len(eng.get_tile(0, 0, 0)) > close_count


def _twenty_points():
    return fc(*[pt(None, [i * 0.0001, i * 0.0001], {}) for i in range(20)])


def test_toggle_cluster_off(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=_twenty_points(),
        options=Options(
            updateable=True, cluster=True, cluster_options=ClusterOptions(radius=100)
        ),
    )
    tile = eng.get_tile(0, 0, 0)
    cid = next(f["tags"]["cluster_id"] for f in tile if (f["tags"] or {}).get("cluster"))
    eng.update_cluster_options(False, ClusterOptions(radius=100))
    assert eng.get_cluster_expansion_zoom(cid) is None
    assert not any((f["tags"] or {}).get("cluster") for f in eng.get_tile(0, 0, 0))


def test_toggle_cluster_off_and_back_on(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=_twenty_points(),
        options=Options(
            updateable=True, cluster=True, cluster_options=ClusterOptions(radius=100)
        ),
    )
    eng.update_cluster_options(False, ClusterOptions(radius=100))
    eng.update_cluster_options(True, ClusterOptions(radius=100))
    tile = eng.get_tile(0, 0, 0)
    cid = next(f["tags"]["cluster_id"] for f in tile if (f["tags"] or {}).get("cluster"))
    assert eng.get_cluster_expansion_zoom(cid) > 0
    assert any((f["tags"] or {}).get("cluster") for f in eng.get_tile(0, 0, 0))


def test_property_only_update(spark):
    # difference.ts:166-176 — property updates apply to all copies, feature
    # moves to the end of the source order
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("a", [0, 0], {"keep": 1, "drop": 2}), pt("b", [10, 10], {})),
        options=Options(updateable=True),
    )
    eng.update_data(
        {
            "update": [
                {
                    "id": "a",
                    "removeProperties": ["drop"],
                    "addOrUpdateProperties": [{"key": "added", "value": "yes"}],
                }
            ]
        }
    )
    tile = eng.get_tile(0, 0, 0)
    tags = {f["id"]: f["tags"] for f in tile}
    assert tags["a"] == {"keep": 1, "added": "yes"}
    # order: untouched feature first, updated appended last
    assert [f["id"] for f in tile] == ["b", "a"]


def test_remove_all(spark):
    eng = GeoJSONVTSpark(
        spark,
        data=fc(pt("a", [0, 0], {}), pt("b", [10, 10], {})),
        options=Options(updateable=True),
    )
    eng.update_data({"removeAll": True})
    assert eng.get_tile(0, 0, 0) == []
    eng.update_data({"add": [pt("c", [1, 1], {})]})
    assert len(eng.get_tile(0, 0, 0)) == 1
