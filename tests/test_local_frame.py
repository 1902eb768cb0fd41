"""model.local_frame: driver-built frames are JVM-local relations.

`spark.createDataFrame` over a Python list yields a LogicalRDD on a
PythonRDD, so every scan of the frame starts Python workers. local_frame
builds one Arrow table instead; the optimized plan is a LocalRelation and
the frame's RDD lineage holds no PythonRDD."""

import numpy as np

from geojson_vt_spark.config import Options
from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame
from geojson_vt_spark.operators.engine import GeoJSONVTSpark

from .conftest import load_fixture


def _optimized_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _assert_same_frame(got, want):
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _optimized_root(got) == "LocalRelation"
    assert "PythonRDD" not in _rdd_lineage(got)


def test_tuple_rows_with_ddl(spark):
    rows = [(0, 0, 0), (1, 1, 0), (14, 4801, 6202)]
    ddl = "z long, x long, y long"
    _assert_same_frame(local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl))
    mixed = [(1, True, None), (2, None, 7)]
    ddl = "z int, do_split boolean, gid long"
    _assert_same_frame(
        local_frame(spark, mixed, ddl), spark.createDataFrame(mixed, ddl)
    )


def test_dict_feature_rows(spark):
    """Null id/tags, non-null nested arrays; numpy list values equal the
    plain lists createDataFrame needs."""
    base = {
        "z": 0, "x": 0, "y": 0, "okey": [3, 0], "ftype": 3,
        "coords": [0.1, 0.2, 1.0, 0.3, 0.2, 0.5, 0.1, 0.2, 1.0],
        "rlens": [3], "rpoly": [0], "rsize": [0.01], "rstart": [0.0],
        "rend": [0.0], "minx": 0.1, "miny": 0.2, "maxx": 0.3, "maxy": 0.2,
    }
    rows = [
        {**base, "id": None, "tags": None},
        {**base, "okey": [3, 1], "id": '"a"', "tags": '{"k": 1}'},
        {**base, "okey": [3, 2], "id": "7", "tags": "{}", "coords": [],
         "rlens": [], "rpoly": [], "rsize": [], "rstart": [], "rend": []},
    ]
    want = spark.createDataFrame(rows, FEATURE_SCHEMA)
    _assert_same_frame(local_frame(spark, rows, FEATURE_SCHEMA), want)
    as_numpy = [
        {k: np.asarray(v) if isinstance(v, list) else v for k, v in r.items()}
        for r in rows
    ]
    _assert_same_frame(local_frame(spark, as_numpy, FEATURE_SCHEMA), want)


def test_empty_rows(spark):
    _assert_same_frame(
        local_frame(spark, [], FEATURE_SCHEMA),
        spark.createDataFrame([], FEATURE_SCHEMA),
    )
    _assert_same_frame(
        local_frame(spark, [], "id_key string"),
        spark.createDataFrame([], "id_key string"),
    )


def test_engine_registry_scans_no_python_rdd(spark):
    """The registry after construction, an edit and a z14 drill-down joins
    the store with the pyramid's decision tables, the invalidation seed and
    the drill-down's key list: none of them may scan through Python."""
    eng = GeoJSONVTSpark(
        spark, data=load_fixture("us-states.json"),
        options=Options(updateable=True),
    )
    eng.update_data({"add": [{
        "type": "Feature", "id": "added", "properties": {},
        "geometry": {"type": "Point", "coordinates": [-74.5, 40.0]},
    }]})
    assert "PythonRDD" not in _rdd_lineage(eng.registry())
    tile = eng.get_tile(14, 4801, 6202)  # holds the added point
    assert "added" in [f.get("id") for f in tile]
    assert "PythonRDD" not in _rdd_lineage(eng.registry())
