"""Streaming incremental maintenance (streaming/update_stream.py): a file
stream of diff documents drained through update_data must leave the engine in
exactly the state of batch-applying the same diffs in sequence — including
when the drain is forced through multiple micro-batches."""

import json
import os

import pytest

from geojson_vt_spark.config import Options
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


DIFFS = [
    {"add": [pt("f3", [40, 40], {"name": "three"})]},
    {"remove": ["f1"]},
    {
        "update": [
            {
                "id": "f2",
                "newGeometry": {"type": "Point", "coordinates": [-20, -20]},
                "addOrUpdateProperties": [{"key": "name", "value": "moved"}],
            }
        ]
    },
]


def _initial(spark):
    return GeoJSONVTSpark(
        spark,
        data=fc(
            pt("f1", [0, 0], {"name": "one"}), pt("f2", [10, 10], {"name": "two"})
        ),
        options=Options(updateable=True, index_max_zoom=0, index_max_points=10000),
    )


def _write_diffs(dirpath, diffs):
    dirpath.mkdir()
    base = None
    for i, d in enumerate(diffs):
        p = dirpath / f"{i:04d}.json"
        p.write_text(json.dumps({"seq": i, "diff": json.dumps(d)}) + "\n")
        # Spark's file source orders micro-batches by file modification
        # time; files written within one mtime tick tie and arrive in
        # arbitrary order. The ordered-ingest contract requires monotone
        # arrival, so stamp strictly increasing mtimes explicitly.
        if base is None:
            base = p.stat().st_mtime
        os.utime(p, (base + i, base + i))
    return str(dirpath)


def _state(eng):
    tile = sorted(
        (json.dumps(f, sort_keys=True) for f in eng.get_tile(0, 0, 0)),
    )
    return tile, eng.get_data()


@pytest.mark.parametrize("max_files", [None, 1])
def test_stream_equals_sequential_batch(spark, tmp_path, max_files):
    """max_files=None: one micro-batch applies all diffs in seq order.
    max_files=1: three micro-batches, one diff each — cross-batch ordering."""
    from geojson_vt_spark.streaming.update_stream import run_update_stream

    path = _write_diffs(tmp_path / "diffs", DIFFS)

    streamed = _initial(spark)
    run_update_stream(
        streamed,
        path,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=max_files,
    )

    batch = _initial(spark)
    for d in DIFFS:
        batch.update_data(d)

    s_tile, s_data = _state(streamed)
    b_tile, b_data = _state(batch)
    assert s_tile == b_tile
    assert s_data == b_data
    # the diffs actually did something: f1 gone, f3 present, f2 moved
    names = {f["tags"]["name"] for f in streamed.get_tile(0, 0, 0)}
    assert names == {"three", "moved"}


def test_empty_stream_is_noop(spark, tmp_path):
    from geojson_vt_spark.streaming.update_stream import run_update_stream

    d = tmp_path / "empty"
    d.mkdir()
    eng = _initial(spark)
    before = _state(eng)
    run_update_stream(eng, str(d))
    assert _state(eng) == before


def test_out_of_order_seq_warns_and_strict_raises(spark):
    """A producer that re-emits or reorders seqs must be detected at runtime:
    apply_diff_batch tracks the engine's applied-seq watermark and warns (or
    raises with strict=True) when an incoming seq is at or below it."""
    import warnings

    from geojson_vt_spark.streaming.update_stream import apply_diff_batch

    eng = _initial(spark)
    b1 = spark.createDataFrame(
        [(5, json.dumps(DIFFS[0]))], ["seq", "diff"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)  # no stale-seq warning on the first batch
        assert apply_diff_batch(eng, b1) == 1
    assert eng._diff_seq_watermark == 5

    stale = spark.createDataFrame([(3, json.dumps(DIFFS[1]))], ["seq", "diff"])
    before = _state(eng)
    with pytest.warns(UserWarning, match="NOT applied"):
        n = apply_diff_batch(eng, stale)
    # the stale diff (remove f1) must be SKIPPED, not re-applied: foreachBatch
    # is at-least-once and a redelivered batch re-applying non-idempotent
    # diffs would diverge stream state from sequential application
    assert n == 0
    assert _state(eng) == before
    assert eng._diff_seq_watermark == 5  # watermark unchanged by stale seqs

    eng2 = _initial(spark)
    apply_diff_batch(eng2, b1)
    before2 = _state(eng2)
    with pytest.raises(ValueError, match="watermark"):
        apply_diff_batch(eng2, stale, strict=True)
    assert _state(eng2) == before2  # strict raises BEFORE applying anything
