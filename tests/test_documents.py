"""Interleaved-documents ingest (input_hint shape): geojson spans -> feature
rows -> pyramid, with golden parity and the span-sequence invariant."""

import json

import pytest

from geojson_vt_spark.config import Options
from geojson_vt_spark.operators.engine import GeoJSONVTSpark
from geojson_vt_spark.sources.documents import (
    features_from_documents,
    span_sequence_violations,
    synthesize_documents,
)

from .conftest import load_fixture
from .util import assert_tiles_equal


def test_documents_pipeline_parity(spark):
    payload = json.dumps(load_fixture("us-states.json"))
    docs = synthesize_documents(spark, [payload], n_docs=8)
    opts = Options(index_max_zoom=7, index_max_points=200)

    feats = features_from_documents(docs, opts)
    eng = GeoJSONVTSpark(spark, features_df=feats, options=opts)
    assert_tiles_equal(eng.all_tiles(), load_fixture("us-states-tiles.json"))

    # engine never rewrites the corpus: invariant vs itself and vs a re-read
    assert span_sequence_violations(docs, docs).count() == 0


def test_span_sequence_violation_detected(spark):
    payload = json.dumps(load_fixture("feature.json"))
    docs = synthesize_documents(spark, [payload], n_docs=4)
    from pyspark.sql import functions as F

    # corrupt one doc: drop its first span
    corrupted = docs.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == "doc-000000002", F.slice("spans", 2, 10)
        ).otherwise(F.col("spans")),
    )
    bad = span_sequence_violations(docs, corrupted).collect()
    assert [r.doc_id for r in bad] == ["doc-000000002"]


def test_multi_doc_feature_order(spark):
    # features spread across documents keep global (doc, offset) order
    states = load_fixture("us-states.json")["features"]
    payloads = [
        json.dumps({"type": "FeatureCollection", "features": states[i : i + 13]})
        for i in range(0, 52, 13)
    ]
    docs = synthesize_documents(spark, payloads, n_docs=4)
    opts = Options(index_max_zoom=7, index_max_points=200)
    feats = features_from_documents(docs, opts)
    eng = GeoJSONVTSpark(spark, features_df=feats, options=opts)
    got = eng.all_tiles()
    exp = load_fixture("us-states-tiles.json")
    # wrap runs per-payload here (vs globally in the reference), so only the
    # z0 root ordering is compared; us-states has no antimeridian features so
    # feature sets are identical
    assert [f["id"] for f in got["z0-0-0"]] == [f["id"] for f in exp["z0-0-0"]]


def test_parse_kernel_rows_over_batches(spark):
    """The parse kernel over several Arrow batches emits exactly the rows of
    a driver-side convert + wrap + feature_to_row per payload, okey
    [wcopy, doc_seq, offset, i] included (dateline has wrap copies)."""
    from geojson_vt_spark.functions.convert import convert_geojson
    from geojson_vt_spark.functions.wrap import wrap_features
    from geojson_vt_spark.model import feature_to_row

    from .util import session_conf

    feats = (
        load_fixture("us-states.json")["features"]
        + load_fixture("dateline.json")["features"]
    )
    payloads = [
        {"type": "FeatureCollection", "features": feats[i : i + 5]}
        for i in range(0, len(feats), 5)
    ]
    docs = synthesize_documents(spark, [json.dumps(p) for p in payloads], n_docs=16)
    opts = Options()
    with session_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "2"}):
        got = [r.asDict() for r in features_from_documents(docs, opts).collect()]
    want = []
    for doc_seq, data in enumerate(payloads):
        wrapped = wrap_features(convert_geojson(data, opts), opts)
        for i, (wcopy, f) in enumerate(wrapped):
            row = feature_to_row(f, 0, 0, 0, [wcopy, doc_seq, 1, i])
            want.append({k: v.tolist() if hasattr(v, "tolist") else v for k, v in row.items()})
    got.sort(key=lambda r: r["okey"])
    want.sort(key=lambda r: r["okey"])
    assert len(payloads) > 2 and any(r["okey"][0] for r in want)
    assert got == want


def test_span_roundtrip_oracle_parity(spark):
    """The input_hint invariant as a driver-checked oracle row: Column-built
    interleaved spans survive explode -> shuffle -> per-doc reassembly with
    (kind, text, media_ref, order) intact, matching the DuckDB-constructed
    ground truth value-for-value (oracle_harness = the driver's compare)."""
    from .oracle_harness import run_all

    res = run_all(spark, "/root/testdata/sf0.001", names={"span_roundtrip"})
    assert res["span_roundtrip"].get("hash_match"), res["span_roundtrip"]


@pytest.mark.parametrize(
    "opts",
    [Options(), Options(updateable=True), Options(cluster=True)],
    ids=["pyramid", "updateable", "cluster"],
)
def test_constructor_parses_documents_once(spark, opts):
    """The constructor runs the caller's plan once: no emptiness probe
    parses a first partition before the build parses everything. An
    accumulator counts the documents that enter the parse."""
    payload = json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {}, "geometry": {
            "type": "Point", "coordinates": [10.0, 20.0]}},
        load_fixture("feature.json"),
    ]})
    docs = synthesize_documents(spark, [payload, payload], n_docs=8)
    parsed = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            parsed.add(b.num_rows)
            yield b

    counted = docs.mapInArrow(count, docs.schema)
    eng = GeoJSONVTSpark(
        spark, features_df=features_from_documents(counted, opts), options=opts
    )
    assert parsed.value == 8
    assert eng.get_tile(0, 0, 0)


def test_empty_features_df_is_an_empty_index(spark):
    """A features_df with no rows gives the same engine as `data=` with no
    features: empty registry and no root tile, in pyramid, updateable and
    cluster mode."""
    docs = synthesize_documents(spark, [], n_docs=4)  # no geojson spans
    empty = {"type": "FeatureCollection", "features": []}
    for opts in (Options(), Options(updateable=True)):
        feats = features_from_documents(docs, opts)
        for eng in (
            GeoJSONVTSpark(spark, features_df=feats, options=opts),
            GeoJSONVTSpark(spark, data=empty, options=opts),
        ):
            assert eng.total == 0
            assert eng.get_tile(0, 0, 0) is None
    opts = Options(cluster=True)
    eng = GeoJSONVTSpark(
        spark, features_df=features_from_documents(docs, opts), options=opts
    )
    assert eng.get_tile(0, 0, 0) is None
