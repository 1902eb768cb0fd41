"""Comparison helpers for golden-fixture parity, plus shared test-side
references and session helpers.

Geometry coords are exact integers; lineMetrics tags are float ratios compared
within tolerance (the fixtures quantize everything else — SURVEY.md §7)."""

import contextlib
import math


def deep_equal(a, b, tol=1e-9, path=""):
    if isinstance(a, bool) or isinstance(b, bool):
        return (a == b, path) if a == b else (False, path)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True, path
        ok = fa == fb or abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))
        return ok, path
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return False, f"{path}[len {len(a)}!={len(b)}]"
        for i, (x, y) in enumerate(zip(a, b)):
            ok, p = deep_equal(x, y, tol, f"{path}[{i}]")
            if not ok:
                return False, p
        return True, path
    if isinstance(a, dict) and isinstance(b, dict):
        if set(a) != set(b):
            return False, f"{path}{{keys {sorted(set(a) ^ set(b))}}}"
        for k in a:
            ok, p = deep_equal(a[k], b[k], tol, f"{path}.{k}")
            if not ok:
                return False, p
        return True, path
    return (a == b, path)


def assert_tiles_equal(got: dict, expected: dict, tol=1e-9):
    assert set(got) == set(expected), (
        f"tile keys differ: missing={sorted(set(expected) - set(got))[:8]} "
        f"extra={sorted(set(got) - set(expected))[:8]}"
    )
    for k in expected:
        ok, p = deep_equal(got[k], expected[k], tol, k)
        assert ok, f"tile {k} differs at {p}"


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def session_conf(spark, conf: dict):
    """Set SQL confs for the block, then restore (or unset) each one."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def sequence_pack_reference(docs, budget=256):
    """The one-window form of `hygiene.sequence_pack`: a running token sum
    per source in doc_id order, bin = floor((prefix - own tokens) / budget).
    One task per source, so it is the equality reference for the two-level
    packer, not a production plan."""
    from pyspark.sql import Window, functions as F

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    binned = docs.select("source", "doc_id", n_tok.alias("n_tokens")).withColumn(
        "bin", F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget)
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def minhash_signatures_reference(docs, n_hashes=64, hash_fn="xxhash64"):
    """The explode + group-min form of `training.minhash_signatures`: one
    row per token, the base hash and the affine family as Columns, then
    one hash aggregate per (doc_id, source). It exchanges every token, so
    it is the equality reference for the signature kernel, not a
    production plan."""
    from pyspark.sql import functions as F

    from geojson_vt_spark.training import _MH_P, _mh_base_col, _mh_coeffs

    tok = docs.select("doc_id", "source", F.explode("toks").alias("t"))
    x = _mh_base_col(F.col("t"), hash_fn)
    return tok.groupBy("doc_id", "source").agg(*[
        F.min(F.pmod(x * F.lit(a) + F.lit(b), F.lit(_MH_P))).alias(f"h{s}")
        for s, (a, b) in enumerate(_mh_coeffs(n_hashes))
    ])


def tile_slice_reference(rows, z, x, y, options):
    """The scalar form of `geojson_to_tile.tile_from_features_df` over
    FEATURE_SCHEMA row dicts: per row, the clip.py band clip on both axes
    and the tile.py assembly + transform. Returns TILE_FEATURE_SCHEMA row
    dicts: okey is the source okey plus the slice's ordinal within its
    source row, minx..maxy the source row's bbox."""
    import json

    from geojson_vt_spark.functions.clip import AXIS_X, AXIS_Y, clip_features
    from geojson_vt_spark.functions.tile import assemble_feature, transform_tile_feature
    from geojson_vt_spark.model import row_to_feature, tile_feature_to_json

    z2 = 1 << z
    buffer = options.buffer / options.extent
    out = []
    for row in rows:
        feat = row_to_feature(row)
        xs = clip_features([feat], z2, x - buffer, x + 1 + buffer, AXIS_X, options)
        ys = clip_features(xs, z2, y - buffer, y + 1 + buffer, AXIS_Y, options)
        for i, f in enumerate(ys):
            tf, npts, nsimp = assemble_feature(f, z, options)
            if tf is None:
                continue
            tft = transform_tile_feature(tf, z, x, y, options.extent)
            out.append({
                "z": z, "x": x, "y": y, "okey": list(row["okey"]) + [i],
                "tf_type": tft["type"], "tf_id": row["id"],
                "tf_tags": None if tft["tags"] is None else json.dumps(tft["tags"]),
                "tf_geom": tile_feature_to_json(tft),
                "npoints": npts, "nsimplified": nsimp,
                **{k: row[k] for k in ("minx", "miny", "maxx", "maxy")},
            })
    return out
