"""Head fusion (plans/pyramid.py:_head_fuse_depth + fused _level_fn): when
the JVM lower-bound proof allows force-splitting the next levels in one
Arrow crossing, the output must be IDENTICAL to the per-level path — same
registry rows, same tile rows — and the fusion must actually engage (a
vacuous test would pass with the proof never firing)."""

import pytest

import bench
import geojson_vt_spark.plans.pyramid as pyr
from geojson_vt_spark.config import Options
from geojson_vt_spark.plans.pyramid import build_pyramid


@pytest.fixture(scope="module")
def rects(spark):
    options = Options(max_zoom=8, index_max_zoom=8, index_max_points=64)
    feats = bench.synth_rect_features(spark, 8000, options).localCheckpoint(
        eager=True
    )
    return feats, options


def _run(monkeypatch, feats, options, fuse):
    # head fusion is the machinery under test: force the per-level loop
    # (one-shot mode would otherwise swallow these small corpora whole)
    monkeypatch.setattr(pyr, "_ONE_SHOT_MAX_POINTS", 0)
    monkeypatch.setattr(pyr, "_HEAD_FUSE_MAX", fuse)
    store = build_pyramid(feats, options)
    reg = sorted(tuple(r) for r in store.registry_df().collect())
    tiles = sorted(
        (
            r.z, r.x, r.y, tuple(r.okey), r.tf_type, r.tf_id,
            r.tf_tags, r.tf_geom, r.npoints, r.nsimplified,
        )
        for r in store.tiles_df().collect()
    )
    return reg, tiles, store.head_fused


def test_fused_equals_unfused_and_engages(rects, monkeypatch):
    feats, options = rects
    reg0, tiles0, hf0 = _run(monkeypatch, feats, options, 0)
    reg3, tiles3, hf3 = _run(monkeypatch, feats, options, 3)
    assert hf0 == []  # _HEAD_FUSE_MAX = 0 really disables
    assert hf3 and hf3[0][1] >= 1, hf3  # proof fired on this corpus
    assert reg0 == reg3
    assert tiles0 == tiles3
    assert len(tiles0) > 1000  # non-vacuous corpus


def test_sparse_corpus_never_fuses(spark):
    """The proof must refuse on sparse data: us-states has ocean tiles with
    bbox overlap but sub-threshold vertex mass at every head level, so no
    level may be force-split (wrong engagement here would corrupt the
    golden pyramids — this pins the conservative side explicitly)."""
    from geojson_vt_spark.operators.engine import GeoJSONVTSpark

    from .conftest import load_fixture

    eng = GeoJSONVTSpark(
        spark,
        data=load_fixture("us-states.json"),
        options=Options(index_max_zoom=7, index_max_points=200),
    )
    assert eng.store.head_fused == []


def test_fusion_respects_index_max_zoom(rects, monkeypatch):
    feats, _ = rects
    # zcap=2: levels 1.. are within one of the stop zoom — fusion must not
    # force-split a level where the zoom stop rule could fire
    options = Options(max_zoom=8, index_max_zoom=2, index_max_points=64)
    reg0, tiles0, _hf0 = _run(monkeypatch, feats, options, 0)
    reg3, tiles3, hf3 = _run(monkeypatch, feats, options, 3)
    for z, extra in hf3:
        assert z + extra < 2, hf3
    assert reg0 == reg3 and tiles0 == tiles3


def test_fusion_resume_is_deterministic(rects, tmp_path, monkeypatch):
    """A killed-and-resubmitted fused build must take the same fusion
    decisions and reuse the per-pass snapshots (names include only the
    pass's start level, so determinism of the proof is what keeps resume
    aligned)."""
    monkeypatch.setattr(pyr, "_ONE_SHOT_MAX_POINTS", 0)
    feats, options = rects
    wd = str(tmp_path / "wd")
    s1 = build_pyramid(feats, options, workdir=wd, resume=True)
    reg1 = sorted(tuple(r) for r in s1.registry_df().collect())
    s2 = build_pyramid(feats, options, workdir=wd, resume=True)
    reg2 = sorted(tuple(r) for r in s2.registry_df().collect())
    assert s1.head_fused == s2.head_fused
    assert reg1 == reg2
