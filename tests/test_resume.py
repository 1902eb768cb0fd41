"""Checkpointed lineage + resume (north rule: a killed pyramid job resumes
mid-pyramid without recomputing finished zoom levels)."""

import json
import os
import shutil

import geojson_vt_spark.plans.pyramid as pyr
from geojson_vt_spark.config import Options
from geojson_vt_spark.operators.engine import GeoJSONVTSpark

from .conftest import load_fixture
from .util import assert_tiles_equal


def _snapshot_mtimes(workdir):
    out = {}
    for root, _dirs, files in os.walk(workdir):
        for f in files:
            if f == "_SUCCESS" or f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


def test_pyramid_resume_skips_finished_levels(spark, tmp_path):
    options = Options(index_max_zoom=7, index_max_points=200)
    data = load_fixture("us-states.json")
    golden = load_fixture("us-states-tiles.json")
    workdir = str(tmp_path / "pyramid")

    eng1 = GeoJSONVTSpark(spark, data=data, options=options, workdir=workdir)
    assert_tiles_equal(eng1.all_tiles(), golden)
    before = _snapshot_mtimes(workdir)
    assert before, "workdir checkpoints were not written"

    # simulate the resumed job: fresh engine over the same workdir
    eng2 = GeoJSONVTSpark(
        spark, data=data, options=options, workdir=workdir, resume=True
    )
    assert_tiles_equal(eng2.all_tiles(), golden)
    after = _snapshot_mtimes(workdir)
    # every finished level's snapshot is reused, not rewritten
    assert set(before) == set(after)
    rewritten = [p for p in before if after[p] != before[p]]
    assert not rewritten, f"resume rewrote finished levels: {rewritten[:3]}"


def test_pyramid_resume_mid_build(spark, tmp_path, monkeypatch):
    """Kill-at-level-k simulation: delete the deepest finished levels'
    _SUCCESS markers; resume recomputes only those. Pins the per-level
    loop (routed builds have their own resume test in test_one_shot.py)."""
    monkeypatch.setattr(pyr, "_SUBTREE_MAX_POINTS", 0)
    options = Options(index_max_zoom=7, index_max_points=200)
    data = load_fixture("us-states.json")
    golden = load_fixture("us-states-tiles.json")
    workdir = str(tmp_path / "pyramid2")

    eng1 = GeoJSONVTSpark(spark, data=data, options=options, workdir=workdir)
    assert_tiles_equal(eng1.all_tiles(), golden)
    before = _snapshot_mtimes(workdir)

    # wipe the deepest fused level => that level must be recomputed
    victims = sorted(
        d for d in os.listdir(os.path.join(workdir, "unified"))
    )[-1:]
    for v in victims:
        shutil.rmtree(os.path.join(workdir, "unified", v))

    eng2 = GeoJSONVTSpark(
        spark, data=data, options=options, workdir=workdir, resume=True
    )
    assert_tiles_equal(eng2.all_tiles(), golden)
    after = _snapshot_mtimes(workdir)
    # earlier levels' files reused byte-identically (same mtime)
    survivors = [p for p in before if "unified" in p and victims[0] not in p]
    assert survivors, "no surviving unified levels to check"
    stale = [p for p in survivors if after.get(p) != before[p]]
    assert not stale, f"finished levels recomputed: {stale[:3]}"
