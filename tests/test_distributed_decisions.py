"""Distributed decision path of the pyramid level loop (plans/pyramid.py):
once a level's expected child-key list outgrows _BROADCAST_TILE_LIMIT, the
split/stop decision moves from the driver into a JVM decision table joined
back onto the frontier. Output rows must not depend on where the decision
ran — whether the build is distributed from z0 or switches mid-build."""

import pytest

import bench
import geojson_vt_spark.plans.pyramid as pyr
from geojson_vt_spark.config import Options
from geojson_vt_spark.plans.pyramid import build_pyramid


@pytest.fixture(scope="module")
def rects(spark):
    options = Options(max_zoom=8, index_max_zoom=8, index_max_points=64)
    feats = bench.synth_rect_features(spark, 3000, options).localCheckpoint(
        eager=True
    )
    return feats, options


def _build(monkeypatch, feats, options, limit=None):
    """Pure level-loop build (subtree routing off); returns (registry,
    tiles, sources) rows and the snapshot names the build checkpointed."""
    monkeypatch.setattr(pyr, "_SUBTREE_MAX_POINTS", 0)
    if limit is not None:
        monkeypatch.setattr(pyr, "_BROADCAST_TILE_LIMIT", limit)
    names = []
    real = pyr.snapshot

    def recording(df, workdir, name, resume):
        names.append(name)
        return real(df, workdir, name, resume)

    monkeypatch.setattr(pyr, "snapshot", recording)
    store = build_pyramid(feats, options)
    reg = sorted(tuple(r) for r in store.registry_df().collect())
    tiles = sorted(
        (
            r.z, r.x, r.y, tuple(r.okey), r.tf_type, r.tf_id,
            r.tf_tags, r.tf_geom, r.npoints, r.nsimplified,
        )
        for r in store.tiles_df().collect()
    )
    src = sorted(
        (r.z, r.x, r.y, tuple(r.okey), r.id, r.ftype, tuple(r.coords))
        for r in store.sources_df().collect()
    )
    return (reg, tiles, src), names


def test_distributed_decisions_equal_driver_decisions(rects, monkeypatch):
    feats, options = rects
    base, base_names = _build(monkeypatch, feats, options)
    # the default build never leaves driver mode on this corpus
    assert not any(n.startswith("sources/") for n in base_names), base_names
    assert len(base[0]) > 500 and len(base[1]) > 10_000 and base[2]

    # limit 0: distributed decisions from the root level on
    dist, names = _build(monkeypatch, feats, options, limit=0)
    assert "sources/z=00" in names, names
    assert dist == base

    # limit 20: driver decisions at the head, distributed once the
    # expected child-key list passes 20 tiles
    mid, names = _build(monkeypatch, feats, options, limit=20)
    dist_levels = [n for n in names if n.startswith("sources/")]
    assert dist_levels and "sources/z=00" not in dist_levels, names
    assert mid == base


def test_distributed_stop_rule_boundary(rects, monkeypatch):
    """index_max_points equal to the num_points of a tile whose ancestors
    all hold more: the stop rule's `<=` retains exactly that tile, and the
    distributed decision path must agree with the driver path there."""
    feats, _ = rects
    probe = Options(max_zoom=8, index_max_zoom=1, index_max_points=64)
    (reg, _tiles, _src), _names = _build(monkeypatch, feats, probe)
    root = next(r[4] for r in reg if r[:3] == (0, 0, 0))
    cap = min(r[4] for r in reg if r[0] == 1 and r[4] > 0)
    assert 0 < cap < root, (cap, root)

    options = Options(max_zoom=8, index_max_zoom=8, index_max_points=cap)
    base, _names = _build(monkeypatch, feats, options)
    # the boundary tile is a retained leaf (has_source), not a split
    assert any(r[0] == 1 and r[4] == cap and r[6] for r in base[0]), base[0]

    dist, names = _build(monkeypatch, feats, options, limit=0)
    assert "sources/z=00" in names, names
    assert dist == base
