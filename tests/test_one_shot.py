"""Subtree routing in the pyramid (plans/pyramid.py): every tile with rows
whose vertex count fits _SUBTREE_MAX_POINTS goes to the subtree kernel
(_subtree_fn), which finishes its whole sub-pyramid, root included. The
one-shot small-corpus mode is that rule applied to a splitting z0 root:
the whole pyramid runs as ONE kernel call, zero per-level crossings.
Routed builds must be row-identical to the pure level loop (cap 0) across
all three outputs (registry, tiles, sources), engage/stand down exactly on
the cap, and resume from their snapshots."""

import os

import pytest

import bench
import geojson_vt_spark.plans.pyramid as pyr
from geojson_vt_spark.config import Options
from geojson_vt_spark.plans.pyramid import build_pyramid


@pytest.fixture(scope="module")
def rects(spark):
    options = Options(max_zoom=14, index_max_zoom=14, index_max_points=128)
    feats = bench.synth_rect_features(spark, 3000, options).localCheckpoint(
        eager=True
    )
    return feats, options


def _collect(store):
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
    return reg, tiles, src


def _run(monkeypatch, feats, options, cap, **kw):
    monkeypatch.setattr(pyr, "_SUBTREE_MAX_POINTS", cap)
    return build_pyramid(feats, options, **kw)


@pytest.fixture(scope="module")
def loop(rects):
    """The pure per-level loop (cap 0, nothing routed) over `rects`: the
    reference build, shared by the equality tests."""
    feats, options = rects
    with pytest.MonkeyPatch.context() as mp:
        store = _run(mp, feats, options, 0)
    return store, _collect(store)


def test_one_shot_equals_loop_full_rows(rects, loop, monkeypatch):
    """Registry, tile, and retained-source row sets are IDENTICAL between
    the one-shot kernel and the pure per-level loop (cap 0, nothing routed)
    — the strongest engine check after golden parity."""
    feats, options = rects
    s_loop, loop_out = loop
    s_os = _run(monkeypatch, feats, options, 200_000)
    assert not s_loop.one_shot
    assert s_os.one_shot
    os_out = _collect(s_os)
    assert loop_out[0] == os_out[0]  # registry
    assert loop_out[1] == os_out[1]  # tiles
    assert loop_out[2] == os_out[2]  # sources
    assert len(loop_out[1]) > 1000  # non-vacuous corpus


def test_one_shot_stands_down_above_cap(rects, monkeypatch):
    """A corpus whose root exceeds the cap must take the distributed loop —
    the one task's work is bounded by construction."""
    feats, options = rects
    s = _run(monkeypatch, feats, options, 10)
    assert not s.one_shot


def test_one_shot_stands_down_when_root_stops(spark, monkeypatch):
    """A root the stop rule retains is not one-shot: one_shot means a
    first-pass root was routed AND split. (The kernel still runs the
    stopped root, as a one-level sub-pyramid.)"""
    options = Options(max_zoom=14, index_max_zoom=5, index_max_points=100_000)
    feats = bench.synth_rect_features(spark, 50, options).localCheckpoint(
        eager=True
    )
    s = _run(monkeypatch, feats, options, 200_000)
    assert not s.one_shot
    assert s.registry_df().count() == 1  # just the stopped root


def test_build_decisions_record_routing(rects, loop, spark, monkeypatch):
    """PyramidStore.decisions records each level's routing as data: the
    pure loop routes nothing and runs a level pass per zoom; the one-shot
    build routes the z0 root and has nothing left for a level pass; a root
    the stop rule retains is routed too (it runs as a one-level sub-pyramid)
    but is not one-shot."""
    feats, options = rects
    s_loop, _ = loop
    levels = s_loop.decisions["levels"]
    assert not s_loop.decisions["one_shot"]
    assert [lv["z"] for lv in levels] == list(range(len(levels)))
    assert len(levels) > 5
    assert all(lv["routed"] == 0 and lv["level_pass"] > 0 for lv in levels)
    assert levels[0] == {"z": 0, "routed": 0, "level_pass": 1, "split": 1}

    s_os = _run(monkeypatch, feats, options, 200_000)
    assert s_os.decisions == {
        "start": (0, 0, 0), "target": None, "one_shot": True,
        "levels": [{"z": 0, "routed": 1, "level_pass": 0, "split": 0}],
    }

    stop_opts = Options(max_zoom=14, index_max_zoom=5, index_max_points=100_000)
    few = bench.synth_rect_features(spark, 50, stop_opts).localCheckpoint(eager=True)
    s_stop = _run(monkeypatch, few, stop_opts, 200_000)
    assert not s_stop.one_shot and not s_stop.decisions["one_shot"]
    assert s_stop.decisions["levels"] == [
        {"z": 0, "routed": 1, "level_pass": 0, "split": 0}
    ]


def test_one_shot_resume_reuses_snapshot(rects, tmp_path, monkeypatch):
    """Killed-and-resubmitted one-shot build reuses the unified/z=00
    snapshot and returns identical rows."""
    feats, options = rects
    wd = str(tmp_path / "wd")
    s1 = _run(monkeypatch, feats, options, 200_000, workdir=wd, resume=True)
    assert s1.one_shot
    reg1 = sorted(tuple(r) for r in s1.registry_df().collect())
    assert os.path.isdir(os.path.join(wd, "unified"))
    s2 = _run(monkeypatch, feats, options, 200_000, workdir=wd, resume=True)
    assert s2.one_shot
    reg2 = sorted(tuple(r) for r in s2.registry_df().collect())
    assert reg1 == reg2


def test_one_shot_drill_down_serves_from_retained_sources(spark, monkeypatch):
    """getTile below the indexed zoom must drill down correctly from a
    one-shot first pass (sources retained by the kernel's stop rule)."""
    from geojson_vt_spark.operators.engine import GeoJSONVTSpark

    from .conftest import load_fixture

    monkeypatch.setattr(pyr, "_SUBTREE_MAX_POINTS", 200_000)
    eng = GeoJSONVTSpark(
        spark,
        data=load_fixture("us-states.json"),
        options=Options(index_max_zoom=4, index_max_points=64),
    )
    t = eng.get_tile(9, 148, 192)  # below indexed depth: drill-down path
    assert t is not None and len(t) > 0


def test_tile_counters_oracle_matches_duckdb(spark):
    """r4 verdict item 8: O13's registry counters get a driver-visible
    oracle row — the REAL pyramid (convert -> wrap -> split -> assembly)
    over deterministic event points vs a DuckDB recursive-CTE replay of
    buffered membership, wrap copies, and the stop rule."""
    from .oracle_harness import run_all

    res = run_all(spark, "/root/testdata/sf0.001", names={"tile_counters"})
    r = res["tile_counters"]
    assert r.get("hash_match"), r


def test_one_shot_plan_no_shuffle(rects, monkeypatch):
    """The one-shot pass build_pyramid runs must reach the kernel through a
    NARROW coalesce — no shuffle Exchange anywhere between the materialized
    frontier and the single applyInArrow task."""
    feats, options = rects
    handed = {}
    real = pyr.snapshot

    def recording(df, workdir, name, resume):
        handed[name] = df
        return real(df, workdir, name, resume)

    monkeypatch.setattr(pyr, "snapshot", recording)
    s = _run(monkeypatch, feats, options, 200_000)
    assert s.one_shot
    plan = handed["unified/z=00"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Coalesce" in plan, plan


def test_routing_below_root_equals_loop(rects, loop, monkeypatch):
    """The benchmark build's shape: the root is over the cap, so it takes
    the level pass, and every z1 tile fits, so all four route to the
    subtree kernel at z1. Rows must equal the pure level loop."""
    feats, options = rects
    loop_out = loop[1]
    reg = {r[:3]: r[4] for r in loop_out[0]}  # (z, x, y) -> num_points
    z1_max = max(n for (z, _x, _y), n in reg.items() if z == 1)
    cap = reg[(0, 0, 0)] - 1
    assert z1_max <= cap, (z1_max, cap)
    handed = {}
    real = pyr.snapshot

    def recording(df, workdir, name, resume):
        handed[name] = df
        return real(df, workdir, name, resume)

    monkeypatch.setattr(pyr, "snapshot", recording)
    s_sub = _run(monkeypatch, feats, options, cap)
    assert "unified/z=01" in handed, sorted(handed)
    assert not s_sub.one_shot
    assert _collect(s_sub) == loop_out


def test_mixed_level_is_one_snapshot_job(rects, loop, spark, monkeypatch):
    """A level that both routes tiles and runs a level pass writes ONE
    snapshot in one job: the level pass and the subtree kernel are two
    branches of one union. With the cap at the second-largest z1 tile, z1
    routes three tiles and passes the largest on; rows equal the pure level
    loop, and the build's job count is pinned (one fewer than when each
    kernel wrote its own snapshot)."""
    from .util import count_jobs

    feats, options = rects
    loop_out = loop[1]
    z1 = sorted(r[4] for r in loop_out[0] if r[0] == 1)  # num_points
    assert len(z1) == 4 and z1[2] < z1[3], z1
    names = []
    real = pyr.snapshot

    def recording(df, workdir, name, resume):
        names.append(name)
        return real(df, workdir, name, resume)

    monkeypatch.setattr(pyr, "snapshot", recording)
    monkeypatch.setattr(pyr, "_SUBTREE_MAX_POINTS", z1[2])
    store, jobs = count_jobs(spark, lambda: build_pyramid(feats, options))
    assert store.decisions["levels"][:2] == [
        {"z": 0, "routed": 0, "level_pass": 1, "split": 1},
        {"z": 1, "routed": 3, "level_pass": 1, "split": 1},
    ]
    assert names.count("unified/z=01") == 1, names
    assert all(n.startswith("unified/") for n in names), names
    assert jobs == 15, jobs
    assert _collect(store) == loop_out


def test_tile_counters_replay_parameter_sweep(spark):
    """Harden the recursive-CTE replay beyond the driver instance: depth
    and stop-cap sweeps must stay hash-equal (exercises deeper recursion,
    near-universal splitting at tiny caps, and early stops at big ones)."""
    import duckdb

    from geojson_vt_spark.analytics import sql_tile_counters, tile_counters

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    from .oracle_harness import compare

    for zmax, cap in [(2, 10), (4, 500), (1, 1)]:
        res = compare(
            tile_counters(spark, sf, zmax=zmax, cap=cap),
            con.sql(sql_tile_counters(zmax, cap)),
        )
        assert res["hash_match"], (zmax, cap, res)


def _random_geojson_corpus(seed, n):
    """Seeded mixed-geometry FeatureCollection: points, linestrings, and
    polygons with random sizes/positions, including dateline-adjacent
    longitudes to exercise the wrap copies."""
    import numpy as np

    rng = np.random.RandomState(seed)
    feats = []
    for i in range(n):
        kind = rng.randint(3)
        lon = float(rng.uniform(-179.9, 179.9))
        lat = float(rng.uniform(-79, 79))
        if rng.rand() < 0.1:  # park some near the antimeridian
            lon = float(rng.choice([-1, 1]) * rng.uniform(175, 179.9))
        if kind == 0:
            geom = {"type": "Point", "coordinates": [lon, lat]}
        elif kind == 1:
            k = int(rng.randint(2, 8))
            pts = [
                [lon + float(rng.uniform(-2, 2)), lat + float(rng.uniform(-2, 2))]
                for _ in range(k)
            ]
            geom = {"type": "LineString", "coordinates": pts}
        else:
            w = float(rng.uniform(0.05, 3.0))
            h = float(rng.uniform(0.05, 3.0))
            geom = {
                "type": "Polygon",
                "coordinates": [[
                    [lon, lat], [lon + w, lat], [lon + w, lat + h],
                    [lon, lat + h], [lon, lat],
                ]],
            }
        feats.append(
            {"type": "Feature", "id": i, "properties": {"i": i},
             "geometry": geom}
        )
    return {"type": "FeatureCollection", "features": feats}


def test_one_shot_equals_loop_random_mixed_geometry(spark, monkeypatch):
    """Randomized corpora of mixed points/lines/polygons (dateline
    included): the one-shot kernel and the per-level loop must stay
    row-identical across registry, tiles, and sources — the rect-corpus
    equality test generalized to every geometry family the engine
    ingests."""
    from geojson_vt_spark.model import FEATURE_SCHEMA, feature_to_row
    from geojson_vt_spark.functions.convert import convert_geojson
    from geojson_vt_spark.functions.wrap import wrap_features

    for seed in (7, 21):
        options = Options(max_zoom=9, index_max_zoom=9, index_max_points=64)
        data = _random_geojson_corpus(seed, 400)
        rows = []
        for f in data["features"]:
            feats = convert_geojson(f, options)
            for fidx, (wcopy, conv) in enumerate(
                wrap_features(feats, options)
            ):
                rows.append(
                    feature_to_row(conv, 0, 0, 0, [wcopy, f["id"], fidx])
                )
        import pandas as pd

        pdf = pd.DataFrame(
            rows, columns=[f.name for f in FEATURE_SCHEMA.fields]
        )
        feats_df = spark.createDataFrame(pdf, schema=FEATURE_SCHEMA).localCheckpoint(
            eager=True
        )
        s_loop = _run(monkeypatch, feats_df, options, 0)
        s_os = _run(monkeypatch, feats_df, options, 200_000)
        assert not s_loop.one_shot and s_os.one_shot, seed
        assert _collect(s_loop) == _collect(s_os), seed
