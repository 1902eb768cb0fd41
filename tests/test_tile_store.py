"""On-disk tile store (sources/tile_store.py): the written layout must serve
get_tile byte-identically to the live engine for every materialized tile,
the point lookup must be pruned — z at the partition level, x/y pushed
into the scan — visible in the plan, not assumed, and every read is one
Spark job."""

import pytest

from geojson_vt_spark.config import Options
from geojson_vt_spark.operators.engine import GeoJSONVTSpark
from geojson_vt_spark.sources.tile_store import lookup_frame

from .conftest import load_fixture
from .util import count_jobs


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from geojson_vt_spark.sources.tile_store import (
        DiskTileServer,
        write_tile_store,
    )

    eng = GeoJSONVTSpark(
        spark,
        data=load_fixture("us-states.json"),
        options=Options(index_max_zoom=7, index_max_points=200),
    )
    path = str(tmp_path_factory.mktemp("tilestore") / "store")
    write_tile_store(eng.tiles(), eng.registry(), path)
    return eng, DiskTileServer(spark, path)


def test_disk_server_parity_with_engine(built):
    """Every tile the build materialized (105 in the us-states pyramid)
    serves identically from disk."""
    eng, srv = built
    expected = eng.all_tiles()
    keys = srv.all_tile_keys()
    assert len(keys) == len(expected) and len(keys) > 100
    for z, x, y in keys:
        assert srv.get_tile(z, x, y) == expected[f"z{z}-{x}-{y}"], (z, x, y)


def test_disk_server_unknown_and_wrapped_keys(built):
    eng, srv = built
    assert srv.get_tile(25, 0, 0) is None  # z guard
    assert srv.get_tile(-1, 0, 0) is None
    assert srv.get_tile(14, 0, 0) is None  # never built
    # negative x wraps mod 2^z (reference geojsonvt.ts:94)
    some_z, some_x, some_y = srv.all_tile_keys()[0]
    wrapped = srv.get_tile(some_z, some_x - (1 << some_z), some_y)
    assert wrapped == srv.get_tile(some_z, some_x, some_y)


def test_point_lookup_is_pruned(built):
    """z must be a PartitionFilter (file-listing pruning), x/y must reach
    the scan as PushedFilters (row-group stats pruning over the sorted
    layout)."""
    _eng, srv = built
    df = lookup_frame(srv.store, [(7, 37, 48)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines, plan
    line = scan_lines[0]
    part = line.split("PartitionFilters:", 1)[1].split("PushedFilters:")[0]
    pushed = line.split("PushedFilters:", 1)[1]
    assert "z" in part, line
    assert "EqualTo(x,37)" in pushed and "EqualTo(y,48)" in pushed, line

    # functional proof: the scan reads exactly one zoom directory
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.length())
        if "parquet" in leaves.apply(i).nodeName().lower()
    ]
    assert scans
    assert int(scans[0].metrics().apply("numPartitions").value()) == 1


def test_store_roundtrip_counts(built):
    eng, srv = built
    assert srv.tiles.count() == eng.tiles().count()
    assert srv.registry.count() == eng.registry().count()


def test_batch_get_tiles_matches_point_lookups(built):
    eng, srv = built
    keys = srv.all_tile_keys()
    sample = keys[:20] + keys[-20:]
    some_z, some_x, some_y = sample[0]
    batch = srv.get_tiles(
        sample
        + [(30, 0, 0), (5, 0, 0)]  # z guard + never-built: omitted
        + [(some_z, some_x - (1 << some_z), some_y)]  # x-wrap collapses
        # out-of-range y must NOT pack-collide into a phantom neighbor:
        # (z, x, y + 2^25) packs identically to (z, x+1, y) under |
        + [(some_z, some_x, some_y + (1 << 25))]
    )
    assert set(batch) == {f"z{z}-{x}-{y}" for z, x, y in set(sample)}
    for z, x, y in sample:
        assert batch[f"z{z}-{x}-{y}"] == srv.get_tile(z, x, y), (z, x, y)
    assert srv.get_tiles([]) == {}


def test_batch_get_tiles_scan_is_pruned(spark, built):
    """Same invariant as the point lookup: pruning must be visible, not
    assumed — the batch tile scan's post-execution metric must read exactly
    the requested zoom directories, and x/y must reach PushedFilters."""
    _eng, srv = built
    keys = srv.all_tile_keys()
    zs = sorted({z for z, _x, _y in keys})
    pick = [next(k for k in keys if k[0] == z) for z in zs[:2]]
    # the frame get_tiles collects: gate its plan + metrics
    sub_zs = sorted({z for z, _x, _y in pick})
    df = lookup_frame(srv.store, pick)
    plan = df._jdf.queryExecution().executedPlan().toString()
    line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    part = line.split("PartitionFilters:", 1)[1].split("PushedFilters:")[0]
    pushed = line.split("PushedFilters:", 1)[1]
    assert "z" in part, line
    # single-valued isin folds to EqualTo — either form proves pushdown
    assert ("In(x" in pushed or "EqualTo(x" in pushed), line
    assert ("In(y" in pushed or "EqualTo(y" in pushed), line
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.length())
        if "parquet" in leaves.apply(i).nodeName().lower()
    ]
    read_parts = int(scans[0].metrics().apply("numPartitions").value())
    assert read_parts == len(sub_zs), (read_parts, sub_zs)
    # and the filter semantics stay exact
    got = {(r.z, r.x, r.y) for r in df.select("z", "x", "y").collect()}
    assert got <= set(pick)


def test_disk_reads_are_one_job_each(spark, built):
    """One pruned scan per read: a stored tile, a registered-but-empty tile
    and a never-built key each cost one Spark job, and so does a batch."""
    eng, srv = built
    tiles = eng.all_tiles()
    stored = next(k for k, v in tiles.items() if v)
    empty = next(k for k, v in tiles.items() if not v)
    for key, want in ((stored, tiles[stored]), (empty, [])):
        z, x, y = (int(v) for v in key[1:].split("-"))
        got, jobs = count_jobs(spark, lambda: srv.get_tile(z, x, y))
        assert got == want and jobs == 1, (key, jobs)
    got, jobs = count_jobs(spark, lambda: srv.get_tile(14, 0, 0))
    assert got is None and jobs == 1
    keys = srv.all_tile_keys()[:25]
    got, jobs = count_jobs(spark, lambda: srv.get_tiles(keys))
    assert len(got) == len(keys) and jobs == 1
