"""Supercluster parity suite (reference: src/cluster-tile-index.test.ts).

Exact mode is byte-compared against the committed fixtures and the
reference's hard-coded expectations (children counts, leaf pagination,
generateId ids, expansion zooms, reduce folds, bbox counts). Grid mode
(the distributed scale path) is validated by invariants.
"""

import json

import pytest

from geojson_vt_spark.cluster.index import ClusterTileIndexSpark
from geojson_vt_spark.config import ClusterOptions

from .conftest import load_fixture


@pytest.fixture(scope="module")
def places():
    return load_fixture("places.json")["features"]


@pytest.fixture(scope="module")
def default_index(spark, places):
    return ClusterTileIndexSpark(spark, ClusterOptions()).load(places)


def test_generates_clusters(default_index):
    tile = default_index.get_tile(0, 0, 0)
    golden = load_fixture("places-z0-0-0.json")["features"]
    assert json.dumps(tile, sort_keys=True) == json.dumps(golden, sort_keys=True)


def test_min_points_option(spark, places):
    idx = ClusterTileIndexSpark(spark, ClusterOptions(min_points=5)).load(places)
    tile = idx.get_tile(0, 0, 0)
    golden = load_fixture("places-z0-0-0-min5.json")["features"]
    assert json.dumps(tile, sort_keys=True) == json.dumps(golden, sort_keys=True)


def test_cluster_children(default_index):
    counts = [
        (c["properties"] or {}).get("point_count", 1)
        for c in default_index.get_children(163)
    ]
    assert counts == [6, 7, 2, 1]


def test_cluster_leaves_pagination(default_index):
    names = [
        (p["properties"] or {}).get("name")
        for p in default_index.get_leaves(163, 10, 5)
    ]
    assert names == [
        "Niagara Falls",
        "Cape San Blas",
        "Cape Sable",
        "Cape Canaveral",
        "San  Salvador",
        "Cabo Gracias a Dios",
        "I. de Cozumel",
        "Grand Cayman",
        "Miquelon",
        "Cape Bauld",
    ]


def test_generate_id(spark, places):
    idx = ClusterTileIndexSpark(spark, ClusterOptions(generate_id=True)).load(places)
    tile = idx.get_tile(0, 0, 0)
    ids = [f["id"] for f in tile if not (f["tags"] or {}).get("cluster")]
    assert ids == [12, 20, 21, 22, 24, 28, 30, 62, 81, 118, 119, 125, 81, 118]


def test_leaves_null_properties(spark, places):
    pts = places + [
        {
            "type": "Feature",
            "properties": None,
            "geometry": {
                "type": "Point",
                "coordinates": [-79.04411780507252, 43.08771393436908],
            },
        }
    ]
    idx = ClusterTileIndexSpark(spark, ClusterOptions()).load(pts)
    leaves = idx.get_leaves(164, 1, 6)
    assert leaves[0]["properties"] is None


def test_cluster_expansion_zoom(default_index):
    assert default_index.get_cluster_expansion_zoom(163) == 1
    assert default_index.get_cluster_expansion_zoom(195) == 1
    assert default_index.get_cluster_expansion_zoom(580) == 2
    assert default_index.get_cluster_expansion_zoom(1156) == 2
    assert default_index.get_cluster_expansion_zoom(4133) == 3


def test_cluster_expansion_zoom_max_zoom(spark, places):
    idx = ClusterTileIndexSpark(
        spark, ClusterOptions(radius=60, extent=256, max_zoom=4)
    ).load(places)
    assert idx.get_cluster_expansion_zoom(2503) == 5


def test_reduce_aggregation(spark, places):
    def map_fn(props):
        return {"sum": (props or {}).get("scalerank")}

    def reduce_fn(a, b):
        a["sum"] += b["sum"]

    idx = ClusterTileIndexSpark(
        spark, ClusterOptions(radius=100, map_fn=map_fn, reduce_fn=reduce_fn)
    ).load(places)
    sums1 = [f["tags"].get("sum") for f in idx.get_tile(1, 0, 0)]
    assert [s for s in sums1 if s] == [146, 84, 63, 23, 34, 12, 19, 29, 8, 8, 80, 35]
    sums0 = [f["tags"].get("sum") for f in idx.get_tile(0, 0, 0)]
    assert [s for s in sums0 if s] == [298, 122, 12, 36, 98, 7, 24, 8, 125, 98, 125, 12, 36, 8]


def test_default_map_with_reduce(spark, places):
    idx = ClusterTileIndexSpark(
        spark, ClusterOptions(radius=100, reduce_fn=lambda a, b: None)
    ).load(places)
    assert idx.get_tile(0, 0, 0) is not None


def test_dateline_crossing_query(spark):
    pts = [
        {
            "type": "Feature",
            "properties": None,
            "geometry": {"type": "Point", "coordinates": [lng, 0]},
        }
        for lng in (-178.989, -178.990, -178.991, -178.992)
    ]
    idx = ClusterTileIndexSpark(spark, ClusterOptions()).load(pts)
    non_crossing = idx.get_clusters([-179, -10, -177, 10], 1)
    crossing = idx.get_clusters([179, -10, -177, 10], 1)
    assert len(non_crossing) > 0
    assert len(crossing) > 0
    assert len(non_crossing) == len(crossing)


def test_weird_bbox_values(default_index):
    idx = default_index
    assert len(idx.get_clusters([129.426390, -103.720017, -445.930843, 114.518236], 1)) == 26
    assert len(idx.get_clusters([112.207836, -84.578666, -463.149397, 120.169159], 1)) == 27
    assert len(idx.get_clusters([129.886277, -82.332680, -445.470956, 120.390930], 1)) == 26
    assert len(idx.get_clusters([458.220043, -84.239039, -117.137190, 120.206585], 1)) == 25
    assert len(idx.get_clusters([456.713058, -80.354196, -118.644175, 120.539148], 1)) == 25
    assert len(idx.get_clusters([453.105328, -75.857422, -122.251904, 120.732760], 1)) == 25
    assert len(idx.get_clusters([-180, -90, 180, 90], 1)) == 61


def test_non_integer_zoom(default_index):
    assert default_index.get_clusters([179, -10, -177, 10], 1.25) is not None


def test_same_location_clustered(spark):
    idx = ClusterTileIndexSpark(
        spark, ClusterOptions(max_zoom=20, extent=8192, radius=16)
    ).load(
        [
            {
                "type": "Feature",
                "properties": None,
                "geometry": {"type": "Point", "coordinates": [-1.426798, 53.943034]},
            }
        ]
        * 2
    )
    assert len(idx._levels[20]) == 1


def test_unclustered_coords_not_rounded(spark):
    idx = ClusterTileIndexSpark(spark, ClusterOptions(max_zoom=19)).load(
        [
            {
                "type": "Feature",
                "properties": None,
                "geometry": {
                    "type": "Point",
                    "coordinates": [173.19150559062456, -41.340357424709275],
                },
            }
        ]
    )
    tile = idx.get_tile(20, 1028744, 656754)
    assert tile[0]["geometry"][0] == [421, 281]


def test_zero_items(spark):
    idx = ClusterTileIndexSpark(spark, ClusterOptions()).load([])
    assert idx.get_clusters([-180, -85, 180, 85], 0) == []


def test_engine_cluster_surfaces_match_index(spark, places):
    """The engine's cluster surfaces (geojsonvt.ts:160-183): with cluster on,
    children and leaves of a cluster equal a ClusterTileIndexSpark's over
    the same points; with cluster off, all four return None."""
    from geojson_vt_spark.config import Options
    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame
    from geojson_vt_spark.operators.engine import (
        GeoJSONVTSpark, geojson_to_feature_rows,
    )

    data = {"type": "FeatureCollection", "features": places}
    options = Options(cluster=True)
    eng = GeoJSONVTSpark(spark, data=data, options=options)
    # the index over the engine's ingested rows (wrap copies included)
    idx = ClusterTileIndexSpark(spark, ClusterOptions()).initialize_df(
        local_frame(spark, geojson_to_feature_rows(data, options), FEATURE_SCHEMA)
    )
    clusters = [
        c for c in eng.get_clusters([-180, -85, 180, 85], 0)
        if (c["properties"] or {}).get("cluster")
    ]
    assert clusters
    cid = clusters[0]["properties"]["cluster_id"]
    children = eng.get_cluster_children(cid)
    assert children and children == idx.get_children(cid)
    leaves = eng.get_cluster_leaves(cid, 5, 2)
    assert len(leaves) == 5 and leaves == idx.get_leaves(cid, 5, 2)
    assert eng.get_cluster_leaves(cid) == idx.get_leaves(cid)

    off = GeoJSONVTSpark(
        spark, data={"type": "FeatureCollection", "features": places[:10]},
        options=Options(index_max_zoom=0),
    )
    assert off.get_clusters([-180, -85, 180, 85], 0) is None
    assert off.get_cluster_expansion_zoom(cid) is None
    assert off.get_cluster_children(cid) is None
    assert off.get_cluster_leaves(cid) is None


# ---- grid mode (distributed scale path) — invariant validation -------------


@pytest.fixture(scope="module")
def grid_index(spark, places):
    from pyspark.sql import functions as F

    from geojson_vt_spark.config import Options
    from geojson_vt_spark.operators.engine import geojson_to_feature_rows
    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame

    rows = geojson_to_feature_rows(
        {"type": "FeatureCollection", "features": places}, Options(cluster=True)
    )
    df = local_frame(spark, rows, FEATURE_SCHEMA)
    idx = ClusterTileIndexSpark(spark, ClusterOptions(), method="grid")
    idx.initialize_df(df)
    return idx


def test_grid_point_count_conserved(grid_index):
    from pyspark.sql import functions as F

    o = grid_index.options
    total = grid_index.tree_df(o.max_zoom + 1).agg(F.sum("num")).collect()[0][0]
    for z in (0, 4, 8, 12, 16):
        got = grid_index.tree_df(z).agg(F.sum("num")).collect()[0][0]
        assert got == total, f"zoom {z}: {got} != {total}"


def test_grid_min_points_respected(grid_index):
    from pyspark.sql import functions as F

    for z in (0, 2, 6):
        bad = (
            grid_index.tree_df(z)
            .filter((F.col("num") > 1) & (F.col("num") < grid_index.options.min_points))
            .count()
        )
        assert bad == 0


def test_grid_monotone_cluster_counts(grid_index):
    # coarser zoom => no more rows than finer zoom
    prev = None
    for z in range(grid_index.options.max_zoom + 1, -1, -1):
        n = grid_index.tree_df(z).count()
        if prev is not None:
            assert n <= prev
        prev = n


def test_grid_children_match_parent_counts(grid_index):
    from pyspark.sql import functions as F

    # sum of children nums == parent num, for every cluster at zoom 4
    z = 4
    clusters = grid_index.tree_df(z).filter(F.col("num") > 1).select(
        F.col("src").alias("cid"), F.col("num").alias("cnum")
    )
    child_sums = (
        grid_index.tree_df(z + 1)
        .filter(F.col("parent") >= 0)
        .groupBy("parent")
        .agg(F.sum("num").alias("csum"))
    )
    joined = clusters.join(child_sums, clusters.cid == child_sums.parent, "left")
    bad = joined.filter(
        F.col("csum").isNull() | (F.col("csum") != F.col("cnum"))
    ).count()
    assert bad == 0


def _grid_routes(monkeypatch, n):
    """Yield once per grid route: the one-task route (the default cap
    covers these test corpora) and the anchored batch plan (cap 0)."""
    import geojson_vt_spark.cluster.grid as grid

    default = grid._ONE_TASK_MAX_POINTS
    assert n <= default
    for cap in (default, 0):
        monkeypatch.setattr(grid, "_ONE_TASK_MAX_POINTS", cap)
        yield cap


def test_grid_level_engines_equivalent(spark, monkeypatch):
    """The batched engine (anchor-partition kernel) and the per-level Column
    reference (tests/grid_reference.py) produce the same cluster structure:
    identical src sets and identical (src -> num, parent) maps at every zoom,
    on a seeded synthetic corpus."""
    from pyspark.sql import functions as F

    from geojson_vt_spark.cluster.grid import build_grid_trees
    from tests.grid_reference import build_column_trees

    n = 5000
    pts = spark.range(n).select(
        F.col("id").alias("idx"),
        (F.pmod(F.col("id") * 2654435761, F.lit(100000)) / 100000.0).alias("px"),
        (F.pmod(F.col("id") * 2246822519 + 7, F.lit(100000)) / 100000.0).alias("py"),
        F.lit(None).cast("string").alias("id"),
        F.lit(None).cast("string").alias("tags"),
    ).localCheckpoint(eager=True)
    opts = ClusterOptions(max_zoom=7)

    def snap(build):
        trees = build(pts, opts, n)
        return {
            z: {
                r["src"]: (r["num"], r["parent"])
                for r in trees[z].select("src", "num", "parent").collect()
            }
            for z in range(0, opts.max_zoom + 2)
        }

    b = snap(build_column_trees)
    for route in _grid_routes(monkeypatch, n):
        a = snap(build_grid_trees)
        for z in a:
            assert a[z] == b[z], f"zoom {z}, cap {route}: engines disagree"


def test_grid_level_engines_equivalent_offset_zooms(spark, monkeypatch):
    """Same equivalence with min_zoom > 0 and a level count that is not a
    multiple of the batch factor (partial final batch)."""
    from pyspark.sql import functions as F

    from geojson_vt_spark.cluster.grid import build_grid_trees
    from tests.grid_reference import build_column_trees

    n = 3000
    pts = spark.range(n).select(
        F.col("id").alias("idx"),
        (F.pmod(F.col("id") * 40503 + 11, F.lit(9973)) / 9973.0).alias("px"),
        (F.pmod(F.col("id") * 65537 + 3, F.lit(9973)) / 9973.0).alias("py"),
        F.lit(None).cast("string").alias("id"),
        F.lit(None).cast("string").alias("tags"),
    ).localCheckpoint(eager=True)
    opts = ClusterOptions(min_zoom=2, max_zoom=6, min_points=4)

    def snap(build):
        trees = build(pts, opts, n)
        return {
            z: {
                r["src"]: (r["num"], r["parent"])
                for r in trees[z].select("src", "num", "parent").collect()
            }
            for z in sorted(trees)
        }

    b = snap(build_column_trees)
    for route in _grid_routes(monkeypatch, n):
        a = snap(build_grid_trees)
        assert sorted(a) == sorted(b)
        for z in a:
            assert a[z] == b[z], f"zoom {z}, cap {route}: engines disagree"


def test_grid_workdir_snapshot_resume(spark, tmp_path, monkeypatch):
    """build_grid_trees(workdir=...) writes per-batch parquet snapshots; a
    rebuild over the same workdir reads them back (resumable lineage) and
    returns identical trees."""
    from pyspark.sql import functions as F

    import geojson_vt_spark.cluster.grid as grid

    n = 2000
    pts = spark.range(n).select(
        F.col("id").alias("idx"),
        (F.pmod(F.col("id") * 48271, F.lit(65521)) / 65521.0).alias("px"),
        (F.pmod(F.col("id") * 16807 + 13, F.lit(65521)) / 65521.0).alias("py"),
        F.lit(None).cast("string").alias("id"),
        F.lit(None).cast("string").alias("tags"),
    ).localCheckpoint(eager=True)
    opts = ClusterOptions(max_zoom=6)

    def snap(trees):
        return {
            z: {r["src"]: (r["num"], r["parent"]) for r in
                trees[z].select("src", "num", "parent").collect()}
            for z in (0, 3, 6)
        }

    def poisoned(levels, o, n_points):
        def kern(it):
            raise AssertionError(
                "batched kernel re-ran despite existing snapshots"
            )
            yield  # make it a generator

        return kern

    orig = grid._make_level_kernel
    for route in _grid_routes(monkeypatch, n):
        wd = str(tmp_path / f"ctrees-{route}")
        first = snap(grid.build_grid_trees(pts, opts, n, workdir=wd))
        # second build must hit the snapshots, not recompute: poison the
        # kernel
        monkeypatch.setattr(grid, "_make_level_kernel", poisoned)
        second = snap(grid.build_grid_trees(pts, opts, n, workdir=wd))
        monkeypatch.setattr(grid, "_make_level_kernel", orig)
        assert first == second, route


def test_grid_engines_handle_world_copy_coords(spark, monkeypatch):
    """Antimeridian wrap copies put x outside [0,1] (x in [-1-b, 2+b]).
    The packed-cell math is offset-signed; both engines must agree and
    conserve counts for negative and >1 coordinates."""
    from pyspark.sql import functions as F

    from geojson_vt_spark.cluster.grid import build_grid_trees
    from tests.grid_reference import build_column_trees

    n = 900
    pts = spark.range(n).select(
        F.col("id").alias("idx"),
        # thirds of the corpus in left copy, center, right copy
        (
            (F.pmod(F.col("id") * 7919, F.lit(1000)) / 1000.0)
            + F.when(F.col("id") % 3 == 0, -1.0)
            .when(F.col("id") % 3 == 1, 0.0)
            .otherwise(1.0)
        ).alias("px"),
        (F.pmod(F.col("id") * 104729 + 3, F.lit(1000)) / 1000.0).alias("py"),
        F.lit(None).cast("string").alias("id"),
        F.lit(None).cast("string").alias("tags"),
    ).localCheckpoint(eager=True)
    opts = ClusterOptions(max_zoom=5)

    def snap(build):
        trees = build(pts, opts, n)
        return {
            z: {
                r["src"]: (r["num"], r["parent"])
                for r in trees[z].select("src", "num", "parent").collect()
            }
            for z in (0, 2, 5)
        }

    b = snap(build_column_trees)
    for route in _grid_routes(monkeypatch, n):
        a = snap(build_grid_trees)
        for z in a:
            assert a[z] == b[z], f"zoom {z}, cap {route}: world copies differ"
            assert sum(num for num, _ in a[z].values()) == n


def test_grid_dense_city_skew_balanced_and_equivalent(spark, monkeypatch):
    """Dense-city corpus: 80% of points inside one ~z2-cell-sized box (the
    shape tests/test_skew.py uses for the pyramid). The geometric batch plan
    anchors batch 1 only k-1 levels below max_zoom, so the city spreads over
    many anchor cells; the round-2 plan anchored the whole head batch at a
    coarse z_floor whose single hot cell held most rows. Gates: (a) the
    hottest batch-1 anchor holds a bounded share of the corpus while the old
    coarse anchoring provably concentrates it, (b) engines still agree."""
    import numpy as np
    from pyspark.sql import functions as F

    from geojson_vt_spark.cluster.grid import batch_plan, build_grid_trees
    from tests.grid_reference import build_column_trees

    n = 6000
    # 80% inside a 0.01-wide box at (0.30, 0.30); 20% uniform world
    city = F.col("id") % 5 != 0
    u1 = F.pmod(F.col("id") * 2654435761, F.lit(99991)) / 99991.0
    u2 = F.pmod(F.col("id") * 2246822519 + 7, F.lit(99991)) / 99991.0
    pts = spark.range(n).select(
        F.col("id").alias("idx"),
        F.when(city, 0.30 + u1 * 0.01).otherwise(u1).alias("px"),
        F.when(city, 0.30 + u2 * 0.01).otherwise(u2).alias("py"),
        F.lit(None).cast("string").alias("id"),
        F.lit(None).cast("string").alias("tags"),
    ).localCheckpoint(eager=True)
    opts = ClusterOptions(max_zoom=10)

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plan = batch_plan(opts, parts)
    assert len(plan[0]) <= 4, plan  # batch 1 is capped, not the whole head

    xs = np.array([r.px for r in pts.collect()], dtype=np.float64)
    ys = np.array([r.py for r in pts.collect()], dtype=np.float64)

    def hottest_share(anchor_zoom):
        r = opts.radius / (opts.extent * (2.0 ** anchor_zoom))
        cx = np.floor(xs.astype(np.float32).astype(np.float64) / r)
        cy = np.floor(ys.astype(np.float32).astype(np.float64) / r)
        key = cx * 1e9 + cy
        _, counts = np.unique(key, return_counts=True)
        return counts.max() / n

    # new plan: batch 1 anchors at its own coarsest zoom -> city spreads out
    assert hottest_share(plan[0][-1]) < 0.25
    # the round-2 z_floor anchoring (coarsest zoom with >= 64*partitions
    # anchors) concentrates the city into one anchor — the failure this
    # plan replaces
    min_anchors = 64 * max(1, parts)
    z_floor = next(
        z
        for z in range(0, opts.max_zoom + 1)
        if (opts.extent * (2.0 ** z) / opts.radius) ** 2 >= min_anchors
    )
    assert hottest_share(z_floor) > 0.7

    def snap(build):
        trees = build(pts, opts, n)
        return {
            z: {
                r["src"]: (r["num"], r["parent"])
                for r in trees[z].select("src", "num", "parent").collect()
            }
            for z in (0, 3, 7, 10)
        }

    b = snap(build_column_trees)
    for route in _grid_routes(monkeypatch, n):
        a = snap(build_grid_trees)
        for z in a:
            assert a[z] == b[z], f"zoom {z}, cap {route}: dense city differs"
            assert sum(num for num, _ in a[z].values()) == n


def test_grid_reduce_aggregation(spark, places):
    """O21 map/reduce property folds on the grid scale path (reference
    cluster-tile-index.ts:416-437): every cluster's folded sum equals its
    children's contributions, every zoom conserves the global total, and the
    folded props surface through get_tile cluster tags. (Grid clusters are
    finer than exact mode's, so the check is algebraic consistency, not the
    exact-mode byte parity of test_reduce_aggregation.)"""
    import json as _json

    from geojson_vt_spark.config import Options
    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame
    from geojson_vt_spark.operators.engine import geojson_to_feature_rows

    def map_fn(props):
        return {"sum": (props or {}).get("scalerank") or 0}

    def reduce_fn(a, b):
        a["sum"] += b["sum"]

    rows = geojson_to_feature_rows(
        {"type": "FeatureCollection", "features": places}, Options(cluster=True)
    )
    df = local_frame(spark, rows, FEATURE_SCHEMA)
    idx = ClusterTileIndexSpark(
        spark,
        ClusterOptions(radius=100, map_fn=map_fn, reduce_fn=reduce_fn),
        method="grid",
    )
    idx.initialize_df(df)

    pts_tags = {
        r["idx"]: (None if r["tags"] is None else _json.loads(r["tags"]))
        for r in idx._points_df.collect()
    }
    total = sum(map_fn(t)["sum"] for t in pts_tags.values())
    assert total > 0

    for z in (0, 4, 8, idx.options.max_zoom + 1):
        s = 0
        for r in idx.tree_df(z).select("src", "num", "props").collect():
            if r.num > 1:
                assert r.props is not None, f"zoom {z}: cluster without fold"
                s += _json.loads(r.props)["sum"]
            else:
                s += map_fn(pts_tags[r.src])["sum"]
        assert s == total, f"zoom {z}: folded total {s} != {total}"

    # tree consistency: parent fold == children contributions (get_children)
    checked = 0
    for r in idx.tree_df(4).filter("num > 1").limit(12).collect():
        psum = _json.loads(r.props)["sum"]
        ksum = 0
        for kid in idx.get_children(r.src):
            kp = kid.get("properties") or {}
            ksum += kp["sum"] if kp.get("cluster") else map_fn(kp)["sum"]
        assert ksum == psum, f"cluster {r.src}: children {ksum} != fold {psum}"
        checked += 1
    assert checked > 0

    # serving surface: grid get_tile cluster tags carry the folded value
    tile = idx.get_tile(0, 0, 0)
    cl = [f for f in tile if (f.get("tags") or {}).get("cluster")]
    assert cl and all("sum" in f["tags"] for f in cl)


def test_leaves_one_shot_job_count(default_index):
    """get_leaves is a level-synchronous window query: Spark job rounds are
    bounded by visited origin zooms (x small constant for the broadcast
    builds + collect), NOT by visited cluster nodes — the old per-node
    recursive DFS issued 3+ jobs per visited cluster."""
    sc = default_index.spark.sparkContext
    # warm the per-zoom tree DataFrames outside the measured group (cache
    # materialization is build cost, not per-call serving cost)
    default_index.get_leaves(163, 10, 5)
    sc.setJobGroup("leaves-probe", "one-shot get_leaves")
    try:
        leaves = default_index.get_leaves(163, 10, 5)
    finally:
        sc.setJobGroup(None, None)
    assert len(leaves) == 10
    tracker = default_index.spark.sparkContext.statusTracker()
    n_jobs = len(tracker.getJobIdsForGroup("leaves-probe"))
    assert 0 < n_jobs <= 16, n_jobs


def test_leaves_deep_offset_matches_reference_order(default_index):
    """Windowed pagination == sequential DFS: page through a big cluster in
    chunks and check against one full pull."""
    cid = 163
    full = default_index.get_leaves(cid, 1000, 0)
    total = sum(
        (c["properties"] or {}).get("point_count", 1)
        for c in default_index.get_children(cid)
    )
    assert total == 16 and len(full) == total
    pages = []
    step = 4
    for off in range(0, total, step):
        pages.extend(default_index.get_leaves(cid, step, off))
    assert [p["properties"] for p in pages] == [p["properties"] for p in full]
    assert [p["geometry"] for p in pages] == [p["geometry"] for p in full]


def test_batch_plan_two_tier_shapes():
    """Pure-plan gates for the two-tier batch plan: a 4-level raw-point head
    (the only skew-sensitive batch), 8-level tail batches over collapsed
    frontiers, each batch contiguous descending, covering every level once."""
    from geojson_vt_spark.cluster.grid import batch_plan
    from geojson_vt_spark.config import ClusterOptions

    def flat(plan):
        return [z for b in plan for z in b]

    for mz in (0, 3, 4, 8, 16, 24):
        plan = batch_plan(ClusterOptions(max_zoom=mz), 32)
        assert flat(plan) == list(range(mz, -1, -1)), plan
        assert len(plan[0]) <= 4, plan
        assert all(len(b) <= 8 for b in plan[1:]), plan
        assert all(b == list(range(b[0], b[-1] - 1, -1)) for b in plan), plan

    assert batch_plan(ClusterOptions(max_zoom=16), 32) == [
        [16, 15, 14, 13],
        [12, 11, 10, 9, 8, 7, 6, 5],
        [4, 3, 2, 1, 0],
    ]
