"""On-disk Supercluster store (cluster/store.py): a loaded store must answer
every query surface byte-identically to the in-session grid index, with the
per-zoom read pruned at the partition level."""

import pytest
from pyspark.sql import functions as F

from geojson_vt_spark.config import ClusterOptions
from geojson_vt_spark.cluster.index import ClusterTileIndexSpark

from .conftest import load_fixture


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    from geojson_vt_spark.cluster.store import (
        load_cluster_store,
        write_cluster_store,
    )

    from geojson_vt_spark.config import Options
    from geojson_vt_spark.model import FEATURE_SCHEMA, local_frame
    from geojson_vt_spark.operators.engine import geojson_to_feature_rows

    places = load_fixture("places.json")["features"]
    rows = geojson_to_feature_rows(
        {"type": "FeatureCollection", "features": places}, Options(cluster=True)
    )
    live = ClusterTileIndexSpark(spark, ClusterOptions(), method="grid")
    live.initialize_df(local_frame(spark, rows, FEATURE_SCHEMA))
    path = str(tmp_path_factory.mktemp("clstore") / "store")
    write_cluster_store(live, path)
    return live, load_cluster_store(spark, path), path


def test_get_tile_parity(stored):
    live, disk, _ = stored
    for z, x, y in [(0, 0, 0), (1, 0, 0), (1, 1, 0), (2, 3, 1), (4, 8, 5)]:
        assert disk.get_tile(z, x, y) == live.get_tile(z, x, y), (z, x, y)


def test_get_clusters_parity(stored):
    live, disk, _ = stored
    for bbox, zoom in [
        ([-180, -90, 180, 90], 0),
        ([-100, 30, -60, 50], 3),
        ([170, -10, -170, 10], 2),  # dateline-crossing window
    ]:
        assert disk.get_clusters(bbox, zoom) == live.get_clusters(bbox, zoom)


def test_children_and_leaves_parity(stored):
    live, disk, _ = stored
    root = [f for f in live.get_tile(0, 0, 0) if f["tags"].get("cluster")]
    cid = root[0]["tags"]["cluster_id"]
    assert disk.get_children(cid) == live.get_children(cid)
    assert disk.get_leaves(cid, limit=10, offset=5) == live.get_leaves(
        cid, limit=10, offset=5
    )


def test_options_restored_and_guarded(stored, spark):
    from geojson_vt_spark.cluster.store import load_cluster_store

    live, disk, path = stored
    assert disk.options.radius == live.options.radius
    assert disk.n_points == live.n_points
    with pytest.raises(ValueError, match="options mismatch"):
        load_cluster_store(spark, path, ClusterOptions(radius=80))


def test_tree_read_is_partition_pruned(stored, spark):
    _live, disk, path = stored
    df = disk.tree_df(0).where(
        (F.col("qx") >= 0.2) & (F.col("qx") <= 0.8)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "zoom" in line.split("PartitionFilters:", 1)[1].split(
        "PushedFilters:"
    )[0], line
    assert "GreaterThanOrEqual(qx" in line, line
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.length())
        if "parquet" in leaves.apply(i).nodeName().lower()
    ]
    assert int(scans[0].metrics().apply("numPartitions").value()) == 1


def test_exact_mode_refused(spark):
    from geojson_vt_spark.cluster.store import write_cluster_store

    places = load_fixture("places.json")["features"]
    exact = ClusterTileIndexSpark(spark, ClusterOptions()).load(places)
    with pytest.raises(ValueError, match="grid"):
        write_cluster_store(exact, "/tmp/never-written")
