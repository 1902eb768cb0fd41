"""On-disk Supercluster store: build the grid index once, serve every query
surface from the written layout.

Counterpart of sources/tile_store.py for the cluster side (reference
semantics: /root/reference/src/cluster-tile-index.ts — the reference keeps
its per-zoom kd-trees in process memory; at corpus scale one cluster job
builds them and many consumers serve). Layout:

  * trees/   — all per-zoom tree rows (TREE_SCHEMA + zoom), written
    `partitionBy(zoom)` and qx-sorted within each zoom: a getTile /
    getClusters range query prunes to ONE zoom directory at file-listing
    time and its qx window pushes into the row-group stats;
  * points/  — the original points (POINTS_SCHEMA), idx-sorted so the
    src==idx join-back prunes;
  * meta/    — one JSON row: n_points, the zoom list, and the scalar
    ClusterOptions used at build time (restored on load so serving math —
    radius/extent/limit_zoom — matches the build exactly).

`load_cluster_store` returns a regular ClusterTileIndexSpark (grid mode)
whose per-zoom tree frames are partition-pruned disk reads — get_tile,
get_clusters, get_children, get_leaves and the engine integration all work
unchanged, byte-identically to the in-session index (parity-tested over the
places fixture in tests/test_cluster_store.py).

map_fn/reduce_fn are NOT persisted (callables): the folded `props` column
in the trees already carries every reduce result, so serving needs neither;
re-supply them in `options` only if the loaded index must ingest new data.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import SparkSession, functions as F, types as T

from ..config import ClusterOptions
from ..model import local_frame
from .index import POINTS_SCHEMA, TREE_SCHEMA, ClusterTileIndexSpark

_SCALAR_OPTS = (
    "min_zoom", "max_zoom", "min_points", "radius", "extent",
    "node_size", "generate_id",
)


def write_cluster_store(index: ClusterTileIndexSpark, path: str) -> None:
    """Persist a grid-mode index. One shuffle (repartition by zoom) makes
    every zoom a sorted file set; at 100 TB widen to (zoom, qx-range)
    buckets — the layout contract (zoom dirs, qx-sorted files) holds."""
    if index.method != "grid":
        raise ValueError(
            "write_cluster_store persists the grid (distributed) index; "
            "exact mode is the sequential parity path — rebuild with "
            "method='grid' to serve from disk"
        )
    spark = index.spark
    trees = None
    for z, df in index._grid_trees.items():
        part = df.withColumn("zoom", F.lit(int(z)).cast("int"))
        trees = part if trees is None else trees.unionByName(part)
    if trees is None:
        raise ValueError("index has no tree levels (initialize it first)")
    (
        trees.repartition(F.col("zoom"))
        .sortWithinPartitions("zoom", "qx", "qy")
        .write.mode("overwrite")
        .partitionBy("zoom")
        .parquet(f"{path}/trees")
    )
    (
        index.points_df()
        .sortWithinPartitions("idx")
        .write.mode("overwrite")
        .parquet(f"{path}/points")
    )
    meta = {
        "n_points": int(index.n_points),
        "zooms": sorted(int(z) for z in index._grid_trees),
        "options": {
            k: getattr(index.options, k) for k in _SCALAR_OPTS
        },
    }
    local_frame(spark, [(json.dumps(meta),)], "meta string").coalesce(
        1
    ).write.mode("overwrite").json(f"{path}/meta")


def load_cluster_store(
    spark: SparkSession, path: str, options: Optional[ClusterOptions] = None
) -> ClusterTileIndexSpark:
    """Open a written store as a ready-to-query grid index. Each per-zoom
    tree frame is a partition-pruned read (`zoom=` dir); query predicates
    (qx windows, vrank ranges, src lookups) push into the sorted row-group
    stats from there."""
    meta = json.loads(
        spark.read.schema("meta string").json(f"{path}/meta").collect()[0].meta
    )
    stored = meta["options"]
    if options is None:
        options = ClusterOptions(**stored)
    else:
        mismatched = {
            k: (stored[k], getattr(options, k))
            for k in _SCALAR_OPTS
            if getattr(options, k) != stored[k]
        }
        if mismatched:
            raise ValueError(
                "options mismatch vs the store's build-time options "
                f"(stored vs requested): {mismatched}"
            )
    idx = ClusterTileIndexSpark(spark, options, method="grid")
    idx.n_points = int(meta["n_points"])
    # copy — StructType.add would MUTATE the module-global TREE_SCHEMA
    tree_fields = T.StructType(
        list(TREE_SCHEMA.fields) + [T.StructField("zoom", T.IntegerType(), True)]
    )
    trees = spark.read.schema(tree_fields).parquet(f"{path}/trees")
    idx._grid_trees = {
        int(z): trees.where(F.col("zoom") == int(z)).drop("zoom")
        for z in meta["zooms"]
    }
    idx._points_df = spark.read.schema(POINTS_SCHEMA).parquet(f"{path}/points")
    return idx
