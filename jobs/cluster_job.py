"""spark-submit entry point: point table -> per-zoom supercluster trees.

Companion to jobs/pyramid_job.py for the clustering half of the engine
(reference: cluster-tile-index.ts). Ships the same way:

    spark-submit --master <cluster> \
        --py-files dist/geojson_vt_spark.zip \
        jobs/cluster_job.py \
        --points /path/to/points.parquet \
        --workdir /path/to/cluster-snapshots \
        --output /path/to/trees-out \
        --max-zoom 8

Input: parquet with (px: double, py: double) in projected [0,1] mercator
coordinates — plus optional (id: string, tags: string) carried onto leaf
points — OR (lon: double, lat: double), converted with --lonlat. Each row
is one point feature.

Output: one parquet per zoom (<output>/z=<z>) in the engine's tree layout
(cluster rows with weighted centroids, num, parent pointers), the shape
every Supercluster query surface (tile emit, bbox query, children/leaves)
consumes. With --workdir, level batches snapshot for resume; a workdir
whose snapshots were built under other options or input is refused (the
options fingerprint), so re-submit those with a new --workdir.

Prints one CLUSTER_METRICS JSON line: per-zoom cluster counts + wall time.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--points", required=True, help="parquet of point rows")
    ap.add_argument("--workdir", default=None,
                    help="snapshot dir for level-batch checkpoints + resume")
    ap.add_argument("--output", default=None,
                    help="write per-zoom trees as parquet here")
    ap.add_argument("--lonlat", action="store_true",
                    help="input has lon/lat columns instead of px/py")
    ap.add_argument("--min-zoom", type=int, default=0)
    ap.add_argument("--max-zoom", type=int, default=8)
    ap.add_argument("--radius", type=float, default=40.0)
    ap.add_argument("--extent", type=int, default=512)
    ap.add_argument("--min-points", type=int, default=2)
    ap.add_argument("--cluster-store", default=None,
                    help="write the query-ready serving layout here "
                    "(cluster/store.py: zoom-partitioned trees + points + "
                    "meta; load_cluster_store serves every query surface)")
    return ap.parse_args(argv)


def main(argv: list[str]) -> None:
    args = parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from geojson_vt_spark.cluster.grid import build_grid_trees
    from geojson_vt_spark.config import ClusterOptions
    from geojson_vt_spark.functions.projection import project_x_col, project_y_col
    from geojson_vt_spark.sources.table_format import guard_fingerprint

    spark = SparkSession.builder.appName("geojson-vt-spark cluster").getOrCreate()

    if args.workdir:
        # the level-batch snapshots are reused only under the options and
        # input that built them: a mismatch fails instead of serving old trees
        fp = {k: getattr(args, k) for k in (
            "min_zoom", "max_zoom", "radius", "extent", "min_points",
            "points", "lonlat",
        )}
        guard_fingerprint(spark, args.workdir, fp, resume=True)

    pts = spark.read.parquet(args.points)
    if args.lonlat:
        pts = pts.withColumn("px", project_x_col(F.col("lon"))).withColumn(
            "py", project_y_col(F.col("lat"))
        )
    for col, default in (("id", None), ("tags", None)):
        if col not in pts.columns:
            pts = pts.withColumn(col, F.lit(default).cast("string"))
    pts = pts.select(
        F.monotonically_increasing_id().alias("idx"), "px", "py", "id", "tags"
    ).localCheckpoint(eager=True)  # pin idx: mono ids are plan-dependent
    n_points = pts.count()

    options = ClusterOptions(
        min_zoom=args.min_zoom,
        max_zoom=args.max_zoom,
        radius=args.radius,
        extent=args.extent,
        min_points=args.min_points,
    )

    t0 = time.time()
    trees = build_grid_trees(pts, options, n_points, workdir=args.workdir)
    per_zoom = {}
    for z in sorted(trees):
        if args.output:
            trees[z].write.mode("overwrite").parquet(f"{args.output}/z={z}")
            per_zoom[f"z{z}"] = spark.read.parquet(f"{args.output}/z={z}").count()
        else:
            per_zoom[f"z{z}"] = trees[z].count()
    if args.cluster_store:
        from geojson_vt_spark.cluster.index import ClusterTileIndexSpark
        from geojson_vt_spark.cluster.store import write_cluster_store

        idx = ClusterTileIndexSpark(spark, options, method="grid")
        idx.n_points = n_points
        idx._points_df = pts
        idx._grid_trees = trees
        write_cluster_store(idx, args.cluster_store)
    metrics = {
        "n_points": n_points,
        "stats": per_zoom,
        "sec": round(time.time() - t0, 3),
        "resumable_workdir": args.workdir,
    }
    print("CLUSTER_METRICS " + json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
