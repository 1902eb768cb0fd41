"""spark-submit entry point: interleaved-documents table -> z/x/y tile pyramid.

The deployment shape the north rule mandates — the engine ships as a
`--py-files` zip and this driver script, no install step on the cluster:

    python make_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/geojson_vt_spark.zip \
        jobs/pyramid_job.py \
        --documents /path/to/documents.parquet \
        --workdir  /path/to/pyramid-snapshots \
        --output   /path/to/registry-out \
        --max-zoom 14 --index-max-zoom 14 --index-max-points 128

Input table shape (BASELINE.json input_hint): columns
(doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>); spans with kind='geojson' carry the
GeoJSON payloads to tile.

Resumability: with --workdir every finished zoom level is a snapshot in
the configured table format (parquet dirs by default, Iceberg when a
catalog is present — geojson_vt_spark/sources/table_format.py). A killed
job re-submitted with the same --workdir resumes mid-pyramid without
recomputing finished levels (tests/test_resume.py proves the contract).

Prints one JSON metrics line: per-zoom tile counters (the reference's
debug `stats` object, tile-index.ts:14,166-169), totals, and wall time.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--documents", required=True,
                    help="parquet path of the interleaved documents table")
    ap.add_argument("--workdir", default=None,
                    help="snapshot dir for per-level checkpoints + resume")
    ap.add_argument("--output", default=None,
                    help="write the tile registry as parquet here")
    ap.add_argument("--tiles-output", default=None,
                    help="write the tile features as parquet here")
    ap.add_argument("--tile-store", default=None,
                    help="write the z-partitioned serving layout here "
                    "(sources/tile_store.py: pruned get_tile point lookups)")
    ap.add_argument("--max-zoom", type=int, default=14)
    ap.add_argument("--index-max-zoom", type=int, default=5)
    ap.add_argument("--index-max-points", type=int, default=100000)
    ap.add_argument("--buffer", type=int, default=64)
    ap.add_argument("--extent", type=int, default=4096)
    ap.add_argument("--tolerance", type=float, default=3.0)
    ap.add_argument(
        "--no-resume",
        action="store_true",
        help="ignore any snapshots already in --workdir (fresh build; "
        "snapshots are overwritten as levels complete)",
    )
    return ap.parse_args(argv)


def main(argv: list[str]) -> None:
    args = parse_args(argv)

    # imports resolve from the --py-files zip on driver and executors alike
    from pyspark.sql import SparkSession

    from geojson_vt_spark.config import Options
    from geojson_vt_spark.plans.pyramid import build_pyramid
    from geojson_vt_spark.sources.documents import features_from_documents
    from geojson_vt_spark.sources.table_format import guard_fingerprint

    spark = SparkSession.builder.appName("geojson-vt-spark pyramid").getOrCreate()

    options = Options(
        max_zoom=args.max_zoom,
        index_max_zoom=args.index_max_zoom,
        index_max_points=args.index_max_points,
        buffer=args.buffer,
        extent=args.extent,
        tolerance=args.tolerance,
    )

    resume = not args.no_resume
    if args.workdir:
        # snapshots are reused only under the options and input that built
        # them; --no-resume rebuilds fresh and re-records
        fp = {k: getattr(options, k) for k in (
            "max_zoom", "index_max_zoom", "index_max_points",
            "buffer", "extent", "tolerance",
        )}
        fp["documents"] = args.documents
        guard_fingerprint(spark, args.workdir, fp, resume)

    t0 = time.time()
    docs = spark.read.parquet(args.documents)
    feats = features_from_documents(docs, options)
    store = build_pyramid(feats, options, workdir=args.workdir, resume=resume)

    registry = store.registry_df()
    if args.output:
        registry.write.mode("overwrite").parquet(args.output)
        registry = spark.read.parquet(args.output)
    if args.tiles_output:
        store.tiles_df().write.mode("overwrite").parquet(args.tiles_output)
    if args.tile_store:
        from geojson_vt_spark.sources.tile_store import write_tile_store

        write_tile_store(store.tiles_df(), store.registry_df(), args.tile_store)

    per_zoom = {
        f"z{r['z']}": r["count"]
        for r in sorted(
            registry.groupBy("z").count().collect(), key=lambda r: r["z"]
        )
    }
    n_tiles = sum(per_zoom.values())
    metrics = {
        "stats": per_zoom,
        "total": n_tiles,
        "tile_features": store.tiles_df().count(),
        "sec": round(time.time() - t0, 3),
        "resumable_workdir": args.workdir,
    }
    print("PYRAMID_METRICS " + json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
