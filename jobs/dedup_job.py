"""spark-submit entry point: documents table -> deduplicated keep-list.

Third deployment pipeline next to jobs/pyramid_job.py and
jobs/cluster_job.py: near-dup pair generation (minhash-LSH band join),
connected-components cluster grouping, and the keep-list that drops every
non-representative member. Ships the same way:

    spark-submit --master <cluster> \
        --py-files dist/geojson_vt_spark.zip \
        jobs/dedup_job.py \
        --documents /path/to/documents.parquet \
        --output /path/to/keep-list \
        [--pairs-output /path/to/near-dup-pairs] \
        [--clusters-output /path/to/cluster-map]

Input: parquet with (doc_id: bigint, source: string, text: string) at
minimum (the synthetic documents table shape). Output: (doc_id, source)
keep-list parquet; optionally the raw near-dup pairs and the
doc_id -> cluster_rep map for audit.

Prints one DEDUP_METRICS JSON line: input/kept/dropped doc counts,
near-dup pair count, cluster count, wall time.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--documents", required=True)
    ap.add_argument("--output", required=True, help="keep-list parquet")
    ap.add_argument("--pairs-output", default=None)
    ap.add_argument("--clusters-output", default=None)
    return ap.parse_args(argv)


def main(argv: list[str]) -> None:
    args = parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from geojson_vt_spark.training import (
        connected_components,
        drop_cluster_members,
        q_minhash_lsh_dedup,
    )

    spark = SparkSession.builder.appName("geojson-vt-spark dedup").getOrCreate()

    # the q_* surfaces read <sf_dir>/documents.parquet; point them at the
    # input's parent dir so the submitted job reuses the tested plans. That
    # convention only holds when the input IS named documents.parquet —
    # anything else would silently make q_minhash_lsh_dedup read a different
    # table than the one loaded into `docs` below, so fail loudly instead.
    base = args.documents.rstrip("/").rsplit("/", 1)[-1]
    if base != "documents.parquet":
        raise SystemExit(
            "dedup_job: --documents must point at a path named "
            f"documents.parquet (got {base!r}); the dedup plans read "
            "<parent>/documents.parquet by convention"
        )
    sf_dir = args.documents.rstrip("/").rsplit("/", 1)[0]

    t0 = time.time()
    docs = spark.read.parquet(args.documents)
    n_in = docs.count()

    pairs = q_minhash_lsh_dedup(spark, sf_dir).localCheckpoint(eager=True)
    if args.pairs_output:
        pairs.write.mode("overwrite").parquet(args.pairs_output)
    n_pairs = pairs.count()

    clusters = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    if args.clusters_output:
        clusters.write.mode("overwrite").parquet(args.clusters_output)
        clusters = spark.read.parquet(args.clusters_output)
    n_clusters = clusters.select("cluster_rep").distinct().count()

    # the keep rule q_dedup_keep runs, over the pairs/clusters computed
    # above instead of re-deriving them
    keep = drop_cluster_members(docs.select("doc_id", "source"), clusters)
    keep.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()

    metrics = {
        "docs_in": n_in,
        "near_dup_pairs": n_pairs,
        "clusters": n_clusters,
        "docs_kept": n_kept,
        "docs_dropped": n_in - n_kept,
        "sec": round(time.time() - t0, 3),
    }
    print("DEDUP_METRICS " + json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
