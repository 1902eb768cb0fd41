"""Seeded-random equality sweeps for the round-5 plan rewrites: the
two-level sequence packer vs the one-window reference, and the
bounded-heap `ranked_topk` vs the global row_number window it replaced.
Spark-level randomized checks use fixed numpy seeds (a Spark session per
hypothesis example would be prohibitive), several draws each, with the
adversarial shapes planted deliberately: duplicate sort keys for top-k
ties, skewed source sizes and shard counts that cut sources mid-run for
the packer."""

import numpy as np
from pyspark.sql import Window, functions as F


def test_sequence_pack_random_equality(spark):
    from geojson_vt_spark.hygiene import sequence_pack

    from .util import sequence_pack_reference, session_conf

    for seed in range(4):
        rng = np.random.RandomState(seed)
        n_sources = rng.randint(1, 6)
        rows = []
        for s in range(n_sources):
            n_docs = int(rng.randint(1, 400))
            for d in range(n_docs):
                n_tok = int(rng.randint(1, 60))
                rows.append(
                    (f"s{s}", f"d{d:05d}", " ".join("w" for _ in range(n_tok)))
                )
        docs = spark.createDataFrame(
            rows, "source string, doc_id string, text string"
        )
        budget = int(rng.choice([16, 64, 256]))
        want = sorted(
            tuple(r) for r in sequence_pack_reference(docs, budget).collect()
        )
        n_shards = int(rng.randint(1, 11))
        with session_conf(
            spark, {"spark.sql.shuffle.partitions": str(n_shards)}
        ):
            got = sorted(
                tuple(r)
                for r in sequence_pack(docs, budget=budget).collect()
            )
        assert got == want, (seed, n_shards, budget)


def test_ranked_topk_random_ties_vs_window(spark):
    """ranked_topk must return the exact row set and ranks of the global
    row_number window under heavy key ties (cos drawn from a tiny set so
    most rows collide; the vec_id tiebreak is what keeps the order total)."""
    from geojson_vt_spark.analytics import ranked_topk

    for seed in range(4):
        rng = np.random.RandomState(100 + seed)
        n = int(rng.randint(5, 500))
        k = int(rng.randint(1, 30))
        cos_pool = np.round(rng.uniform(-1, 1, size=max(2, n // 10)), 6)
        rows = [
            (int(i), float(cos_pool[rng.randint(len(cos_pool))]))
            for i in rng.permutation(10_000)[:n]
        ]
        scored = spark.createDataFrame(rows, "vec_id long, cos double")
        w = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        want = sorted(
            tuple(r)
            for r in scored.withColumn(
                "rank", F.row_number().over(w).cast("long")
            )
            .where(F.col("rank") <= k)
            .collect()
        )
        got = sorted(tuple(r) for r in ranked_topk(scored, k).collect())
        assert got == want, (seed, n, k)
