"""On-disk IVF index (ivf_index_write / ann_topk_ivf_indexed): the stored
layout must answer queries identically to the scan-time IVF variants, and —
the point of the layout — the probe filter must prune at the PARTITION
level, so non-probed inverted lists are never read."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    from geojson_vt_spark.training import ivf_index_write

    p = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_index_write(_emb(spark), p, nlist=16)
    return p


def _qvec(spark):
    return [
        float(v)
        for v in _emb(spark).where(F.col("vec_id") == 0).collect()[0].embedding
    ]


def test_indexed_equals_codegen_ivf(spark, index_path):
    from geojson_vt_spark.training import (
        ann_topk_ivf_indexed,
        q_ann_cosine_topk_ivf,
    )

    code = q_ann_cosine_topk_ivf(spark, SF, nlist=16, nprobe=4, k=10).collect()
    idx = ann_topk_ivf_indexed(
        spark, index_path, _qvec(spark), exclude_id=0, nprobe=4, k=10
    ).collect()
    key = lambda r: r.rank
    assert [(r.vec_id, r.cos, r.rank) for r in sorted(idx, key=key)] == [
        (r.vec_id, r.cos, r.rank) for r in sorted(code, key=key)
    ]


def test_indexed_full_probe_equals_exact(spark, index_path):
    from geojson_vt_spark.analytics import q_ann_cosine_topk
    from geojson_vt_spark.training import ann_topk_ivf_indexed

    exact = q_ann_cosine_topk(spark, SF).orderBy("rank").collect()
    idx = (
        ann_topk_ivf_indexed(
            spark, index_path, _qvec(spark), exclude_id=0, nprobe=16, k=10
        )
        .orderBy("rank")
        .collect()
    )
    assert [r.vec_id for r in idx] == [r.vec_id for r in exact]


def test_probe_filter_is_partition_pruning(spark, index_path):
    """list_id must appear in the scan's PartitionFilters (pruned file
    listing), NOT as a post-scan data filter — and the pruned plan must
    read strictly fewer partition directories than the index holds."""
    from geojson_vt_spark.training import ann_topk_ivf_indexed

    df = ann_topk_ivf_indexed(
        spark, index_path, _qvec(spark), exclude_id=0, nprobe=4, k=10
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "list_id" in scan[0], plan

    # Functional proof of pruning on the exact scan shape the query uses
    # (isin over the partition column): after execution the scan's own
    # metrics report how many partition directories were actually read.
    # (inputFiles() can't show this — it lists the relation's files before
    # pruning; the full query wraps the scan in AQE stages, so assert on
    # the bare scan, whose PartitionFilters line above ties it to the query.)
    probed = spark.read.parquet(f"{index_path}/lists").where(
        F.col("list_id").isin([1, 2, 3, 4])
    )
    probed.collect()
    leaves = probed._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.length())
        if "parquet" in leaves.apply(i).nodeName().lower()
    ]
    assert scans
    read_parts = int(scans[0].metrics().apply("numPartitions").value())
    assert read_parts == 4, read_parts  # 4 of 16 lists


def test_index_write_assignment_matches_scan_time(spark, index_path):
    """Stored list_id per vector == the scan-time codegen assignment."""
    from geojson_vt_spark.training import _ivf_centroids, _ivf_rank_structs

    e = _emb(spark)
    ranked = _ivf_rank_structs(_ivf_centroids(e, 16))
    live = {
        r.vec_id: r.lid
        for r in e.select("vec_id", ranked[0]["rk"].alias("lid")).collect()
    }
    stored = {
        r.vec_id: int(r.list_id)
        for r in spark.read.parquet(f"{index_path}/lists")
        .select("vec_id", "list_id")
        .collect()
    }
    assert stored == live


def test_index_append_commutes_and_serves(spark, tmp_path):
    """ivf_index_append: (1) appends assign against the FROZEN stored
    centroids, so appending in one or two chunks yields the identical list
    contents; (2) every appended row's stored list_id equals the scan-time
    assignment under those centroids; (3) a full-probe query over the
    appended index equals the exact brute-force top-k over the full corpus;
    (4) probe-filtered serving still prunes to exactly nprobe partition
    dirs after the append."""
    from geojson_vt_spark.analytics import q_ann_cosine_topk
    from geojson_vt_spark.training import (
        _ivf_rank_structs,
        ann_topk_ivf_indexed,
        ivf_index_append,
        ivf_index_write,
    )

    e = _emb(spark)
    base = e.where("vec_id % 2 = 0")
    new = e.where("vec_id % 2 = 1")

    p1 = str(tmp_path / "one_shot")
    ivf_index_write(base, p1, nlist=16)
    ivf_index_append(new, p1)

    p2 = str(tmp_path / "two_chunks")
    ivf_index_write(base, p2, nlist=16)
    ivf_index_append(new.where("vec_id % 4 = 1"), p2)
    ivf_index_append(new.where("vec_id % 4 = 3"), p2)

    rows1 = {
        (r.vec_id, int(r.list_id))
        for r in spark.read.parquet(f"{p1}/lists").select("vec_id", "list_id").collect()
    }
    rows2 = {
        (r.vec_id, int(r.list_id))
        for r in spark.read.parquet(f"{p2}/lists").select("vec_id", "list_id").collect()
    }
    assert rows1 == rows2
    assert len(rows1) == e.count()

    # stored assignment == scan-time assignment under the FROZEN centroids
    cents = sorted(
        (int(r.rk), [float(v) for v in r.embedding])
        for r in spark.read.parquet(f"{p1}/centroids").collect()
    )
    ranked = _ivf_rank_structs(cents)
    live = {
        (r.vec_id, r.lid)
        for r in e.select("vec_id", ranked[0]["rk"].alias("lid")).collect()
    }
    assert rows1 == live

    # serving over the appended index: full probe == exact brute force
    exact = q_ann_cosine_topk(spark, SF).orderBy("rank").collect()
    idx = (
        ann_topk_ivf_indexed(
            spark, p1, _qvec(spark), exclude_id=0, nprobe=16, k=10
        )
        .orderBy("rank")
        .collect()
    )
    assert [(r.vec_id, r.rank) for r in idx] == [
        (r.vec_id, r.rank) for r in exact
    ]

    # probe-filtered read still prunes to the probed dirs only
    probed = spark.read.parquet(f"{p1}/lists").where(
        F.col("list_id").isin([1, 2, 3])
    )
    probed.collect()
    leaves = probed._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.length())
        if "parquet" in leaves.apply(i).nodeName().lower()
    ]
    read_parts = int(scans[0].metrics().apply("numPartitions").value())
    assert read_parts == 3, read_parts


def test_index_append_from_stream(spark, tmp_path):
    """Streaming composition the append docstring names: an arriving-
    embeddings file stream drained through foreachBatch(ivf_index_append)
    must leave the same index a batch append leaves."""
    import os
    import time

    from geojson_vt_spark.training import ivf_index_append, ivf_index_write

    e = _emb(spark)
    base = e.where("vec_id % 2 = 0")
    new = e.where("vec_id % 2 = 1")
    p = str(tmp_path / "stream_idx")
    ivf_index_write(base, p, nlist=16)

    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    now = time.time()
    for i, pred in enumerate(("vec_id % 4 = 1", "vec_id % 4 = 3")):
        sub = tmp_path / f"chunk{i}"
        new.where(pred).coalesce(1).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            tgt = stream_dir / f"c{i}.parquet"
            f.rename(tgt)
            os.utime(tgt, (now + i, now + i))

    schema = e.schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, _bid: ivf_index_append(df, p))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    got = {
        (r.vec_id, int(r.list_id))
        for r in spark.read.parquet(f"{p}/lists").select("vec_id", "list_id").collect()
    }
    pb = str(tmp_path / "batch_idx")
    ivf_index_write(base, pb, nlist=16)
    ivf_index_append(new, pb)
    want = {
        (r.vec_id, int(r.list_id))
        for r in spark.read.parquet(f"{pb}/lists").select("vec_id", "list_id").collect()
    }
    assert got == want and len(got) == e.count()


def test_index_append_idempotent_on_replay(spark, tmp_path):
    """An at-least-once replay of the same append batch must not duplicate
    rows (the stored-id anti-join)."""
    from geojson_vt_spark.training import ivf_index_append, ivf_index_write

    e = _emb(spark)
    base = e.where("vec_id % 2 = 0")
    new = e.where("vec_id % 2 = 1")
    p = str(tmp_path / "idem")
    ivf_index_write(base, p, nlist=16)
    ivf_index_append(new, p)
    n1 = spark.read.parquet(f"{p}/lists").count()
    ivf_index_append(new, p)  # replayed micro-batch
    n2 = spark.read.parquet(f"{p}/lists").count()
    assert n1 == n2 == e.count()
