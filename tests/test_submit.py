"""Deployment-shape test: the engine ships as spark-submit --py-files.

north_rule: "run via spark-submit --py-files on a multi-executor cluster"
(BASELINE.json). This builds the dist zip with make_pyfiles.py, writes a
tiny interleaved-documents table, and runs jobs/pyramid_job.py through a
REAL spark-submit with the repo hidden from PYTHONPATH — proving the zip
alone carries the engine to driver and executors — then checks the
registry output and the resume contract (second submit reuses the
workdir snapshots instead of recomputing).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit():
    exe = shutil.which("spark-submit")
    if exe is None:
        pytest.skip("spark-submit not on PATH")
    return exe


def _run_job(zip_path, tmp, docs_path, workdir, out_path, tile_store=None):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_SF_DIR")
    }
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.local.dir=/dev/shm/spark-local"
            if os.path.isdir("/dev/shm") else "spark.local.dir=/tmp",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "pyramid_job.py"),
            "--documents", docs_path,
            "--workdir", workdir,
            "--output", out_path,
            "--max-zoom", "3",
            "--index-max-zoom", "3",
            "--index-max-points", "128",
        ]
        + (["--tile-store", tile_store] if tile_store else []),
        capture_output=True,
        text=True,
        # run from OUTSIDE the repo so cwd-relative imports can't cheat
        cwd=str(tmp),
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    metrics_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("PYRAMID_METRICS ")
    ]
    assert metrics_lines, f"no metrics line in stdout:\n{proc.stdout[-2000:]}"
    return json.loads(metrics_lines[-1][len("PYRAMID_METRICS "):])


def test_pyfiles_zip_is_self_contained(tmp_path):
    sys.path.insert(0, REPO)
    from make_pyfiles import build_zip

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))
    import zipfile

    names = zipfile.ZipFile(zip_path).namelist()
    assert "geojson_vt_spark/__init__.py" in names
    assert "geojson_vt_spark/plans/pyramid.py" in names
    assert not any(n.endswith(".pyc") or "__pycache__" in n for n in names)
    # deterministic rebuild (same bytes -> safe to re-submit mid-campaign)
    zip2 = build_zip(str(tmp_path / "again.zip"))
    assert open(zip_path, "rb").read() == open(zip2, "rb").read()


def test_spark_submit_cluster_job(spark, tmp_path):
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from make_pyfiles import build_zip
    from geojson_vt_spark.cluster.grid import build_grid_trees
    from geojson_vt_spark.config import ClusterOptions

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))

    n = 500
    pts = spark.range(n).select(
        (F.pmod(F.col("id") * 2654435761, F.lit(1000)) / 1000.0).alias("px"),
        (F.pmod(F.col("id") * 2246822519 + 7, F.lit(1000)) / 1000.0).alias("py"),
    )
    pts_path = str(tmp_path / "points.parquet")
    pts.write.parquet(pts_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    workdir = str(tmp_path / "wd")

    def submit(*extra):
        return subprocess.run(
            [
                _spark_submit(),
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "cluster_job.py"),
                "--points", pts_path,
                "--workdir", workdir,
                "--max-zoom", "4",
                *extra,
            ],
            capture_output=True, text=True, cwd=str(tmp_path), env=env,
            timeout=600,
        )

    proc = submit(
        "--output", str(tmp_path / "trees-out"),
        "--cluster-store", str(tmp_path / "cluster-store"),
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    line = [l for l in proc.stdout.splitlines() if l.startswith("CLUSTER_METRICS ")]
    assert line, proc.stdout[-2000:]
    metrics = json.loads(line[-1][len("CLUSTER_METRICS "):])
    assert metrics["n_points"] == n

    # exact cross-check: in-process build over the identical input must give
    # the same per-zoom cluster counts (grid mode is order-free/deterministic)
    local_pts = (
        spark.read.parquet(pts_path)
        .select(
            F.monotonically_increasing_id().alias("idx"), "px", "py",
            F.lit(None).cast("string").alias("id"),
            F.lit(None).cast("string").alias("tags"),
        )
        .localCheckpoint(eager=True)
    )
    trees = build_grid_trees(local_pts, ClusterOptions(max_zoom=4), n)
    expected = {f"z{z}": trees[z].count() for z in sorted(trees)}
    assert metrics["stats"] == expected
    # parquet output exists for every zoom and agrees with the metrics
    for z_key, cnt in expected.items():
        out = spark.read.parquet(str(tmp_path / "trees-out" / f"z={z_key[1:]}"))
        assert out.count() == cnt

    # the serving layout written by the job answers queries
    from geojson_vt_spark.cluster.store import load_cluster_store

    srv = load_cluster_store(spark, str(tmp_path / "cluster-store"))
    assert srv.n_points == n and srv.options.max_zoom == 4
    root = srv.get_tile(0, 0, 0)
    # z0 emit includes buffered antimeridian world-copy duplicates at both
    # x edges (reference tile-emit semantics), so the sum is >= n
    total = sum(
        f["tags"]["point_count"] if (f["tags"] or {}).get("cluster") else 1
        for f in root
    )
    assert root and total >= n
    # the un-duplicated interior accounting: bbox query at the base zoom
    # covers every point exactly once
    leaves = srv.get_clusters([-179.9, -85, 179.9, 85], srv.options.max_zoom + 1)
    assert sum(
        f["properties"]["point_count"]
        if (f.get("properties") or {}).get("cluster")
        else 1
        for f in leaves
    ) <= n

    # re-submitting over the same --workdir with another --radius must fail
    # on the options fingerprint, not resume the old level-batch snapshots
    # (spark-submit relays the driver's Python traceback on stdout)
    proc = submit("--radius", "60")
    assert proc.returncode != 0
    assert "CLUSTER_METRICS " not in proc.stdout
    assert "DIFFERENT" in proc.stdout, proc.stdout[-4000:]
    assert "'radius': (40.0, 60.0)" in proc.stdout, proc.stdout[-4000:]


def test_spark_submit_dedup_job(spark, tmp_path):
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from make_pyfiles import build_zip
    from geojson_vt_spark.training import connected_components, q_minhash_lsh_dedup

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))
    sf_dir = "/root/testdata/sf0.001"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_path = str(tmp_path / "keep-list")
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "dedup_job.py"),
            "--documents", f"{sf_dir}/documents.parquet",
            "--output", out_path,
            "--clusters-output", str(tmp_path / "clusters"),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    line = [l for l in proc.stdout.splitlines() if l.startswith("DEDUP_METRICS ")]
    assert line, proc.stdout[-2000:]
    metrics = json.loads(line[-1][len("DEDUP_METRICS "):])
    assert metrics["docs_kept"] + metrics["docs_dropped"] == metrics["docs_in"]
    assert metrics["docs_dropped"] > 0  # the synthetic corpus plants dups

    # the submitted job's keep-list must equal the SAME pipeline composed
    # in-process (q_minhash_lsh_dedup's web-scale r=4 banding -> CC -> keep;
    # q_dedup_keep is the r=1 exact-recall variant whose oracle is the full
    # transitive closure, so its keep-list legitimately differs on the
    # corpus's planted near-threshold J in [0.5,0.6) pairs)
    got = {tuple(r) for r in spark.read.parquet(out_path).collect()}
    pairs = q_minhash_lsh_dedup(spark, sf_dir)
    clusters = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    drops = clusters.where(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        tuple(r)
        for r in docs.select("doc_id", "source")
        .join(F.broadcast(drops), "doc_id", "left_anti")
        .collect()
    }
    assert got == want


def test_spark_submit_pyramid_job(spark, tmp_path):
    sys.path.insert(0, REPO)
    from make_pyfiles import build_zip
    from geojson_vt_spark.sources.documents import synthesize_documents
    from tests.conftest import load_fixture

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))

    payload = json.dumps(load_fixture("us-states.json"))
    docs_path = str(tmp_path / "documents.parquet")
    synthesize_documents(spark, [payload], n_docs=4).write.parquet(docs_path)

    workdir = str(tmp_path / "snapshots")
    out_path = str(tmp_path / "registry-out")
    store_path = str(tmp_path / "tile-store")
    metrics = _run_job(
        zip_path, tmp_path, docs_path, workdir, out_path, tile_store=store_path
    )

    # 4 identical docs x us-states -> same tile keys as one copy; z0 exists
    assert metrics["stats"]["z0"] == 1
    assert metrics["total"] >= 1
    assert metrics["tile_features"] > 0

    reg = spark.read.parquet(out_path)
    assert reg.filter("z = 0 AND x = 0 AND y = 0").count() == 1
    assert reg.count() == metrics["total"]

    # the serving layout written by the job answers point lookups
    from geojson_vt_spark.sources.tile_store import DiskTileServer

    srv = DiskTileServer(spark, store_path)
    assert len(srv.all_tile_keys()) == metrics["total"]
    root = srv.get_tile(0, 0, 0)
    assert root and all("geometry" in f for f in root)
    assert srv.get_tile(9, 0, 0) is None

    # resume contract: a second submit against the same workdir reuses the
    # per-level snapshots (exists() short-circuits the write) and lands on
    # the identical registry
    metrics2 = _run_job(zip_path, tmp_path, docs_path, workdir,
                        str(tmp_path / "registry-out2"))
    assert metrics2["stats"] == metrics["stats"]
    assert metrics2["total"] == metrics["total"]


def test_pyramid_job_options_fingerprint_guard(spark, tmp_path):
    """Resuming a workdir whose snapshots were built under different options
    (or a different input) must fail loudly, not silently mix levels;
    --no-resume (resume=False) re-records the fingerprint for fresh builds.
    The pyramid job's fingerprint: its Options fields plus --documents."""
    from geojson_vt_spark.sources.table_format import guard_fingerprint

    def fp(max_zoom, documents):
        return {
            "max_zoom": max_zoom, "index_max_zoom": 5,
            "index_max_points": 100000, "buffer": 64, "extent": 4096,
            "tolerance": 3.0, "documents": documents,
        }

    wd = str(tmp_path / "wd")
    guard_fingerprint(spark, wd, fp(5, "in.parquet"), resume=True)
    guard_fingerprint(spark, wd, fp(5, "in.parquet"), resume=True)
    with pytest.raises(ValueError, match="DIFFERENT"):
        guard_fingerprint(spark, wd, fp(7, "in.parquet"), resume=True)
    with pytest.raises(ValueError, match="DIFFERENT"):
        guard_fingerprint(spark, wd, fp(5, "other.parquet"), resume=True)
    # a fresh build re-records; a later resume under it matches
    guard_fingerprint(spark, wd, fp(7, "in.parquet"), resume=False)
    guard_fingerprint(spark, wd, fp(7, "in.parquet"), resume=True)


def test_dedup_job_rejects_misnamed_input(spark, tmp_path):
    """An input not named documents.parquet would make the dedup plans read
    a DIFFERENT table than the one the job loads — fail loudly instead."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "dedup_job", os.path.join(REPO, "jobs", "dedup_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with pytest.raises(SystemExit, match="documents.parquet"):
        mod.main(
            ["--documents", str(tmp_path / "corpus.parquet"),
             "--output", str(tmp_path / "out")]
        )


def test_spark_submit_corpus_pipeline_job(spark, tmp_path):
    """End-to-end composed pipeline: quality gate -> language filter ->
    exact dedup -> near-dup dedup -> output, through a REAL spark-submit.
    The synthetic corpus plants one doc per drop reason so every stage's
    count is exactly checkable: 2 too-short docs (quality), 1 boilerplate
    loop (repetition gate), 2 French docs (language), 1 eval-set leak
    (decontamination), 1 byte-identical copy of doc 1 (exact stage keeps
    the min doc_id), 1 near-duplicate of doc 0 (LSH dedup keeps the min
    doc_id). Also exercises --pack-budget: the kept corpus is 30 uniform
    25-token docs, so 256-token bins split 11/10/9."""
    sys.path.insert(0, REPO)
    from make_pyfiles import build_zip

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))

    filler = lambda i: " ".join(f"w{i}x{j}q" for j in range(20))  # noqa: E731
    rows = []
    for i in range(30):  # good English docs, mutually low-Jaccard
        rows.append((i, "web", f"the quick {filler(i)} and more here"))
    rows.append((100, "web", "too short"))
    rows.append((101, "web", "tiny"))
    fr = "les que eau est " + " ".join(f"z{j}b" for j in range(25))
    rows.append((102, "web", fr))
    rows.append((103, "web", fr + " plus"))
    # near-dup of doc 0: same tokens + one extra -> Jaccard ~0.98
    rows.append((104, "web", f"the quick {filler(0)} and more here extratok"))
    # byte-identical copy of doc 1: must fall to the EXACT stage (never
    # reaches the band join — the mega-cluster immunity the job documents)
    rows.append((105, "web", f"the quick {filler(1)} and more here"))
    # boilerplate loop: long + English but ~97% duplicate bigrams — must
    # fall to the repetition gate (--max-dup-bigram-ratio)
    rows.append((106, "web", "the cat sat " * 30))
    # eval-set leak: good English doc carrying 8 consecutive eval tokens —
    # must fall to the decontamination stage (--decontam-eval)
    ev_toks = " ".join(f"evaltok{j}" for j in range(8))
    rows.append((107, "web", f"the quick {filler(31)} {ev_toks} and more here"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs_path = str(tmp_path / "documents.parquet")
    docs.write.parquet(docs_path)

    eval_path = str(tmp_path / "eval.parquet")
    spark.createDataFrame(
        [(9000, ev_toks + " " + " ".join(f"evtail{j}" for j in range(6)))],
        "doc_id long, text string",
    ).write.parquet(eval_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_path = str(tmp_path / "clean-corpus")
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
            "--documents", docs_path,
            "--output", out_path,
            "--langs", "en",
            "--max-dup-bigram-ratio", "0.5",
            "--decontam-eval", eval_path,
            "--pack-budget", "256",
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    line = [
        l for l in proc.stdout.splitlines() if l.startswith("PIPELINE_METRICS ")
    ]
    assert line, proc.stdout[-2000:]
    m = json.loads(line[-1][len("PIPELINE_METRICS "):])
    assert m["docs_in"] == 38
    assert m["quality_passed"] == 35  # drops 100, 101 (length), 106 (repetition)
    assert m["lang_passed"] == 33     # drops 102, 103
    assert m["decontam_dropped"] == 1  # drops 107 (eval leak)
    assert m["exact_kept"] == 31      # drops 105 (byte-copy of doc 1)
    assert m["near_dup_pairs"] >= 1   # (0, 104) at least
    assert m["docs_out"] == 30        # drops 104, keeps doc 0

    kept = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert kept == set(range(30))

    # packing manifests: 30 kept docs x 25 tokens, budget 256 -> doc k
    # starts at 25k, so bins hold 11 / 10 / 9 docs
    assert m["pack_bins"] == 3
    packs = {
        r.bin: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(out_path + "_packs").collect()
    }
    assert packs == {0: (11, 275), 1: (10, 250), 2: (9, 225)}


def test_spark_submit_pipeline_sample_plus_pack(spark, tmp_path):
    """--sample-k combined with --pack-budget: the packing manifests must
    describe the SAMPLED output set (what a trainer actually reads), not
    the pre-sample keep-list."""
    sys.path.insert(0, REPO)
    from make_pyfiles import build_zip

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))

    # 6 docs per source, 10 unique tokens each (no near-dups, no exact dups)
    rows = [
        (s * 100 + i, f"src{s}", " ".join(f"d{s}_{i}w{j}" for j in range(10)))
        for s in range(2)
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs_path = str(tmp_path / "documents.parquet")
    docs.write.parquet(docs_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_path = str(tmp_path / "sampled-corpus")
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
            "--documents", docs_path,
            "--output", out_path,
            "--min-chars", "10",
            "--sample-k", "3",
            "--pack-budget", "15",
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    line = [
        l for l in proc.stdout.splitlines() if l.startswith("PIPELINE_METRICS ")
    ]
    m = json.loads(line[-1][len("PIPELINE_METRICS "):])
    assert m["docs_out"] == 6  # 3 sampled per source

    sampled = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert len(sampled) == 6
    packs = spark.read.parquet(out_path + "_packs").collect()
    # 3 sampled docs x 10 tokens per source, budget 15 -> starts 0/10/20 ->
    # two bins per source holding 2 then 1 docs
    assert m["pack_bins"] == 4
    per_src = {}
    for r in packs:
        per_src.setdefault(r.source, {})[r.bin] = (r.n_docs, r.n_tokens)
        # manifests reference only documents present in the written output
        assert r.first_doc in sampled and r.last_doc in sampled
    for s in ("src0", "src1"):
        assert per_src[s] == {0: (2, 20), 1: (1, 10)}
    assert sum(r.n_docs for r in packs) == 6


def test_spark_submit_pipeline_workdir_resume(spark, tmp_path):
    """--workdir stage snapshots: a re-submitted job resumes past the
    expensive stages (resumed=true, identical counts and output), and a
    changed filter option REFUSES to resume the stale snapshots."""
    sys.path.insert(0, REPO)
    from make_pyfiles import build_zip

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))

    rows = [
        (s * 100 + i, f"src{s}", " ".join(f"r{s}_{i}w{j}" for j in range(10)))
        for s in range(2)
        for i in range(5)
    ]
    # one near-dup pair so the pairs snapshot is non-empty
    rows.append((900, "src0", rows[0][2] + " extratok"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs_path = str(tmp_path / "documents.parquet")
    docs.write.parquet(docs_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_path = str(tmp_path / "resume-corpus")
    wd = str(tmp_path / "stage-snapshots")

    def run(extra):
        return subprocess.run(
            [
                _spark_submit(),
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
                "--documents", docs_path,
                "--output", out_path,
                "--workdir", wd,
            ] + extra,
            capture_output=True, text=True, cwd=str(tmp_path), env=env,
            timeout=600,
        )

    def metrics(proc):
        assert proc.returncode == 0, proc.stderr[-4000:]
        line = [
            l for l in proc.stdout.splitlines()
            if l.startswith("PIPELINE_METRICS ")
        ]
        return json.loads(line[-1][len("PIPELINE_METRICS "):])

    m1 = metrics(run(["--min-chars", "10"]))
    assert m1["resumed"] is False
    ids1 = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())

    m2 = metrics(run(["--min-chars", "10"]))
    assert m2["resumed"] is True
    ids2 = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert ids1 == ids2
    for k in ("docs_in", "quality_passed", "lang_passed", "exact_kept",
              "near_dup_pairs", "clusters", "docs_out"):
        assert m1[k] == m2[k], k
    assert m1["near_dup_pairs"] >= 1  # the snapshot held real pairs

    # changed filter option must refuse the stale snapshots
    bad = run(["--min-chars", "11"])
    assert bad.returncode != 0
    assert "DIFFERENT options" in (bad.stderr + bad.stdout)

    # sample-k is OUTSIDE the fingerprint: resumes and re-runs the tail
    m3 = metrics(run(["--min-chars", "10", "--sample-k", "2"]))
    assert m3["resumed"] is True
    assert m3["docs_out"] == 4  # 2 per source


def test_spark_submit_pipeline_global_dedup_scope(spark, tmp_path):
    """--dedup-scope global: byte-copies and near-dups ACROSS sources
    collapse (the default source scope keeps them)."""
    sys.path.insert(0, REPO)
    from make_pyfiles import build_zip

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))

    base = lambda i: " ".join(f"g{i}w{j}" for j in range(10))  # noqa: E731
    rows = [(i, "srcA", base(i)) for i in range(8)]
    rows.append((100, "srcB", base(1)))            # cross-source byte-copy
    rows.append((101, "srcB", base(0) + " extra"))  # cross-source near-dup
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs_path = str(tmp_path / "documents.parquet")
    docs.write.parquet(docs_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(scope, out):
        proc = subprocess.run(
            [
                _spark_submit(),
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
                "--documents", docs_path,
                "--output", out,
                "--min-chars", "10",
                "--dedup-scope", scope,
            ],
            capture_output=True, text=True, cwd=str(tmp_path), env=env,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        line = [
            l for l in proc.stdout.splitlines()
            if l.startswith("PIPELINE_METRICS ")
        ]
        return json.loads(line[-1][len("PIPELINE_METRICS "):])

    m_src = run("source", str(tmp_path / "out-src"))
    assert m_src["exact_kept"] == 10   # copy survives across sources
    assert m_src["docs_out"] == 10     # near-dup survives across sources

    m_glob = run("global", str(tmp_path / "out-glob"))
    assert m_glob["exact_kept"] == 9   # 100 collapses onto 1
    assert m_glob["docs_out"] == 8     # 101 collapses onto 0
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out-glob")).collect()}
    assert kept == set(range(8))


def test_pipeline_fingerprint_content_marker(spark, tmp_path):
    """The workdir fingerprint must change when the input is refreshed
    IN PLACE with identical filenames (pyarrow-style deterministic names),
    and must fail with a clean SystemExit when the input is unreadable."""
    import importlib.util

    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "corpus_pipeline_job", os.path.join(REPO, "jobs", "corpus_pipeline_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    docs_path = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": [1, 2], "source": ["a", "a"], "text": ["x", "y"]}),
        docs_path,
    )
    args = mod.parse_args(["--documents", docs_path, "--output", "unused"])
    fp1 = mod._compute_fingerprint(spark, args)

    import time

    time.sleep(1.1)  # ensure a distinct mtime second on coarse filesystems
    pq.write_table(
        pa.table({"doc_id": [1, 2], "source": ["a", "a"], "text": ["x", "Z"]}),
        docs_path,  # same path, same single filename
    )
    fp2 = mod._compute_fingerprint(spark, args)
    assert fp1 != fp2  # content marker caught the in-place refresh

    args_bad = mod.parse_args(
        ["--documents", str(tmp_path / "missing.parquet"), "--output", "u"]
    )
    with pytest.raises(SystemExit, match="cannot read --documents"):
        mod._compute_fingerprint(spark, args_bad)

    # ADVICE r4: --decontam-eval is part of the dedup snapshots' lineage —
    # an in-place eval refresh must invalidate the fingerprint too
    eval_path = str(tmp_path / "eval.parquet")
    pq.write_table(
        pa.table({"doc_id": [9], "text": ["eval one"]}), eval_path
    )
    args_ev = mod.parse_args(
        ["--documents", docs_path, "--output", "unused",
         "--decontam-eval", eval_path]
    )
    fp3 = mod._compute_fingerprint(spark, args_ev)
    assert fp3 != fp2  # eval files extend the marker
    time.sleep(1.1)
    pq.write_table(
        pa.table({"doc_id": [9], "text": ["eval TWO"]}), eval_path
    )
    fp4 = mod._compute_fingerprint(spark, args_ev)
    assert fp4 != fp3  # in-place eval refresh caught
    args_ev_bad = mod.parse_args(
        ["--documents", docs_path, "--output", "u",
         "--decontam-eval", str(tmp_path / "missing_eval.parquet")]
    )
    with pytest.raises(SystemExit, match="cannot read --decontam-eval"):
        mod._compute_fingerprint(spark, args_ev_bad)


def test_pipeline_output_exactly_once(spark, tmp_path):
    """r4 verdict item 7: the final docs_out/packs writes carry the same
    certificate discipline as the stage snapshots. A job killed AFTER the
    output write but BEFORE the manifest (simulated by deleting the
    manifest) recomputes on resubmit and lands IDENTICAL row counts; a
    resubmit of a COMPLETED run is certified (touches nothing, replays
    metrics); changing a tail-only knob (sample-k) invalidates only the
    output certificate, not the stage snapshots."""
    sys.path.insert(0, REPO)
    import shutil

    from make_pyfiles import build_zip

    zip_path = build_zip(str(tmp_path / "geojson_vt_spark.zip"))
    rows = [
        (s * 100 + i, f"src{s}", " ".join(f"r{s}_{i}w{j}" for j in range(10)))
        for s in range(2)
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs_path = str(tmp_path / "documents.parquet")
    docs.write.parquet(docs_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_path = str(tmp_path / "eo-corpus")
    wd = str(tmp_path / "eo-snapshots")

    def run(extra):
        return subprocess.run(
            [
                _spark_submit(),
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
                "--documents", docs_path,
                "--output", out_path,
                "--workdir", wd,
                "--min-chars", "10",
                "--pack-budget", "16",
            ] + extra,
            capture_output=True, text=True, cwd=str(tmp_path), env=env,
            timeout=600,
        )

    def metrics(proc):
        assert proc.returncode == 0, proc.stderr[-4000:]
        line = [
            l for l in proc.stdout.splitlines()
            if l.startswith("PIPELINE_METRICS ")
        ]
        return json.loads(line[-1][len("PIPELINE_METRICS "):])

    m1 = metrics(run([]))
    fresh_rows = sorted(
        (r.doc_id, r.source) for r in spark.read.parquet(out_path).collect()
    )
    fresh_bins = spark.read.parquet(out_path + "_packs").count()
    assert m1["pack_bins"] == fresh_bins

    # completed-run resubmit: certified, nothing rewritten
    import os as _os

    mtime_before = max(
        _os.stat(_os.path.join(dp, f)).st_mtime_ns
        for dp, _dn, fn in _os.walk(out_path) for f in fn
    )
    m2 = metrics(run([]))
    assert m2.get("output_certified") is True
    assert m2["docs_out"] == m1["docs_out"]
    mtime_after = max(
        _os.stat(_os.path.join(dp, f)).st_mtime_ns
        for dp, _dn, fn in _os.walk(out_path) for f in fn
    )
    assert mtime_after == mtime_before  # output untouched

    # kill-after-output simulation: manifest gone, output present
    shutil.rmtree(out_path + "_manifest")
    m3 = metrics(run([]))
    assert m3.get("output_certified") is None
    assert sorted(
        (r.doc_id, r.source) for r in spark.read.parquet(out_path).collect()
    ) == fresh_rows
    assert spark.read.parquet(out_path + "_packs").count() == fresh_bins
    assert m3["docs_out"] == m1["docs_out"]

    # tail knob change: stage snapshots reused, output recomputed
    m4 = metrics(run(["--sample-k", "3"]))
    assert m4["resumed"] is True  # snapshots certified
    assert m4.get("output_certified") is None  # but the output lineage moved
    assert m4["docs_out"] == 6  # 3 per source
