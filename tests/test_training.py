"""Training-data pipeline operators: oracle checks (DuckDB), LSH-vs-exact
equivalences, multimodal plumbing, streaming/batch parity."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_new_oracles_match_duckdb(spark):
    from .oracle_harness import run_all

    names = {
        "minhash_lsh_dedup",
        "lang_id",
        "doc_fingerprint",
        "bpe_token_count",
        "events_tile_heatmap",
        "raster_vector_bridge",
        "media_decode_stats",
        "simhash_dedup",
        "dedup_keep",
    }
    res = run_all(spark, SF, names=names)
    assert set(res) == names
    bad = {k: v for k, v in res.items() if not v.get("hash_match")}
    assert not bad, bad


def test_connected_components_transitive_chain(spark):
    """Chains must collapse to one component even when the endpoints are not
    themselves a pair (a~b, b~c, c~d but a!~d) — the property pair-grouping
    alone cannot give."""
    from geojson_vt_spark.training import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {r.doc_id: r.cluster_rep for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_cluster_cc_matches_duckdb_closure(spark):
    from .oracle_harness import run_all

    res = run_all(spark, SF, names={"dedup_cluster_cc"})
    assert res["dedup_cluster_cc"].get("hash_match"), res["dedup_cluster_cc"]


def test_dedup_cluster_reps_consistent_with_pairs(spark):
    """Both docs of every near-dup pair must land in the same cluster, and
    the rep must be a member <= everyone it represents."""
    from geojson_vt_spark.training import q_dedup_cluster_cc, q_minhash_lsh_dedup

    rep = {r.doc_id: r.cluster_rep for r in q_dedup_cluster_cc(spark, SF).collect()}
    pairs = q_minhash_lsh_dedup(spark, SF).select("doc_a", "doc_b").collect()
    assert pairs
    for p in pairs:
        assert rep[p.doc_a] == rep[p.doc_b]
    for doc, r in rep.items():
        assert r <= doc
        assert rep[r] == r  # the rep is its own rep (a member of the cluster)


def test_stratified_sample_exact_vs_bruteforce(spark):
    """The pre-filter + fallback must reproduce the brute-force 'k smallest
    hashes per stratum' exactly — including strata smaller than k (keep all)
    and strata big enough to engage the 4k/n hash cut."""
    from pyspark.sql import Window, functions as F

    from geojson_vt_spark.training import stratified_sample

    rows = [(i, "big") for i in range(2000)] + [(10_000 + i, "tiny") for i in range(3)]
    d = spark.createDataFrame(rows, ["doc_id", "source"])
    k = 5
    got = {(r.source, r.doc_id, r.rank) for r in stratified_sample(d, k).collect()}

    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    brute = (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("source", "doc_id", "rank")
    )
    want = {(r.source, r.doc_id, r.rank) for r in brute.collect()}
    assert got == want
    assert len([t for t in got if t[0] == "tiny"]) == 3  # undersized: keep all


def test_stratified_sample_broadcasts_strata_dim(spark):
    from geojson_vt_spark.training import q_stratified_sample

    df = q_stratified_sample(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_minhash_equals_exact_jaccard(spark):
    """r=1 exact-recall mode (n_hashes == n_bands): banding only prunes
    candidates (miss 2^-16 per qualifying pair), so the LSH output equals
    the exact all-pairs join on the fixed corpus."""
    from geojson_vt_spark.analytics import q_ngram_jaccard_dedup
    from geojson_vt_spark.training import _docs_tokens, minhash_lsh_pairs

    exact = {tuple(r) for r in q_ngram_jaccard_dedup(spark, SF).collect()}
    lsh = {
        tuple(r)
        for r in minhash_lsh_pairs(
            _docs_tokens(spark, SF), n_hashes=16, n_bands=16
        ).collect()
    }
    assert exact == lsh
    assert len(exact) > 0  # corpus actually contains near-dups


@pytest.mark.parametrize("hash_fn", ["md5_60", "xxhash64"])
def test_minhash_signature_kernel_matches_reference(spark, hash_fn):
    """The signature kernel equals the explode + group-min reference
    (tests/util.py) row for row, over many small Arrow batches, with a
    null and an empty token list (no row, as explode gives), a null token
    (never the min) and an all-null token list."""
    from geojson_vt_spark.training import _docs_tokens, minhash_signatures

    from .util import minhash_signatures_reference, session_conf

    extra = spark.createDataFrame(
        [(90001, "web", None), (90002, "web", []),
         (90003, "web", ["a", None, "b"]), (90004, "web", [None]),
         (90005, "blog", ["solo"])],
        "doc_id long, source string, toks array<string>",
    )
    docs = _docs_tokens(spark, SF).unionByName(extra).repartition(3)

    def rows(df):
        got = [tuple(r) for r in df.collect()]
        keyed = {r[:2]: r for r in got}
        assert len(keyed) == len(got)  # one row per (doc_id, source)
        return keyed

    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}
    with session_conf(spark, conf):
        got = rows(minhash_signatures(docs, 64, hash_fn))
    want = rows(minhash_signatures_reference(docs, 64, hash_fn))
    assert got == want
    assert len(got) > 3 * 7  # several batches per task
    assert (90001, "web") not in got and (90002, "web") not in got
    assert (90003, "web") in got and (90004, "web") in got


def test_ngram_allpairs_scale_guard(spark):
    """The exact all-pairs baseline must refuse oversized source buckets
    instead of silently going quadratic (round-4 verdict #3); the r=1
    exact-recall LSH mode the guard points at finds the same pairs."""
    import pytest

    from geojson_vt_spark.analytics import ngram_jaccard_pairs
    from geojson_vt_spark.training import minhash_lsh_pairs

    rows = [(i, "web", [f"t{i}", f"u{i}", "x"]) for i in range(50)]
    rows += [(1000, "web", ["dup", "pair", "a"]), (1001, "web", ["dup", "pair", "a"])]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "toks"])

    # the guard is LAZY: building the plan runs no job and does not raise
    # (entry-contract consumers build every query up front) ...
    guarded = ngram_jaccard_pairs(docs, max_source_docs=10)
    # ... but the first action fails fast with the pointer to the LSH path
    with pytest.raises(Exception, match="minhash_lsh_pairs"):
        guarded.collect()

    # the r=1 exact-recall LSH mode finds the planted pair
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, n_hashes=16, n_bands=16, bucket_cap=None
        ).collect()
    }
    assert (1000, 1001) in got
    # within the guard, the exact join runs and agrees with it
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, max_source_docs=None).collect()
    }
    assert got == exact


def test_lsh_bucket_cap_bounds_hot_boilerplate(spark):
    """The hot-band-key guard (round-4 verdict #2): plant one boilerplate
    token-set shared by 300 docs next to 10 genuine near-dup pairs. Without
    the cap the boilerplate cluster emits 300*299/2 = 44,850 quadratic
    candidates from a single band key; with the cap its buckets (all over
    the cap) are dropped, candidate volume collapses to the 10 planted
    pairs, and the overflow filter runs as a broadcast anti-join (no new
    wide shuffle)."""
    from geojson_vt_spark.training import minhash_band_candidates, minhash_lsh_pairs

    n_hot = 300
    boiler = "the quick brown fox jumps over the lazy dog again and again".split()
    rows = [(i, "web", boiler) for i in range(n_hot)]
    for i in range(10):  # planted identical pairs, pairwise-disjoint vocab
        toks = [f"tok{i}_{j}" for j in range(8)]
        rows.append((10_000 + 2 * i, "web", toks))
        rows.append((10_001 + 2 * i, "web", toks))
    docs = spark.createDataFrame(rows, ["doc_id", "source", "toks"])

    uncapped = minhash_band_candidates(docs, bucket_cap=None).count()
    assert uncapped == n_hot * (n_hot - 1) // 2 + 10  # the quadratic blow-up

    capped_df = minhash_band_candidates(docs, bucket_cap=100)
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert "CartesianProduct" not in plan
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    assert capped == {(10_000 + 2 * i, 10_001 + 2 * i) for i in range(10)}

    # end-to-end: the refine keeps the planted pairs at J=1.0
    pairs = minhash_lsh_pairs(docs, bucket_cap=100).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == capped
    assert all(r.jaccard == 1.0 for r in pairs)


def test_minhash_banded_precision_and_high_j_recall(spark):
    """The web-scale b=16 x r=4 banding: output is an exact SUBSET of the
    true J>=0.5 pairs (refine makes precision exact), and every
    high-similarity pair (J >= 0.8, where the S-curve miss is <= 2e-4) is
    caught on this corpus."""
    from geojson_vt_spark.analytics import q_ngram_jaccard_dedup
    from geojson_vt_spark.training import _docs_tokens, minhash_lsh_pairs

    exact = {tuple(r) for r in q_ngram_jaccard_dedup(spark, SF).collect()}
    lsh = {
        tuple(r)
        for r in minhash_lsh_pairs(
            _docs_tokens(spark, SF), n_hashes=64, n_bands=16
        ).collect()
    }
    assert lsh <= exact
    high = {t for t in exact if t[2] >= 0.8}
    assert high, "corpus must contain high-J pairs for this gate to bite"
    assert high <= lsh


def test_minhash_banding_prunes_low_jaccard_candidates(spark):
    """The point of r=4: moderately-similar pairs must NOT become candidates.
    Planted corpus: 40 doc pairs at J~=0.2 (2 shared tokens of 12) and 5
    pairs at J=1.0. With r=1 most J~=0.09 pairs are candidates
    (P = 1-(1-J)^16 ~= 78%); with r=4 P = 1-(1-J^4)^16 ~= 0.1% — assert the
    candidate count collapses while the true dups all survive."""
    from geojson_vt_spark.training import minhash_band_candidates

    rows = []
    for i in range(40):
        # pair (2i, 2i+1): two shared tokens + 10 distinct each -> J = 2/22
        shared = f"s{i}a s{i}b"
        rows.append((2 * i, "src", f"{shared} " + " ".join(f"a{i}x{j}" for j in range(10))))
        rows.append((2 * i + 1, "src", f"{shared} " + " ".join(f"b{i}x{j}" for j in range(10))))
    for i in range(5):
        text = " ".join(f"dup{i}t{j}" for j in range(12))
        rows.append((1000 + 2 * i, "src", text))
        rows.append((1001 + 2 * i, "src", text))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string").select(
        "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    c1 = {tuple(r) for r in minhash_band_candidates(docs, 16, 16).collect()}
    c4 = {tuple(r) for r in minhash_band_candidates(docs, 64, 16).collect()}
    dups = {(1000 + 2 * i, 1001 + 2 * i) for i in range(5)}
    low = {(2 * i, 2 * i + 1) for i in range(40)}
    assert dups <= c1 and dups <= c4  # J=1 pairs always collide in every band
    assert len(c1 & low) >= 25  # r=1: the low-J pairs flood the candidate set
    assert len(c4 & low) <= 5  # r=4: they are pruned before the refine


def test_simhash_exact_recall_by_pigeonhole(spark):
    """The 4x4-bit banding must find EVERY pair with hamming <= 3 — verify
    against a brute-force pandas computation of the same simhashes (low 16
    bits of each distinct token's md5)."""
    import pandas as pd

    from geojson_vt_spark.training import q_simhash_dedup, _t

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in q_simhash_dedup(spark, SF).collect()
    }

    d = _t(spark, SF, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("t"),
    ).withColumn("h", F.conv(F.substring(F.md5("t"), 29, 4), 16, 10).cast("long"))
    pdf = tok.toPandas()

    sims = {}
    src = {}
    for (doc, source), g in pdf.groupby(["doc_id", "source"]):
        s = 0
        for i in range(16):
            contrib = sum(1 if (int(h) >> i) & 1 else -1 for h in g["h"])
            if contrib > 0:
                s |= 1 << i
        sims[doc] = s
        src[doc] = source
    docs = sorted(sims)
    want = {}
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            if src[a] != src[b]:
                continue
            ham = bin(sims[a] ^ sims[b]).count("1")
            if ham <= 3:
                want[(a, b)] = ham
    assert got == want
    assert len(want) > 0


def test_ann_lsh_recall_and_shape(spark):
    from geojson_vt_spark.analytics import q_ann_cosine_topk
    from geojson_vt_spark.training import q_ann_cosine_topk_lsh

    exact = q_ann_cosine_topk(spark, SF).orderBy("rank").collect()
    lsh = q_ann_cosine_topk_lsh(spark, SF).orderBy("rank").collect()
    assert [r.asDict().keys() for r in lsh[:1]] == [r.asDict().keys() for r in exact[:1]]
    assert len(lsh) == 10
    # multi-probe at hamming<=3 over 8 bits keeps most true neighbors
    overlap = len({r.vec_id for r in exact} & {r.vec_id for r in lsh})
    assert overlap >= 5
    # every LSH hit's cosine is <= the exact best at the same rank
    for e, l in zip(exact, lsh):
        assert l.cos <= e.cos + 1e-9


def test_ann_ivf_full_probe_equals_exact(spark):
    """With nprobe == nlist the IVF candidate set is the whole corpus, so
    the result must EQUAL the brute-force exact top-k row for row (same
    rounding + tie order) — recall is purely the probe knob, precision is
    exact by construction."""
    from geojson_vt_spark.analytics import q_ann_cosine_topk
    from geojson_vt_spark.training import q_ann_cosine_topk_ivf

    exact = [tuple(r) for r in q_ann_cosine_topk(spark, SF).orderBy("rank").collect()]
    full = [
        tuple(r)
        for r in q_ann_cosine_topk_ivf(spark, SF, nlist=16, nprobe=16)
        .orderBy("rank")
        .collect()
    ]
    assert full == exact


def test_ann_ivf_oracle_and_pruning(spark):
    """Default nprobe=4/nlist=16: full-pipeline DuckDB replay matches, the
    inverted lists actually partition the corpus (so probing 4 lists prunes),
    and the probed result keeps most of the exact top-k."""
    from geojson_vt_spark.analytics import q_ann_cosine_topk
    from geojson_vt_spark.training import (
        _ivf_centroids,
        _ivf_rank_structs,
        _t,
        q_ann_cosine_topk_ivf,
    )

    from .oracle_harness import run_all

    res = run_all(spark, SF, names={"ann_cosine_topk_ivf"})
    assert res["ann_cosine_topk_ivf"].get("hash_match"), res["ann_cosine_topk_ivf"]

    e = _t(spark, SF, "embeddings")
    cents = _ivf_centroids(e, 16)
    assert len(cents) == 16
    lists = e.select(_ivf_rank_structs(cents)[0]["rk"].alias("list_id"))
    n_lists = lists.distinct().count()
    assert n_lists > 4  # probing 4 of them is a proper subset of the corpus

    got = q_ann_cosine_topk_ivf(spark, SF).collect()
    assert len(got) == 10
    exact = q_ann_cosine_topk(spark, SF).collect()
    overlap = len({r.vec_id for r in exact} & {r.vec_id for r in got})
    assert overlap >= 5


def test_embedding_near_dup_detects_planted_dups(spark):
    import numpy as np

    from geojson_vt_spark.training import embedding_near_dup_pairs

    rng_free = [
        [float(((i * 37 + d * 11) % 97) / 97.0 - 0.5) for d in range(64)]
        for i in range(20)
    ]
    rows = [(i, v) for i, v in enumerate(rng_free)]
    # plant: 100+i is a tiny perturbation of i for i in 0..4
    for i in range(5):
        v = list(rng_free[i])
        v[0] += 1e-4
        rows.append((100 + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.vec_a, r.vec_b) for r in embedding_near_dup_pairs(df, 0.99).collect()
    }
    assert {(i, 100 + i) for i in range(5)} <= got
    # no false positives among the independent vectors
    E = np.array(rng_free)
    E = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = E @ E.T
    np.fill_diagonal(S, 0)
    truly_close = {(i, j) for i in range(20) for j in range(20) if i < j and S[i, j] >= 0.99}
    indep_hits = {(a, b) for a, b in got if a < 100 and b < 100}
    assert indep_hits == truly_close


def test_embedding_near_dup_on_corpus_planted(spark):
    """The corpus itself has no near-dups (max pairwise cosine ~0.5), so the
    driver query plants a deterministic perturbed twin per vector; the result
    must be EXACTLY the planted pairs — banded multi-probe recall is total on
    this corpus (signature Hamming <= 2 <= n_bands-1) and no independent
    pair reaches the 0.9 threshold."""
    from pyspark.sql import functions as F

    from geojson_vt_spark.training import q_embedding_near_dup

    got = {(r.vec_a, r.vec_b) for r in q_embedding_near_dup(spark, SF).collect()}
    n = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .agg(F.count(F.lit(1)))
        .collect()[0][0]
    )
    vec_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    assert got == {(v, v + 1_000_000) for v in vec_ids}
    assert len(got) == n


def test_media_decode_plumbing(spark):
    from geojson_vt_spark.sources.media import decode_media, media_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = media_from_documents(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    decoded = decode_media(media).cache()
    n = docs.count()
    assert decoded.count() == n
    img = decoded.filter(F.col("kind") == "image")
    assert img.filter(F.col("width").isNull() | F.col("height").isNull()).count() == 0
    vid = decoded.filter(F.col("kind") == "video").collect()
    for r in vid:
        assert r.sampled_frames == list(range(0, r.n_frames, 5))
    aud = decoded.filter(F.col("kind") == "audio")
    assert aud.filter(F.col("n_samples") != F.col("n_bytes") * 4).count() == 0
    decoded.unpersist()


def test_media_decode_batch_matches_scalar(spark):
    """The vectorized (numpy mask/modular) kernel must reproduce the scalar
    stub decoders row for row — the same batched==scalar twin discipline as
    the clip/tile kernels."""
    from geojson_vt_spark.sources.media import (
        _fake_decode_audio,
        _fake_decode_image,
        _fake_decode_video,
        decode_media,
        media_from_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = media_from_documents(docs)
    payloads = {r.doc_id: (r.kind, bytes(r.payload)) for r in media.collect()}
    got = {r.doc_id: r for r in decode_media(media, frame_stride=5).collect()}
    assert set(got) == set(payloads)
    for doc_id, (kind, payload) in payloads.items():
        r = got[doc_id]
        assert r.n_bytes == len(payload)
        if kind == "image":
            assert (r.width, r.height) == _fake_decode_image(payload)
            assert r.n_samples is None and r.n_frames is None
            assert r.sampled_frames is None
        elif kind == "audio":
            assert (r.n_samples, r.sample_rate) == _fake_decode_audio(payload)
            assert r.width is None and r.n_frames is None
        else:
            w, h, nf = _fake_decode_video(payload)
            assert (r.width, r.height, r.n_frames) == (w, h, nf)
            assert r.sampled_frames == list(range(0, nf, 5))
            assert r.n_samples is None


def test_media_decode_degenerate_batches(spark):
    """Regression (review finding): a batch whose video rows all produce
    EQUAL-LENGTH sampled_frames lists used to crash the vectorized kernel —
    numpy promoted the list-of-lists to a 2-D array and the boolean-mask
    assignment raised. Two trigger shapes: a batch holding exactly one
    video row, and frame_stride >= 30 (every list is [0])."""
    from geojson_vt_spark.sources.media import decode_media, media_from_documents

    # one video row only (doc_id % 3 == 2)
    solo = spark.createDataFrame([(2, "hello world")], "doc_id long, text string")
    got = decode_media(media_from_documents(solo)).collect()
    assert got[0].kind == "video"
    assert got[0].sampled_frames == list(range(0, got[0].n_frames, 5))

    # frame_stride past the max frame count: every sampled list is [0]
    docs = spark.createDataFrame(
        [(2, "aa"), (5, "bbbb"), (8, "cc"), (11, "dddddd")],
        "doc_id long, text string",
    )
    rows = decode_media(media_from_documents(docs), frame_stride=40).collect()
    assert all(r.sampled_frames == [0] for r in rows)


def test_update_stream_watermark_survives_midbatch_failure(spark):
    """Regression (review finding): the seq watermark must advance AS EACH
    diff is applied, not once after the loop — foreachBatch is at-least-once,
    so if a later diff in the batch raises, the retry must still see the
    seqs already applied to engine state (else it re-applies them silently)."""
    import json as _json

    import pytest

    from geojson_vt_spark.streaming.update_stream import apply_diff_batch

    class FakeEngine:
        def __init__(self):
            self.applied = []

        def update_data(self, diff):
            if diff.get("boom"):
                raise RuntimeError("planted mid-batch failure")
            self.applied.append(diff["tag"])

    eng = FakeEngine()
    eng._diff_seq_watermark = 5
    batch = spark.createDataFrame(
        [
            (6, _json.dumps({"tag": "six"})),
            (7, _json.dumps({"tag": "seven", "boom": True})),
        ],
        "seq long, diff string",
    )
    with pytest.raises(RuntimeError, match="planted"):
        apply_diff_batch(eng, batch)
    # seq 6 WAS applied — the watermark must already record it, so the
    # at-least-once retry of this batch warns instead of double-applying
    assert eng.applied == ["six"]
    assert eng._diff_seq_watermark == 6
    with pytest.warns(UserWarning, match="watermark"):
        apply_diff_batch(
            eng,
            spark.createDataFrame([(6, _json.dumps({"tag": "six"}))], "seq long, diff string"),
        )


def test_streaming_heatmap_matches_batch(spark, tmp_path):
    import shutil

    from geojson_vt_spark.streaming.tile_stream import run_to_memory
    from geojson_vt_spark.training import q_events_tile_heatmap

    # file-stream sources take a directory of arriving files
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", stream_dir / "part-000.parquet")
    run_to_memory(spark, str(stream_dir), table="t_heatmap_test")
    stream_rows = {
        tuple(r) for r in spark.table("t_heatmap_test").collect()
    }
    batch_rows = {tuple(r) for r in q_events_tile_heatmap(spark, SF).collect()}
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0


def test_streaming_stateful_dedup_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): first-seen dedup
    keyed on content hash. The corpus is split into several files and
    drained one file per micro-batch, so cross-batch GroupState is what
    suppresses re-admission; result must equal the batch twin, and planted
    cross-batch duplicates must be admitted exactly once."""
    from geojson_vt_spark.streaming.dedup_stream import (
        first_seen_dedup_batch,
        run_dedup_to_memory,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # split into 3 arriving files BY doc_id range (batch order == id order,
    # so each duplicate group's min-id doc arrives first — the property the
    # stream/batch equality rests on); plant duplicates of early docs into
    # the LAST batch (new doc_ids, same text -> suppressed by state)
    n_half = docs.count() // 2
    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    docs.where(F.col("doc_id") < n_half).coalesce(1).write.parquet(
        str(stream_dir / "b0")
    )
    docs.where(F.col("doc_id") >= n_half).coalesce(1).write.parquet(
        str(stream_dir / "b1")
    )
    dupes = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    dupes.coalesce(1).write.parquet(str(stream_dir / "b2"))

    # flatten: file source watches one dir; explicit increasing mtimes pin
    # the micro-batch order
    import glob as _glob
    import os
    import shutil
    import time

    flat = tmp_path / "docs_flat"
    flat.mkdir()
    now = time.time()
    for i, sub in enumerate(("b0", "b1", "b2")):
        src = _glob.glob(str(stream_dir / sub / "part-*.parquet"))[0]
        dst = flat / f"part-{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    run_dedup_to_memory(spark, str(flat), table="t_dedup_test", max_files=1)
    got = {tuple(r) for r in spark.table("t_dedup_test").collect()}

    everything = docs.unionByName(spark.read.parquet(str(flat)).where(
        F.col("doc_id") >= 10_000_000
    ))
    expect = {tuple(r) for r in first_seen_dedup_batch(everything).collect()}
    assert got == expect
    assert len(got) > 0
    # no planted duplicate admitted (its original text was seen earlier)
    assert all(doc_id < 10_000_000 for _, doc_id, _ in got)


def test_connected_components_star_chain_logn_rounds(spark):
    """Adversarial-diameter graph: a 4096-vertex chain. Star contraction
    must converge in O(log n) driver-synced rounds (label propagation would
    pay O(n)) and label every vertex with the component minimum."""
    import math

    from pyspark.sql import functions as F

    from geojson_vt_spark.training import connected_components_star

    n = 4096
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats = {}
    labels = connected_components_star(edges, _stats=stats)
    bad = labels.where(F.col("cluster_rep") != 0).count()
    total = labels.count()
    assert bad == 0 and total == n
    assert stats["star_rounds"] <= 3 * int(math.log2(n)) + 5, stats


def test_connected_components_auto_escalates_and_matches(spark, monkeypatch):
    """A long chain exhausts the label-propagation round budget and
    finishes via star contraction, labelling every vertex with its
    component minimum."""
    from pyspark.sql import functions as F

    from geojson_vt_spark import training
    from geojson_vt_spark.training import connected_components

    monkeypatch.setattr(training, "_CC_ROUND_BUDGET", 3)
    n = 300
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).union(spark.createDataFrame([(9000, 9001), (9001, 9002)], ["src", "dst"]))
    stats = {}
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(edges, _stats=stats).collect()
    }
    assert stats["escalated"] is True and stats["label_rounds"] == 3, stats
    want = {i: 0 for i in range(n)}
    want.update({9000: 9000, 9001: 9000, 9002: 9000})
    assert got == want


def test_connected_components_star_matches_label_on_pair_graph(spark):
    """Star contraction and label propagation agree on a realistic near-dup
    shape (cliques + a bridge + isolated pair), which label propagation
    finishes inside its round budget."""
    from geojson_vt_spark.training import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 7), (7, 8), (20, 21), (40, 41), (41, 40)],
        ["src", "dst"],
    )
    a = {
        r.doc_id: r.cluster_rep
        for r in connected_components_star(edges).collect()
    }
    stats = {}
    b = {
        r.doc_id: r.cluster_rep
        for r in connected_components(edges, _stats=stats).collect()
    }
    assert stats["escalated"] is False
    assert a == b
    assert a[8] == 1 and a[21] == 20 and a[41] == 40


def test_connected_components_star_matches_dedup_cluster_cc(spark):
    """Star contraction over q_dedup_cluster_cc's own pair graph (the r=1
    exact-recall minhash pairs) gives exactly q_dedup_cluster_cc's rows,
    so the DuckDB closure oracle that gates the query gates the star
    engine too."""
    from geojson_vt_spark.training import (
        _docs_tokens,
        connected_components_star,
        minhash_lsh_pairs,
        q_dedup_cluster_cc,
    )

    pairs = minhash_lsh_pairs(
        _docs_tokens(spark, SF), threshold=0.5, n_hashes=16, n_bands=16,
        bucket_cap=None,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    star = sorted(tuple(r) for r in connected_components_star(pairs).collect())
    want = sorted(tuple(r) for r in q_dedup_cluster_cc(spark, SF).collect())
    assert star == want
    assert any(doc != rep for doc, rep in want)


def test_ann_join_oracle_and_plan(spark):
    """Batch-query ANN join: full-pipeline DuckDB replay matches
    (rows+schema+hash) and the candidate plan is banded equi-joins — never a
    cartesian/nested-loop product."""
    from geojson_vt_spark.training import q_ann_join

    from .oracle_harness import run_all

    res = run_all(spark, SF, names={"ann_join"})
    assert res["ann_join"].get("hash_match"), res["ann_join"]

    plan = q_ann_join(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_join_topk_per_query_exact_on_candidates(spark):
    """Every returned neighbor list is correctly ranked and sized <= k, and
    ranks are dense starting at 1 per query."""
    from collections import defaultdict

    from geojson_vt_spark.training import q_ann_join

    rows = q_ann_join(spark, SF).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.q_id].append((r.rank, r.cos))
    assert len(by_q) == 8
    for q, lst in by_q.items():
        lst.sort()
        assert [r for r, _ in lst] == list(range(1, len(lst) + 1))
        coss = [c for _, c in lst]
        assert coss == sorted(coss, reverse=True)
        assert len(lst) <= 5


def test_round4_oracles_match_duckdb(spark):
    """Round-4 oracle promotions: the geodesic radius join (sphere cells),
    O7 wrap offsets, and O14 js_round quantization."""
    from .oracle_harness import run_all

    names = {"geo_radius_join", "wrap_offsets", "tile_quantize"}
    res = run_all(spark, SF, names=names)
    assert set(res) == names
    bad = {k: v for k, v in res.items() if not v.get("hash_match")}
    assert not bad, bad


def test_wrap_offsets_matches_kernel(spark):
    """The O7 3-branch Column form must equal the REAL wrap kernel
    (convert_geojson -> wrap_features) run over the same points."""
    from geojson_vt_spark.analytics import q_wrap_offsets
    from geojson_vt_spark.config import Options
    from geojson_vt_spark.functions.convert import convert_geojson
    from geojson_vt_spark.functions.wrap import wrap_features

    got = {
        (r.event_id, r.wcopy): (r.wx, r.wy)
        for r in q_wrap_offsets(spark, SF).collect()
    }

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "value").collect()
    opts = Options()
    feats = []
    for r in ev:
        lon = (r.value % 360.0) - 180.0
        lat = (r.value % 170.0) - 85.0
        geo = {
            "type": "Feature",
            "id": int(r.event_id),
            "properties": None,
            "geometry": {"type": "Point", "coordinates": [lon, lat]},
        }
        feats.extend(convert_geojson(geo, opts))
    want = {}
    for wcopy, f in wrap_features(feats, opts):
        pts = f["rings"][0]["pts"]
        want[(int(f["id"]), int(wcopy))] = (float(pts[0]), float(pts[1]))
    assert set(got) == set(want)
    for k, (wx, wy) in want.items():
        gx, gy = got[k]
        assert abs(gx - wx) < 1e-9 and abs(gy - wy) < 1e-9, k


def test_tile_quantize_matches_kernel(spark):
    """The O14 Column js_round must equal the kernel js_round (ECMA
    Math.round) on the same projected coordinates."""
    import numpy as np

    from geojson_vt_spark.analytics import q_tile_quantize
    from geojson_vt_spark.functions.projection import project_x, project_y
    from geojson_vt_spark.functions.tile import js_round

    got = {
        r.event_id: (r.tx, r.ty, r.ix, r.iy)
        for r in q_tile_quantize(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "value").collect()
    z2, extent = 1024, 4096.0
    for r in ev:
        lon = (r.value % 360.0) - 180.0
        lat = (r.value % 170.0) - 85.0
        x, y = project_x(lon), project_y(lat)
        tx = min(int(np.floor(x * z2)), z2 - 1)
        ty = min(int(np.floor(y * z2)), z2 - 1)
        ix = int(js_round(np.array([extent * (x * z2 - tx)]))[0])
        iy = int(js_round(np.array([extent * (y * z2 - ty)]))[0])
        assert got[r.event_id] == (tx, ty, ix, iy), r.event_id


def test_round4b_oracles_match_duckdb(spark):
    """Late round-4 oracle promotions: O5 ring metrics (shoelace/length as
    window math), O15 x-wrap serving math, O20 cluster-id codec."""
    from .oracle_harness import run_all

    names = {"ring_metrics", "xwrap_serve", "cluster_id_codec"}
    res = run_all(spark, SF, names=names)
    assert set(res) == names
    bad = {k: v for k, v in res.items() if not v.get("hash_match")}
    assert not bad, bad


def test_ring_metrics_matches_kernel(spark):
    """The O5 window-math Column form must equal the REAL convert kernel's
    `size` accumulation (convert.ts:153-183 / functions/convert.py
    _convert_ring): per user, a LineString of the ordered raw lon/lat points
    yields size == path_len, and a Polygon ring of the same points yields
    size == ring_area (the kernel never inserts a closing segment, so the
    open sequence compares 1:1)."""
    from collections import defaultdict

    from geojson_vt_spark.analytics import q_ring_metrics
    from geojson_vt_spark.config import Options
    from geojson_vt_spark.functions.convert import convert_geojson

    got = {
        r.user_id: (r.path_len, r.ring_area)
        for r in q_ring_metrics(spark, SF).collect()
    }

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "user_id", "value")
        .collect()
    )
    pts = defaultdict(list)
    for r in sorted(ev, key=lambda r: r.event_id):
        lon = (r.value % 360.0) - 180.0
        lat = (r.value % 170.0) - 85.0
        pts[r.user_id].append([lon, lat])
    assert set(got) == set(pts)

    opts = Options(tolerance=0)  # no DP annotation; size math is unaffected
    for uid, coords in pts.items():
        line = convert_geojson(
            {"type": "Feature", "properties": None,
             "geometry": {"type": "LineString", "coordinates": coords}},
            opts,
        )[0]
        poly = convert_geojson(
            {"type": "Feature", "properties": None,
             "geometry": {"type": "Polygon", "coordinates": [coords]}},
            opts,
        )[0]
        want_len = line["rings"][0]["size"]
        want_area = poly["rings"][0]["size"]
        assert abs(got[uid][0] - want_len) < 1e-9, uid
        assert abs(got[uid][1] - want_area) < 1e-9, uid


def test_cluster_id_codec_round_trips(spark):
    """getOriginId/getOriginZoom must invert the encode for every row:
    origin_id == the encoded index, origin_zoom == zoom + 1
    (cluster-tile-index.ts:415,461-468)."""
    from geojson_vt_spark.analytics import q_cluster_id_codec

    rows = q_cluster_id_codec(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.origin_id == r.event_id, r
        assert r.origin_zoom == (r.event_id % 24) + 1, r


def test_repetition_cols_planted_values(spark):
    """Gopher-style repetition signals on planted texts: an all-repeat doc,
    a no-repeat doc, and the single-token guard (no bigrams -> 0.0, not a
    negative-range sequence)."""
    from pyspark.sql import functions as F

    from geojson_vt_spark.analytics import repetition_cols

    d = spark.createDataFrame(
        [(1, "a a a a"), (2, "x y z w"), (3, "solo")],
        "doc_id long, text string",
    )
    rc = repetition_cols()
    rows = {
        r.doc_id: (r.dup, r.top)
        for r in d.select(
            "doc_id",
            rc["dup_bigram_ratio"].alias("dup"),
            rc["top_token_ratio"].alias("top"),
        ).collect()
    }
    assert rows[1] == (round(1.0 - 1.0 / 3.0, 9), 1.0)  # 3 bigrams, 1 distinct
    assert rows[2] == (0.0, 0.25)
    assert rows[3] == (0.0, 1.0)  # single token: guard path


def test_sessionize_events_gap_boundary(spark):
    """Hand-built timeline: gaps exactly AT the threshold stay in-session,
    one microsecond over starts a new one; entities are independent."""
    import datetime as dt

    from geojson_vt_spark.training import sessionize_events

    t0 = dt.datetime(2024, 1, 1)
    us = lambda micros: t0 + dt.timedelta(microseconds=micros)  # noqa: E731
    GAP = 1_000_000  # 1s sessions for the test
    rows = [
        # user 1: 0, +GAP (exactly at threshold -> same session),
        # then +GAP+1 (over -> new session)
        (1, 1, us(0), 1.0),
        (2, 1, us(GAP), 2.0),
        (3, 1, us(2 * GAP + 1), 4.0),
        # user 2: single event
        (4, 2, us(500), 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us, r.total_value)
        for r in sessionize_events(df, gap_us=GAP).collect()
    }
    # compare relative spans (absolute epoch depends only on the NTZ diff,
    # identical across rows)
    base = got[(1, 1)][1]
    assert got[(1, 1)][0] == 2 and got[(1, 1)][3] == 3.0
    assert got[(1, 1)][2] - base == GAP
    assert got[(1, 2)][0] == 1 and got[(1, 2)][1] - base == 2 * GAP + 1
    assert got[(2, 1)][0] == 1 and got[(2, 1)][3] == 8.0


def test_sessionize_value_col_generic(spark):
    """ADVICE r4: the operator must not hardcode a 'value' column — a
    value-less events table sessionizes without total_value, and a custom
    value_col sums the named measure."""
    import datetime as dt

    from geojson_vt_spark.training import sessionize_events

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, 1, t0), (2, 1, t0 + dt.timedelta(seconds=1))]
    bare = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )
    got = sessionize_events(bare, gap_us=2_000_000).collect()
    assert len(got) == 1 and got[0].n_events == 2
    assert "total_value" not in got[0].asDict()

    named = spark.createDataFrame(
        [r + (3.5,) for r in rows],
        "event_id long, user_id long, ts timestamp_ntz, amount double",
    )
    [row] = sessionize_events(
        named, gap_us=2_000_000, value_col="amount"
    ).collect()
    assert row.total_value == 7.0


def test_sessionize_rejects_unknown_value_col(spark):
    """A misspelled explicit value_col raises instead of silently dropping
    total_value; only the default "value" may be absent."""
    import datetime as dt

    import pytest

    from geojson_vt_spark.training import sessionize_events

    named = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), 3.5)],
        "event_id long, user_id long, ts timestamp_ntz, amount double",
    )
    with pytest.raises(ValueError, match="amout"):
        sessionize_events(named, value_col="amout")
    [row] = sessionize_events(named).collect()
    assert "total_value" not in row.asDict()


def test_sessionize_single_exchange(spark):
    """Scale gate: the lag window, running sum, and per-session aggregate
    must share ONE hash exchange on the entity (exchange reuse), with no
    join anywhere."""
    from geojson_vt_spark.training import q_event_sessions

    plan = (
        q_event_sessions(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Native session_window + watermark streaming aggregation over a
    multi-micro-batch drain must produce the same session set as the batch
    sessionize_events (keys: user, start/end event micros, count, value
    sum). Equality also certifies the synthetic data holds no exact
    gap-boundary tie (the one documented semantic difference)."""
    import os
    import shutil
    import time

    from geojson_vt_spark.streaming.session_stream import run_sessions_to_memory
    from geojson_vt_spark.training import sessionize_events

    events = spark.read.parquet(f"{SF}/events.parquet")
    stream_dir = tmp_path / "events_sessions"
    stream_dir.mkdir()
    # two arriving files split by time so sessions SPAN micro-batches
    mid = events.approxQuantile("event_id", [0.5], 0.0)[0]
    now = time.time()
    for i, pred in enumerate((f"event_id < {mid}", f"event_id >= {mid}")):
        sub = tmp_path / f"ev{i}"
        events.where(pred).coalesce(1).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            tgt = stream_dir / f"e{i}.parquet"
            shutil.move(str(f), str(tgt))
            os.utime(tgt, (now + i, now + i))

    run_sessions_to_memory(
        spark, str(stream_dir), table="t_sessions_test", max_files_per_trigger=1
    )
    stream_rows = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.total_value)
        for r in spark.table("t_sessions_test").collect()
    }
    batch_rows = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.total_value)
        for r in sessionize_events(events).collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 100


def test_vocab_topk_counts_and_ties(spark):
    """Planted counts: ranks order by count desc then token asc; k cuts
    deterministically inside a tie group."""
    from geojson_vt_spark.analytics import vocab_topk

    df = spark.createDataFrame(
        [(1, "b a a c b a"), (2, "c b z")], ["doc_id", "text"]
    )
    got = [(r.rank, r.token, r.n) for r in vocab_topk(df, k=3).orderBy("rank").collect()]
    assert got == [(1, "a", 3), (2, "b", 3), (3, "c", 2)]
    # k=2 cuts inside the a/b tie -> keeps the lexicographically first
    got2 = [(r.token) for r in vocab_topk(df, k=2).orderBy("rank").collect()]
    assert got2 == ["a", "b"]


def test_vocab_topk_plan_heap_not_full_sort(spark):
    """Scale gate: the head rows come from TakeOrderedAndProject (bounded
    per-partition heap), never a global Sort of the vocabulary, and the
    count aggregate is partial (map-side combine)."""
    from geojson_vt_spark.analytics import q_vocab_topk

    plan = q_vocab_topk(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


# ---------------------------------------------------------------------------
# k-means embedding clustering (round 5)


def test_kmeans_oracle_matches_duckdb(spark):
    from .oracle_harness import run_all

    res = run_all(spark, SF, names={"kmeans_embeddings"})
    assert res["kmeans_embeddings"].get("hash_match"), res


def test_kmeans_partition_invariant(spark):
    """Lloyd on Spark must not depend on physical layout: 1-partition and
    16-partition inputs give identical assignments (the rounded-mean
    contract is what makes the sums layout-safe)."""
    from geojson_vt_spark.training import kmeans_embeddings

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(
        tuple(r) for r in kmeans_embeddings(e.repartition(16)).collect()
    )
    b = sorted(
        tuple(r) for r in kmeans_embeddings(e.coalesce(1)).collect()
    )
    assert a == b
    assert len({c for _v, c, _s in a}) > 1  # non-vacuous: multiple clusters


def test_kmeans_assignment_plan_no_join(spark):
    """Scale gate: centroids ride as literals, so the final assignment scan
    is pure Column math — no join, no cartesian; the only exchange in the
    whole query is the mean recompute's partial agg (and none at all in the
    returned assignment frame)."""
    from geojson_vt_spark.training import kmeans_embeddings

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = kmeans_embeddings(e, iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan


def test_kmeans_empty_clusters_keep_centroids(spark):
    """k larger than the number of distinct points: the unmatched ranks
    keep their previous centroids and the run still converges."""
    from geojson_vt_spark.training import kmeans_embeddings

    rows = [(i, [1.0, 0.0, 0.0, 0.0] if i < 3 else [0.0, 1.0, 0.0, 0.0])
            for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kmeans_embeddings(e, k=5, iters=3, dim=4).collect()
    assert len(got) == 6
    # the two point groups land in (at most two) coherent clusters
    by_group = {}
    for r in got:
        by_group.setdefault(r.vec_id < 3, set()).add(r.cluster)
    assert all(len(v) == 1 for v in by_group.values())


def test_kmeans_rejects_wrong_dim(spark):
    """`dim` is checked against the embedding width in both directions: a
    smaller value would truncate the centroids, a larger one would index
    past the observed positions."""
    import pytest

    from geojson_vt_spark.training import kmeans_embeddings

    rows = [(i, [float(i % 2), 1.0, 0.0, float(i)]) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for dim in (3, 5):
        with pytest.raises(ValueError, match=f"dim={dim}"):
            kmeans_embeddings(e, k=2, iters=1, dim=dim)
    assert len(kmeans_embeddings(e, k=2, iters=1, dim=4).collect()) == 6


# ---------------------------------------------------------------------------
# SemDeDup endpoint (round 5)


def test_semantic_dedup_oracle_matches_duckdb(spark):
    from .oracle_harness import run_all

    res = run_all(spark, SF, names={"semantic_dedup_keep"})
    assert res["semantic_dedup_keep"].get("hash_match"), res


def test_semantic_dedup_drops_planted_twins(spark):
    """On the planted-twin driver corpus: every kept group representative
    is an original (min id), the keep-list loses about one member per twin
    pair, and kept ids are unique."""
    from geojson_vt_spark.training import q_semantic_dedup_keep

    kept = q_semantic_dedup_keep(spark, SF).collect()
    ids = [r.vec_id for r in kept]
    assert len(ids) == len(set(ids))
    n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    # aug corpus = 2*n_vec; at least 80% of twin pairs collapse (the
    # remainder may straddle a k-means boundary — SemDeDup's own trade)
    n_dropped = 2 * n_vec - len(ids)
    assert n_dropped >= int(0.8 * n_vec), (n_dropped, n_vec)
    # a dropped twin's original must itself be kept
    kept_set = set(ids)
    for i in range(n_vec):
        if i + 1_000_000 not in kept_set:
            assert i in kept_set, i


def test_near_dup_groups_restricts_search(spark):
    """Identical vectors in DIFFERENT groups are never candidates — the
    cluster id is part of the band join key, not a post-filter."""
    from geojson_vt_spark.training import embedding_near_dup_pairs

    v = [1.0] + [0.0] * 63
    e = spark.createDataFrame(
        [(1, v), (2, v), (3, v)], "vec_id long, embedding array<float>"
    )
    same = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "vec_id long, cluster long"
    )
    split = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 0)], "vec_id long, cluster long"
    )
    got_same = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(e, 0.99, groups=same).collect()
    }
    assert got_same == {(1, 2), (1, 3), (2, 3)}
    got_split = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(e, 0.99, groups=split).collect()
    }
    assert got_split == {(1, 3)}


def test_semantic_dedup_clean_corpus_keeps_everything(spark):
    """On the raw corpus (no planted twins, max natural cosine ~0.6) the
    endpoint at the strict default threshold keeps every vector, one row
    each, with its k-means cluster attached."""
    from geojson_vt_spark.training import semantic_dedup_keep

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    kept = semantic_dedup_keep(e).collect()
    assert len(kept) == e.count()
    assert all(r.cluster >= 1 for r in kept)
