"""Corpus-hygiene operators (hygiene.py): oracle parity, planted-value
behavior, and scale-shape plan gates."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_hygiene_oracles_match_duckdb(spark):
    from .oracle_harness import run_all

    names = {
        "decontaminate",
        "line_dedup",
        "pii_scrub",
        "sequence_pack",
        "doc_chunks",
        "mixture_sample",
    }
    res = run_all(spark, SF, names=names)
    assert set(res) == names
    bad = {k: v for k, v in res.items() if not v.get("hash_match")}
    assert not bad, bad


# ---------------------------------------------------------------------------
# decontaminate


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_decontaminate_flags_exact_overlap(spark):
    from geojson_vt_spark.hygiene import decontaminate

    evals = _mkdocs(spark, [(100, "a b c d e f g h i j")])
    corpus = _mkdocs(
        spark,
        [
            # contains eval shingle "a b c d e f g h" verbatim
            (1, "x y a b c d e f g h z"),
            # same tokens but one substitution breaks every width-8 shingle
            (2, "x y a b c d Q f g h z"),
            # too short to carry any shingle
            (3, "a b c"),
        ],
    )
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontaminate(corpus, evals).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)


def test_decontaminate_counts_distinct_shared_shingles(spark):
    from geojson_vt_spark.hygiene import decontaminate

    evals = _mkdocs(spark, [(100, "a b c d e f g h i")])  # 2 shingles
    corpus = _mkdocs(spark, [(1, "a b c d e f g h i")])  # shares both
    [row] = decontaminate(corpus, evals).collect()
    assert (row.n_hits, row.contaminated) == (2, True)


def test_decontaminate_plan_broadcasts_eval_side(spark):
    """Scale gate: the eval shingle table joins as a broadcast, so the
    corpus never shuffles through a shingle SortMergeJoin and no cartesian
    appears; the hit table's join back is AQE's choice, and at this size
    the executed plan broadcasts it."""
    from geojson_vt_spark.hygiene import q_decontaminate

    df = q_decontaminate(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [shingle" in plan
    assert "SortMergeJoin [shingle" not in plan
    assert "CartesianProduct" not in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert any(
        "BroadcastHashJoin" in ln and "LeftOuter" in ln
        for ln in final.split("\n")
    ), final


# ---------------------------------------------------------------------------
# line_dedup


def test_line_dedup_removes_only_frequent_lines(spark):
    from geojson_vt_spark.hygiene import line_dedup

    boiler = " ".join(f"b{i}" for i in range(10))
    uniq = [" ".join(f"u{d}_{i}" for i in range(10)) for d in range(6)]
    # boilerplate line appears in 4 docs (> max_count=3); unique lines once
    rows = [(d, f"{boiler} {uniq[d]}") for d in range(4)] + [
        (4, uniq[4]),
        (5, f"{uniq[5]} {boiler}"),  # 5th occurrence, trailing position
    ]
    got = {
        r.doc_id: (r.n_lines, r.n_kept)
        for r in line_dedup(_mkdocs(spark, rows)).collect()
    }
    for d in range(4):
        assert got[d] == (2, 1)
    assert got[4] == (1, 1)
    assert got[5] == (2, 1)


def test_line_dedup_threshold_boundary(spark):
    """Exactly max_count occurrences survive; max_count+1 is removed."""
    from geojson_vt_spark.hygiene import line_dedup

    line = " ".join(f"t{i}" for i in range(10))
    rows = [(d, line) for d in range(3)]  # count == max_count == 3 -> kept
    got = line_dedup(_mkdocs(spark, rows)).collect()
    assert all(r.n_kept == 1 for r in got)
    rows.append((3, line))  # count 4 -> removed everywhere
    got = line_dedup(_mkdocs(spark, rows)).collect()
    assert all(r.n_kept == 0 for r in got)


def test_line_dedup_preserves_order_of_kept_lines(spark):
    from geojson_vt_spark.hygiene import line_dedup
    import hashlib

    boiler = " ".join(f"b{i}" for i in range(10))
    l1 = " ".join(f"p{i}" for i in range(10))
    l2 = " ".join(f"q{i}" for i in range(10))
    rows = [(d, boiler) for d in range(4)] + [(9, f"{l1} {boiler} {l2}")]
    [row] = [r for r in line_dedup(_mkdocs(spark, rows)).collect() if r.doc_id == 9]
    assert row.kept_md5 == hashlib.md5(f"{l1}\n{l2}".encode()).hexdigest()


def _line_dedup_reference(rows, line_tokens=10, max_count=3):
    """Pure-Python frequent-line removal: the doc_lines split, per-line
    document counts (a line repeated inside one doc counts each time, as in
    the Spark explode), then each doc's surviving lines in order."""
    import collections
    import hashlib
    import math

    lines = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        lines[doc_id] = [
            " ".join(toks[j * line_tokens:(j + 1) * line_tokens])
            for j in range(math.ceil(len(toks) / line_tokens))
        ]
    freq = collections.Counter(ln for ls in lines.values() for ln in ls)
    out = []
    for doc_id, ls in lines.items():
        kept = [ln for ln in ls if freq[ln] <= max_count]
        out.append((
            doc_id, len(ls), len(kept),
            hashlib.md5("\n".join(kept).encode()).hexdigest(),
        ))
    return sorted(out)


def test_line_dedup_engines_equal(spark):
    """The join engine must produce row-identical output to a pure-Python
    reference, including on mixed kept/dropped ordering and on a corpus
    where EVERY line is over threshold (every doc survives as an empty
    rebuild)."""
    from geojson_vt_spark.hygiene import line_dedup

    boiler = [" ".join(f"b{k}_{i}" for i in range(10)) for k in range(6)]
    uniq = [" ".join(f"u{d}_{i}" for i in range(10)) for d in range(8)]
    rows = [
        (d, f"{boiler[d % 6]} {uniq[d]} {boiler[(d + 1) % 6]}")
        for d in range(8)
    ] + [(100 + d, boiler[d % 6]) for d in range(24)]  # every boiler 5x+
    key = lambda r: (r.doc_id, r.n_lines, r.n_kept, r.kept_md5)  # noqa: E731
    got = sorted(map(key, line_dedup(_mkdocs(spark, rows)).collect()))
    assert got == _line_dedup_reference(rows)
    assert any(n_kept < n_lines for _, n_lines, n_kept, _ in got)
    all_boiler = [(d, boiler[0]) for d in range(5)]
    got = sorted(map(key, line_dedup(_mkdocs(spark, all_boiler)).collect()))
    assert got == _line_dedup_reference(all_boiler)
    import hashlib

    assert all(
        (n_lines, n_kept, md5) == (1, 0, hashlib.md5(b"").hexdigest())
        for _, n_lines, n_kept, md5 in got
    )


def test_line_dedup_plan_equi_join_on_line(spark):
    """Scale gate: frequent lines are marked by an equi-join on the line
    (AQE picks broadcast-hash or shuffle join by the frequent-line table's
    size) — never a cartesian or nested-loop join against the corpus."""
    from geojson_vt_spark.hygiene import q_line_dedup

    plan = q_line_dedup(spark, SF)._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.split("\n") if "Join" in ln]
    assert joins and all("[line#" in ln for ln in joins), joins
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# pii_scrub


def test_pii_cols_counts_and_redaction(spark):
    from geojson_vt_spark.hygiene import pii_cols

    df = spark.createDataFrame(
        [
            (1, "mail a.user@site.org and b@x.co call 555-0100 from 10.1.2.3"),
            (2, "no pii here"),
            (3, "ip only 192.168.0.1 and 8.8.8.8"),
        ],
        ["doc_id", "text"],
    )
    pc = pii_cols()
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pc["n_emails"].alias("e"),
            pc["n_phones"].alias("p"),
            pc["n_ips"].alias("i"),
            pc["redacted"].alias("red"),
        ).collect()
    }
    assert (got[1].e, got[1].p, got[1].i) == (2, 1, 1)
    assert got[1].red == "mail <EMAIL> and <EMAIL> call <PHONE> from <IP>"
    assert (got[2].e, got[2].p, got[2].i) == (0, 0, 0)
    assert got[2].red == "no pii here"
    assert (got[3].e, got[3].p, got[3].i) == (0, 0, 2)


def test_pii_ip_not_double_counted_as_phone(spark):
    """The phone pattern must not fire inside an IP octet pair, and an
    email's numeric local part must not count as phone/IP."""
    from geojson_vt_spark.hygiene import pii_cols

    df = spark.createDataFrame(
        [(1, "addr 10.0.0.123 mail 555-0199@host.com")], ["doc_id", "text"]
    )
    pc = pii_cols()
    [r] = df.select(
        pc["n_emails"].alias("e"), pc["n_phones"].alias("p"), pc["n_ips"].alias("i")
    ).collect()
    assert (r.e, r.p, r.i) == (1, 0, 1)


# ---------------------------------------------------------------------------
# sequence_pack


def test_sequence_pack_bin_math(spark):
    from geojson_vt_spark.hygiene import sequence_pack

    # per-source doc lengths: 100, 200, 30, 50 tokens with budget 256:
    # cum-starts 0, 100, 300, 330 -> bins 0, 0, 1, 1
    def txt(n):
        return " ".join("w" for _ in range(n))

    df = spark.createDataFrame(
        [
            ("s1", 1, txt(100)),
            ("s1", 2, txt(200)),
            ("s1", 3, txt(30)),
            ("s1", 4, txt(50)),
            ("s2", 9, txt(10)),
        ],
        ["source", "doc_id", "text"],
    )
    got = {
        (r.source, r.bin): (r.n_docs, r.n_tokens, r.first_doc, r.last_doc)
        for r in sequence_pack(df).collect()
    }
    assert got[("s1", 0)] == (2, 300, 1, 2)
    assert got[("s1", 1)] == (2, 80, 3, 4)
    assert got[("s2", 0)] == (1, 10, 9, 9)


def test_sequence_pack_sources_independent(spark):
    """A doc in one source never affects another source's bins."""
    from geojson_vt_spark.hygiene import sequence_pack

    big = " ".join("w" for _ in range(1000))
    small = "a b"
    df = spark.createDataFrame(
        [("s1", 1, big), ("s2", 2, small)], ["source", "doc_id", "text"]
    )
    got = {(r.source, r.bin) for r in sequence_pack(df).collect()}
    assert got == {("s1", 0), ("s2", 0)}


def test_sequence_pack_sharded_plan_shape(spark):
    """Scale gate (round-5): the two-level packer range-partitions
    the corpus (no per-source single-task window), joins the tiny offset
    table by BROADCAST only, and never plans a corpus-shuffle join or
    cartesian."""
    from geojson_vt_spark.hygiene import q_sequence_pack

    plan = q_sequence_pack(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sequence_pack_engines_equal(spark):
    """Exact bin equality between the two-level packer and the one-window
    reference (tests/util.py) on the real documents table, across shard
    counts (`spark.sql.shuffle.partitions`), including shard counts that cut
    sources mid-run."""
    from geojson_vt_spark.hygiene import _docs, sequence_pack

    from .util import sequence_pack_reference, session_conf

    docs = _docs(spark, SF)
    want = sorted(tuple(r) for r in sequence_pack_reference(docs).collect())
    for n_shards in (1, 3, 16):
        with session_conf(spark, {"spark.sql.shuffle.partitions": str(n_shards)}):
            got = sorted(tuple(r) for r in sequence_pack(docs).collect())
        assert got == want, n_shards


def test_sequence_pack_giant_source_multi_task(spark):
    """The r4 verdict's mega-source hazard: ONE source must pack across
    many tasks. Plant a single 4000-doc source, shard it 8 ways, and
    assert (a) the shard level actually spread the source over >1 range
    partition and (b) bins equal the one-window reference exactly."""
    from geojson_vt_spark.hygiene import _sharded_binned, sequence_pack

    from .util import sequence_pack_reference, session_conf

    df = spark.createDataFrame(
        [("s0", f"d{i:06d}", " ".join("w" for _ in range(i % 37 + 1)))
         for i in range(4000)],
        ["source", "doc_id", "text"],
    )
    base = df.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    want = sorted(tuple(r) for r in sequence_pack_reference(df).collect())
    with session_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        n_used = (
            _sharded_binned(base, 256, "doc_id", "source")
            .select("shard").distinct().count()
        )
        got = sorted(tuple(r) for r in sequence_pack(df).collect())
    assert n_used > 1, "giant source still serialized through one shard"
    assert got == want


def test_sequence_pack_sharded_without_exchange_reuse(spark):
    """Both levels of the two-level packer must read ONE sharding. With
    exchange reuse off, two evaluations of the range exchange sample
    different bounds (each input partition holds more rows than the
    sampler keeps), so an unpinned sharding mismatches local prefixes and
    per-shard totals."""
    from geojson_vt_spark.hygiene import sequence_pack

    from .util import sequence_pack_reference, session_conf

    df = spark.createDataFrame(
        [(f"s{i % 3}", f"d{i:06d}", " ".join("w" for _ in range(i % 37 + 1)))
         for i in range(6000)],
        "source string, doc_id string, text string",
    )
    want = sorted(tuple(r) for r in sequence_pack_reference(df).collect())
    for n_shards in (8, 16):
        with session_conf(spark, {
            "spark.sql.exchange.reuse": "false",
            "spark.sql.shuffle.partitions": str(n_shards),
        }):
            got = sorted(tuple(r) for r in sequence_pack(df).collect())
        assert got == want, n_shards


# ---------------------------------------------------------------------------
# doc_chunks


def test_doc_chunks_window_math(spark):
    """7 tokens, width 4, stride 3 -> chunks [1-4], [4-7]: window 1 reaches
    the document end, so no redundant tail window starts after it."""
    from geojson_vt_spark.hygiene import doc_chunks
    import hashlib

    df = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    got = sorted(
        (r.chunk_id, r.n_chunk_tokens, r.chunk_md5)
        for r in doc_chunks(df, width=4, stride=3).collect()
    )
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == [
        (0, 4, md5("a b c d")),
        (1, 4, md5("d e f g")),
    ]


def test_doc_chunks_cover_without_redundant_tail(spark):
    """Every token is covered and no chunk is a subrange of its
    predecessor, across lengths straddling the width/stride boundaries."""
    from geojson_vt_spark.hygiene import doc_chunks

    rows = [(n, " ".join(f"t{i}" for i in range(n))) for n in
            (1, 47, 48, 49, 63, 64, 65, 96, 97, 100, 112, 113)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    chunks = doc_chunks(df).collect()  # width 64, stride 48
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for n, _ in rows:
        cs = sorted(by_doc[n], key=lambda r: r.chunk_id)
        # coverage: last window start + its length reaches n
        last = cs[-1]
        assert last.chunk_id * 48 + last.n_chunk_tokens == n
        # no redundant tail: every window after the first starts before
        # the previous window's end
        for prev, cur in zip(cs, cs[1:]):
            assert cur.chunk_id * 48 < prev.chunk_id * 48 + prev.n_chunk_tokens
            # and contributes at least one new token
            assert cur.chunk_id * 48 + cur.n_chunk_tokens > (
                prev.chunk_id * 48 + prev.n_chunk_tokens
            )


def test_doc_chunks_short_doc_single_window(spark):
    from geojson_vt_spark.hygiene import doc_chunks

    df = spark.createDataFrame([(1, "only three tokens")], ["doc_id", "text"])
    got = doc_chunks(df).collect()
    assert len(got) == 1
    assert (got[0].chunk_id, got[0].n_chunk_tokens) == (0, 3)


def test_doc_chunks_no_shuffle_plan(spark):
    """Scale gate: chunking is a pure explode — no Exchange, no join."""
    from geojson_vt_spark.hygiene import q_doc_chunks

    plan = q_doc_chunks(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# mixture_sample


def _weights(spark, rows):
    return spark.createDataFrame(rows, ["source", "weight"])


def test_mixture_sample_rates_and_epochs(spark):
    """Hand-checked quota math: two sources, 100-token budget, weights 3:1
    -> quotas 75/25. s1 holds 50 tokens (quota 75 -> rate 1, epochs 2);
    s2 holds 250 tokens (quota 25 -> rate 0.1, epochs 1)."""
    from geojson_vt_spark.hygiene import mixture_sample

    def txt(n):
        return " ".join("w" for _ in range(n))

    docs = spark.createDataFrame(
        [("s1", 1, txt(20)), ("s1", 2, txt(30))]
        + [("s2", 10 + i, txt(25)) for i in range(10)],
        ["source", "doc_id", "text"],
    )
    got = {
        r.source: r
        for r in mixture_sample(
            docs, _weights(spark, [("s1", 3.0), ("s2", 1.0)]), 100
        ).collect()
    }
    assert (got["s1"].n_kept, got["s1"].tokens_kept) == (2, 50)
    assert got["s1"].rate == 1.0
    assert got["s1"].epochs == 2
    assert got["s2"].epochs == 1
    assert abs(got["s2"].rate - 0.1) < 1e-9
    # the hash draw is deterministic: replay it exactly in Python
    import hashlib

    expect = sum(
        1
        for i in range(10)
        if int(hashlib.md5(str(10 + i).encode()).hexdigest()[:8], 16)
        < got["s2"].rate * 4294967296.0
    )
    assert got["s2"].n_kept == expect


def test_mixture_sample_drops_unweighted_sources(spark):
    from geojson_vt_spark.hygiene import mixture_sample

    docs = spark.createDataFrame(
        [("s1", 1, "a b c"), ("s9", 2, "d e f")], ["source", "doc_id", "text"]
    )
    got = mixture_sample(docs, _weights(spark, [("s1", 1.0)]), 100).collect()
    assert {r.source for r in got} == {"s1"}


def test_mixture_sample_partition_invariant(spark):
    """The hash draw must give the same doc set regardless of input
    partitioning (the determinism contract shared with stratified_sample)."""
    from geojson_vt_spark.hygiene import mixture_sample, q_mixture_sample

    from geojson_vt_spark.hygiene import MIXTURE_BUDGET, default_mixture_weights

    a = q_mixture_sample(spark, SF).collect()
    d = spark.read.parquet(f"{SF}/documents.parquet").repartition(13)
    b = mixture_sample(d, default_mixture_weights(d), MIXTURE_BUDGET).collect()
    key = lambda r: (r.source, r.n_kept, r.tokens_kept, r.rate, r.epochs)  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_mixture_sample_plan_broadcast_only(spark):
    """Scale gate: the corpus joins only against broadcast dims (rates);
    no SortMergeJoin, no cartesian beyond the 1-row wsum broadcast."""
    from geojson_vt_spark.hygiene import q_mixture_sample

    plan = q_mixture_sample(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# streaming ingest-admission gate


def test_streaming_ingest_gate_matches_batch(spark, tmp_path):
    """The foreachBatch admission gate (quality + lang + decontamination)
    over a multi-micro-batch stream must admit exactly the same doc set as
    one batch pass, and the per-batch metrics must sum to the totals."""
    import os
    import time

    from geojson_vt_spark.streaming.ingest_stream import (
        admit_batch,
        run_ingest_to_memory,
    )

    filler = lambda d: " ".join(f"w{d}x{j}" for j in range(12))  # noqa: E731
    ev_toks = " ".join(f"evaltok{j}" for j in range(8))
    good = [(d, "web", f"the quick {filler(d)} and more") for d in range(12)]
    bad = [
        (100, "web", "tiny"),  # quality (min_chars=30)
        (101, "web", "les que eau est " + " ".join(f"z{j}" for j in range(12))),
        (102, "web", f"the quick {filler(31)} {ev_toks} and more"),  # leak
    ]
    evals = spark.createDataFrame(
        [(9000, ev_toks + " tail1 tail2 tail3")], ["doc_id", "text"]
    )

    def write_file(rows, sub, mtime):
        p = tmp_path / "ingest" / sub
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).selectExpr(
            "doc_id", "text", "CAST(NULL AS STRING) AS lang", "source",
            "CAST(length(text) AS LONG) AS n_chars",
        )
        df.coalesce(1).write.parquet(str(p))
        for f in p.glob("*.parquet"):
            os.utime(f, (mtime, mtime))
        return p

    (tmp_path / "ingest").mkdir()
    flat = tmp_path / "ingest_flat"
    flat.mkdir()
    now = time.time()
    for i, (rows, sub) in enumerate(
        [(good[:6], "b0"), (good[6:] + bad, "b1")]
    ):
        p = write_file(rows, sub, now + i)
        for f in p.glob("*.parquet"):
            tgt = flat / f"{sub}.parquet"
            f.rename(tgt)
            os.utime(tgt, (now + i, now + i))

    _, metrics = run_ingest_to_memory(
        spark, str(flat), evals, table="t_admit_test",
        min_chars=30, langs=("en",), max_files_per_trigger=1,
    )
    stream_ids = {r.doc_id for r in spark.table("t_admit_test").collect()}
    assert stream_ids == {d for d, _, _ in good}
    assert len(metrics) >= 2  # maxFilesPerTrigger forced multiple batches
    assert sum(m["docs_in"] for m in metrics) == 15
    assert sum(m["admitted"] for m in metrics) == 12

    # batch twin over the union of all arrived files — same admitted set
    full = spark.createDataFrame(
        good + bad, "doc_id long, source string, text string"
    )
    batch_admitted, stage = admit_batch(full, evals, min_chars=30, langs=("en",))
    assert {r.doc_id for r in batch_admitted.collect()} == stream_ids
    assert stage["docs_in"] == 15
    assert stage["quality_passed"] == 14  # drops 100
    assert stage["lang_passed"] == 13     # drops 101; leak falls later


def test_line_dedup_null_text_consistent_across_engines(spark):
    """Null-text docs are excluded from the output, not silently dropped by
    the posexplode alone (the oracle's documents carry no nulls)."""
    from geojson_vt_spark.hygiene import line_dedup

    l1 = " ".join(f"n{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, l1), (2, None), (3, l1)], "doc_id long, text string"
    )
    got = {r.doc_id for r in line_dedup(df).collect()}
    assert got == {1, 3}


def test_ingest_gate_quality_knobs(spark):
    """min_uniq_ratio and max_dup_bigram_ratio must actually gate (the
    first version's uniq conjunct was vacuously true)."""
    from geojson_vt_spark.streaming.ingest_stream import admit_batch

    evals = spark.createDataFrame([(9000, "zz1 zz2 zz3")], ["doc_id", "text"])
    repetitive = "the cat sat " * 12 + "the end"
    diverse = "the quick " + " ".join(f"q{j}" for j in range(20)) + " and more"
    df = spark.createDataFrame(
        [(1, "web", diverse), (2, "web", repetitive)],
        "doc_id long, source string, text string",
    )
    adm, stage = admit_batch(
        df, evals, min_chars=10, min_uniq_ratio=0.5, langs=("en",)
    )
    assert {r.doc_id for r in adm.collect()} == {1}
    assert stage["quality_passed"] == 1
    adm2, _ = admit_batch(
        df, evals, min_chars=10, max_dup_bigram_ratio=0.5, langs=("en",)
    )
    assert {r.doc_id for r in adm2.collect()} == {1}


def test_streaming_ingest_parquet_sink_idempotent(spark, tmp_path):
    """run_ingest_to_parquet (the production sink): multi-micro-batch drain
    lands per-batch directories; admitted set equals the batch twin read
    BACK FROM DISK; a re-drain over the same checkpoint adds nothing; a
    newly-arrived file lands as a new batch without touching old ones."""
    import os
    import time

    from geojson_vt_spark.streaming.ingest_stream import (
        admit_batch,
        run_ingest_to_parquet,
    )

    filler = lambda d: " ".join(f"w{d}x{j}" for j in range(12))  # noqa: E731
    good = [(d, "web", f"the quick {filler(d)} and more") for d in range(10)]
    evals = spark.createDataFrame(
        [(9000, " ".join(f"evaltok{j}" for j in range(8)))],
        ["doc_id", "text"],
    )

    flat = tmp_path / "arrivals"
    flat.mkdir()

    def land(rows, name, mtime):
        p = tmp_path / "stage" / name
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).selectExpr(
            "doc_id", "text", "CAST(NULL AS STRING) AS lang", "source",
            "CAST(length(text) AS LONG) AS n_chars",
        ).coalesce(1).write.mode("overwrite").parquet(str(p))
        for f in p.glob("*.parquet"):
            tgt = flat / f"{name}.parquet"
            f.rename(tgt)
            os.utime(tgt, (mtime, mtime))

    now = time.time()
    land(good[:4], "f0", now)
    land(good[4:8], "f1", now + 1)

    out = str(tmp_path / "admitted")
    _, m1 = run_ingest_to_parquet(
        spark, str(flat), evals, out,
        min_chars=30, langs=("en",), max_files_per_trigger=1,
    )
    assert len(m1) >= 2  # forced multiple micro-batches
    disk = spark.read.parquet(out)
    assert "ingest_batch" in disk.columns
    got = {r.doc_id for r in disk.collect()}

    batch_admitted, _ = admit_batch(
        spark.createDataFrame(
            good[:8], "doc_id long, source string, text string"
        ),
        evals, min_chars=30, langs=("en",),
    )
    assert got == {r.doc_id for r in batch_admitted.collect()}
    assert sum(m["admitted"] for m in m1) == len(got)
    # metrics parquet mirrors the returned list
    mrows = {
        r.batch_id: r.admitted
        for r in spark.read.parquet(out + "_metrics").collect()
    }
    assert mrows == {m["batch_id"]: m["admitted"] for m in m1}

    # re-drain, nothing new arrived: committed files skipped, output stable
    _, m2 = run_ingest_to_parquet(
        spark, str(flat), evals, out,
        min_chars=30, langs=("en",), max_files_per_trigger=1,
    )
    assert m2 == []
    assert spark.read.parquet(out).count() == len(got)

    # late arrival: lands as a new batch; old batch dirs untouched
    land(good[8:], "f2", now + 2)
    _, m3 = run_ingest_to_parquet(
        spark, str(flat), evals, out,
        min_chars=30, langs=("en",), max_files_per_trigger=1,
    )
    assert sum(m["admitted"] for m in m3) == 2
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
        d for d, _, _ in good
    }


def test_streaming_ingest_parquet_sink_rejects_fresh_checkpoint(spark, tmp_path):
    """An out_dir that already holds ingest_batch=* directories must not be
    drained under a missing or empty checkpoint: batch ids would restart
    at 0 and silently mix with the old batches."""
    import os

    import pytest

    from geojson_vt_spark.streaming.ingest_stream import run_ingest_to_parquet

    evals = spark.createDataFrame([(9000, "zz1 zz2 zz3")], ["doc_id", "text"])
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    out = tmp_path / "admitted"
    (out / "ingest_batch=0").mkdir(parents=True)

    with pytest.raises(ValueError, match="ingest_batch"):  # default ckpt: missing
        run_ingest_to_parquet(spark, str(arrivals), evals, str(out))
    empty_ckpt = tmp_path / "ckpt"
    empty_ckpt.mkdir()
    with pytest.raises(ValueError, match="missing or empty"):
        run_ingest_to_parquet(
            spark, str(arrivals), evals, str(out),
            checkpoint_dir=str(empty_ckpt),
        )
    assert os.listdir(empty_ckpt) == []  # failed before the stream started
    assert not os.path.exists(str(out) + "_metrics")


def test_line_dedup_auto_construction_runs_no_job(spark):
    """Round-5 gate (VERDICT r4 item 6): building the query must cost ZERO
    Spark jobs — the join choice is AQE's at runtime, not an eager count at
    construction."""
    from geojson_vt_spark.hygiene import line_dedup

    l1 = " ".join(f"c{i}" for i in range(10))
    docs = _mkdocs(spark, [(d, l1) for d in range(5)])
    sc = spark.sparkContext
    sc.setJobGroup("linededup-build-probe", "construction only")
    try:
        df = line_dedup(docs)
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(
        sc.statusTracker().getJobIdsForGroup("linededup-build-probe")
    )
    assert n_jobs == 0, n_jobs
    # and the frame still answers correctly when acted on
    assert all(r.n_kept == 0 for r in df.collect())
