"""Training-data pipeline operators over the documents/embeddings/events
tables — the large-scale corpus ops a 100 TB ingest needs, each expressed as
DataFrame/Column work, whole-stage-codegen friendly. The one Python
crossing is the MinHash signature kernel (`minhash_signatures`, Arrow in
and out, no pandas): a document's tokens already sit in one row, so
folding their hashes into 64 minima in numpy replaces a token explode, a
64-column hash aggregate and its exchange.

Oracle-checked entries ship a DuckDB SQL twin (portable arithmetic only —
no engine-specific hash functions). LSH/sketch entries whose candidate
generation uses Spark's xxhash64 are rows-only for the driver and
equality-tested against their exact counterparts in tests/test_training.py.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .analytics import ranked_topk

from .functions.projection import project_x_col, project_y_col
from .model import local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# Deduplication: MinHash + LSH (shingle -> minhash -> band -> bucket join)
# --------------------------------------------------------------------------

_MH_P = 2147483647  # 2^31-1 (Mersenne prime): a*x+b stays exact in int64


def _mh_coeffs(n_hashes: int) -> list:
    """Deterministic affine universal family h_s(x) = (a_s*x + b_s) mod P
    (Knuth multiplicative constants, fixed at authoring time — no runtime
    RNG; the DuckDB oracle inlines the same literals). One strong base hash
    per token + n_hashes multiply-adds replaces n_hashes independent hash
    evaluations per token row."""
    return [
        (
            (s * 2654435761 + 2654435769) % (_MH_P - 1) + 1,
            (s * 1779033703 + 3144134277) % _MH_P,
        )
        for s in range(n_hashes)
    ]


def _mh_base_col(t, hash_fn: str):
    """Per-token base draw in [0, P). "xxhash64" is the JVM fast path;
    "md5_60" (low 60 bits of md5's hex) is bit-identical across engines so a
    DuckDB oracle can replay the whole pipeline. Folding into 31 bits merges
    a token pair with prob ~|vocab|^2/2^32 — a negligible Jaccard bias, and
    at 10^9-token vocabularies the place to widen is the base hash, not the
    family (the affine family must stay within exact int64)."""
    if hash_fn == "md5_60":
        base = F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        base = F.xxhash64(t)
    return F.pmod(base, F.lit(_MH_P))


def _signature_kernel(n_hashes: int, schema: pa.Schema):
    """mapInArrow kernel over (doc_id, source, x array<long>) batches: one
    output row per document with a non-empty x list, h_s = min over its
    tokens of (x*a_s + b_s) mod P. Segment minima come from
    np.minimum.reduceat over the list offsets, one hash at a time, so memory
    stays O(tokens in the batch) (x < P < 2^31 and a_s < P keep every
    product exact in int64). A null x (md5 of a null token) never wins a
    min; a document whose x are all null gets null signatures, as SQL min
    gives."""
    coeffs = _mh_coeffs(n_hashes)

    def kern(batches):
        for rb in batches:
            lst = rb.column(2)
            lens = pc.fill_null(pc.list_value_length(lst), 0).to_numpy()
            keep = lens > 0
            if not keep.any():
                continue
            ids = rb.select([0, 1])
            if not keep.all():
                ids = ids.filter(pa.array(keep))
            vals = lst.flatten()  # valid lists' values, slice offset applied
            nulls = (
                vals.is_null().to_numpy(zero_copy_only=False)
                if vals.null_count else None
            )
            x = vals.fill_null(0).to_numpy()
            starts = (np.cumsum(lens) - lens)[keep]
            cols = list(ids.columns)
            h = np.empty_like(x)
            for a, b in coeffs:
                np.multiply(x, a, out=h)
                h += b
                np.remainder(h, _MH_P, out=h)
                if nulls is not None:
                    h[nulls] = _MH_P  # above every real value
                m = np.minimum.reduceat(h, starts)
                cols.append(pa.array(m, mask=None if nulls is None else m == _MH_P))
            yield pa.RecordBatch.from_arrays(cols, schema=schema)

    return kern


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """n_hashes minhashes per document over the `toks` array column:
    (doc_id, source, h0..h{n-1}).

    Contract: `docs` holds one row per (doc_id, source) — a document's
    tokens are one array — and the output holds one row per document whose
    token list is non-empty (a null or empty list emits no row).

    Because one row already holds all of a document's tokens, no exchange
    is needed: the base hash runs JVM-side per token inside the array
    (`transform`, the same expression the DuckDB oracle replays), and one
    mapInArrow crossing folds each document's base hashes into its
    n_hashes minima partition-locally (`_signature_kernel`). No token
    explode, no aggregate, no shuffle."""
    x = F.transform("toks", lambda t: _mh_base_col(t, hash_fn)).alias("x")
    base = docs.select("doc_id", "source", x)
    fields = [docs.schema["doc_id"], docs.schema["source"]] + [
        T.StructField(f"h{s}", T.LongType()) for s in range(n_hashes)
    ]
    schema = T.StructType(fields)
    return base.mapInArrow(
        _signature_kernel(n_hashes, to_arrow_schema(schema)), schema
    )


def _cap_hot_buckets(bands: DataFrame, keys: list, cap: int | None) -> DataFrame:
    """Drop band buckets holding more than `cap` members before a banded
    self-join — the guard against the quadratic hot-key blow-up on web
    corpora (one boilerplate token-set shared by millions of docs puts them
    all in ONE (source, band, k...) bucket, and the self-join then emits
    m*(m-1)/2 pairs on that single key: 10k sharers = 50M pairs, 1M sharers
    = 5*10^11). Salting cannot help a self-join (the pair volume is inherent
    to the key), so the standard production move is to drop oversized
    buckets: members that near-duplicate each other still collide in their
    OTHER, more selective bands, and a bucket above any sane cap is
    boilerplate, not signal — the documented recall trade.

    Cost at scale: one partial-aggregated count over the narrow bands frame
    (same keys as the join, so the exchange is the one the join needs
    anyway) and a broadcast anti-join against the tiny (hot keys only)
    overflow set — no new wide shuffle."""
    if cap is None:
        return bands
    hot = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where(F.col("_bsz") > cap)
        .drop("_bsz")
    )
    return bands.join(F.broadcast(hot), keys, "left_anti")


def minhash_band_candidates(
    docs: DataFrame,
    n_hashes: int = 64,
    n_bands: int = 16,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Candidate pairs from banded minhash LSH: two docs are candidates iff
    they agree on ALL r = n_hashes/n_bands signature values in at least one
    band. The r values themselves are the equi-join key (no band-hash
    combine, so no combiner collisions and the key is trivially portable);
    one shuffle on (source, band, k0..k(r-1)).

    Banding S-curve: P(candidate | Jaccard J) = 1 - (1 - J^r)^b. r=1 is the
    exact-recall mode (miss 2^-16 at J=0.5 with b=16) but prunes nothing at
    low J (P=81% at J=0.1 — near-all-pairs on repetitive web corpora). The
    r=4 default keeps P(candidate at J=0.1) at ~0.16% — the web-scale
    setting — at the cost of S-curve recall near the threshold (~64% at
    J=0.5, >99.98% at J>=0.8): calibrate n_bands/r to the corpus threshold.

    bucket_cap (default 1000): buckets holding more members are dropped
    before the self-join (see _cap_hot_buckets — the hot-boilerplate guard;
    None disables). Exact duplicates of a dropped boilerplate doc are still
    caught by `dedup_exact`; the cap only forgoes NEAR-dup pairs inside
    mega-clusters that would cost m^2/2 pairs each."""
    r = n_hashes // n_bands
    # The band self-join scans its input twice and Spark's exchange reuse
    # does NOT dedup the two sides (verified on the executed plan: 2 parquet
    # scans), so the token hashing and the signature kernel would run
    # twice. The signature frame is tiny (one narrow row per doc) — pin it
    # once. At cluster scale this is a persist-to-storage seam; local
    # checkpoint is its single-JVM equivalent.
    sig = minhash_signatures(docs, n_hashes, hash_fn).localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        *[F.col(f"h{i * r + j}").alias(f"k{j}") for j in range(r)],
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "source", "bb.*")
    keys = ["source", "band"] + [f"k{j}" for j in range(r)]
    bands = _cap_hot_buckets(bands, keys, bucket_cap)
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(y, keys)
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 64,
    n_bands: int = 16,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs (token-set Jaccard >= threshold) at scale: instead of
    the O(n^2)-per-source self-join of `ngram_jaccard_dedup`, candidates come
    from the banded minhash equi-join, then only candidates pay the exact
    Jaccard refine — precision is exact, recall follows the banding S-curve
    (see minhash_band_candidates; n_hashes=n_bands gives the r=1 exact-recall
    mode)."""
    cand = minhash_band_candidates(docs, n_hashes, n_bands, hash_fn, bucket_cap)
    # The candidate frame is bytes-tiny (two longs per row) but every row
    # pays an array_intersect over two full token arrays downstream, so
    # AQE's byte-based coalesce (measured: 3 post-shuffle partitions on 8
    # cores at sf0.1) serializes the pipeline's hottest stage. Round-robin
    # to cluster parallelism: one extra pass over the narrow deduped pairs
    # (REPARTITION_BY_NUM — AQE never re-coalesces it) buys an evenly
    # spread refine (measured 2x on the refine stage).
    cand = cand.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    refined = cand.join(da, "doc_a").join(db, "doc_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    # toks is array_distinct'd, so |a ∪ b| = |a| + |b| - |a ∩ b| — one hash
    # probe per pair instead of materializing the union array (the refine
    # over the candidate set is the pipeline's hottest stage)
    union = (F.size("toks_a") + F.size("toks_b")).cast("double") - inter
    return refined.select(
        "doc_a", "doc_b", F.round(inter / union, 9).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def _docs_tokens(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )


def q_minhash_lsh_dedup(spark, sf_dir):
    """Driver entry: the web-scale banding (b=16 bands x r=4 rows, 64
    hashes) over the engine-portable md5_60 base hash, so the DuckDB oracle
    replays the ENTIRE pipeline — signatures, band join, candidate set, exact
    refine — and equality holds by construction (the same move that made
    simhash fully oracle-able). Output = banded candidates with exact
    Jaccard >= 0.5; near-threshold pairs follow the S-curve by design (this
    corpus plants ~1k pairs at J in [0.5,0.6) precisely to expose engines
    that silently run r=1). The r=1 exact-recall mode remains available via
    minhash_lsh_pairs(n_hashes=16, n_bands=16) and feeds the CC/keep
    endpoints whose oracles are the exact transitive closure."""
    return minhash_lsh_pairs(
        _docs_tokens(spark, sf_dir),
        threshold=0.5,
        n_hashes=64,
        n_bands=16,
        hash_fn="md5_60",
    )


# --------------------------------------------------------------------------
# Deduplication: SimHash with banded Hamming join (exact by pigeonhole)
# --------------------------------------------------------------------------


def _sql_minhash_replay(
    n_hashes: int = 64, n_bands: int = 16, bucket_cap: int = 1000
) -> str:
    """DuckDB replay of the FULL banded pipeline q_minhash_lsh_dedup runs:
    md5_60 base hash -> affine signature mins -> hot-bucket cap -> band
    equi-join -> exact Jaccard refine. Every literal (affine coefficients,
    nibble weights, the bucket cap) is the same integer arithmetic Spark
    evaluates, so the oracle matches the S-curve candidate set exactly —
    not just the idealized semantics."""
    r = n_hashes // n_bands
    nib = "(strpos('0123456789abcdef', substr(m, {pos}, 1)) - 1)"
    h60 = " + ".join(f"{nib.format(pos=1 + j)} * {16 ** (14 - j)}" for j in range(15))
    mins = ",\n         ".join(
        f"MIN((x * {a} + {b}) % 2147483647) AS h{s}"
        for s, (a, b) in enumerate(_mh_coeffs(n_hashes))
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, source, {i} AS band, "
        + ", ".join(f"h{i * r + j} AS k{j}" for j in range(r))
        + " FROM sig"
        for i in range(n_bands)
    )
    keys = " AND ".join(
        ["x.source = y.source", "x.band = y.band"]
        + [f"x.k{j} = y.k{j}" for j in range(r)]
    )
    kcols = ", ".join(f"k{j}" for j in range(r))
    return f"""
WITH d AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), tok AS (
  SELECT doc_id, source, unnest(toks) AS t FROM d
), hashed AS (
  SELECT doc_id, source, md5(t) AS m FROM tok
), based AS (
  SELECT doc_id, source, ({h60}) % 2147483647 AS x FROM hashed
), sig AS (
  SELECT doc_id, source,
         {mins}
  FROM based GROUP BY doc_id, source
), bands_raw AS (
{band_selects}
), bands AS (
  SELECT doc_id, source, band, {kcols} FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY source, band, {kcols}) AS _bsz
    FROM bands_raw
  ) WHERE _bsz <= {bucket_cap}
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON {keys} AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))), 9) AS jaccard
FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
"""


_SQL_MINHASH_ORACLE = _sql_minhash_replay()


# DuckDB replay of the full simhash pipeline over md5-derived bits (the
# same bits q_simhash_dedup uses; banding is omitted because it is
# recall-exact — pairs(ham<=3, same source) IS the ground truth)
_NIB = "(strpos('0123456789abcdef', substr(md5(t), {pos}, 1)) - 1)"
_H16 = " + ".join(
    f"{_NIB.format(pos=29 + j)} * {16 ** (3 - j)}" for j in range(4)
)
_S_COLS = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(16)
)
_SIM_EXPR = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
SQL_SIMHASH_DEDUP = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents
), hashed AS (
  SELECT doc_id, source, {_H16} AS h FROM tok
), agg AS (
  SELECT doc_id, source,
         {_S_COLS}
  FROM hashed GROUP BY doc_id, source
), sh AS (
  SELECT doc_id, source, CAST({_SIM_EXPR} AS BIGINT) AS simhash FROM agg
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_simhash_dedup(spark, sf_dir):
    """16-bit simhash per document; near-dup pairs = same source, Hamming
    distance <= 3. Candidates via 4 bands of 4 bits (pigeonhole: ham <= 3
    over 4 bands forces >= 1 identical band, so recall is EXACTLY 1 —
    banding here is a pure shuffle-reduction, not an approximation).

    The per-token bit source is the low 16 bits of md5's hex: bit-identical
    across engines, so the DuckDB oracle replays the whole pipeline (recall
    exactness is hash-agnostic). md5-of-string per token row is the replay
    tax, so each DISTINCT token is hashed once and the dictionary joined
    back. The join carries no broadcast hint: the dictionary grows with the
    vocabulary, and AQE broadcasts it only while its measured size allows.

    No hot-bucket cap: capping would break the pigeonhole recall-exactness
    this entry advertises (and its ground-truth oracle); at web scale, where
    one 4-bit band value can hold n_source/16 docs, the scale levers are a
    wider simhash + more/narrower bands."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("t"),
    )
    h = F.conv(F.substring(F.md5(F.col("t")), 29, 4), 16, 10).cast("long")
    vocab = tok.select("t").distinct().select("t", h.alias("h"))
    tok = tok.join(vocab, "t")
    contribs = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(16)
    ]
    agg = tok.groupBy("doc_id", "source").agg(*contribs)
    sim = F.lit(0)
    for i in range(16):
        sim = sim + F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(0)
    # pin the per-doc simhash frame: the band self-join otherwise recomputes
    # the token explode + 16-sum aggregation once per side (no exchange
    # reuse across self-join sides — same seam as minhash_band_candidates)
    sh = agg.select("doc_id", "source", sim.alias("simhash")).localCheckpoint(
        eager=True
    )
    bands = sh.select(
        "doc_id",
        "source",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 4 * b)
                        .bitwiseAND(F.lit(15))
                        .alias("bval"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "source", "simhash", "b.band", "b.bval")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["source", "band", "bval"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b")).cast("long")
    ).cast("long")
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= 3)
    )


# --------------------------------------------------------------------------
# Similarity search: LSH-bucketed ANN + exact near-dup refine
# --------------------------------------------------------------------------


def _hyperplanes(n_planes: int, dim: int) -> list:
    """Deterministic pseudo-random hyperplanes (Knuth-mix constants; fixed at
    authoring time, no runtime RNG)."""
    return [
        [
            (((p * dim + d) * 2654435761 + 0x9E3779B9) % 4294967296) / 4294967296.0
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _bucket_col(planes: list):
    """8-bit hyperplane signature of the `embedding` column (JVM-side:
    zip_with + aggregate, no UDF)."""
    sig = F.lit(0)
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                # single ArrayType literal: one plan node + one py4j call per
                # plane (an F.array of 64 F.lit nodes costs ~0.5 s of driver
                # round-trips per query and bloats analysis)
                F.lit(plane),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << i)).otherwise(0)
    return sig


def _cos_cols(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.col(b), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


def q_ann_cosine_topk_lsh(spark, sf_dir):
    """ANN top-10 for query vec_id=0: 8 hyperplane bits -> bucket; probe all
    buckets within Hamming <= 3 of the query's bucket; exact cosine refine +
    top-k on the candidate set only. The scale path for `ann_cosine_topk`
    (brute force): candidate count ~ n * P(ham<=3) instead of n."""
    e = _t(spark, sf_dir, "embeddings")
    planes = _hyperplanes(8, 64)  # embeddings table is 64-dim
    eb = e.withColumn("bucket", _bucket_col(planes))
    q = eb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    j = eb.crossJoin(F.broadcast(q)).where(F.col("vec_id") != 0)
    ham = F.bit_count(
        F.col("bucket").bitwiseXOR(F.col("qbucket")).cast("long")
    )
    cand = j.where(ham <= 3)
    cos = F.round(_cos_cols("embedding", "qe"), 6)
    return ranked_topk(cand.select("vec_id", cos.alias("cos")), 10)


SQL_ANN_COSINE_TOPK_LSH = """
WITH planes AS (
  SELECT p, list(w ORDER BY d) AS wvec FROM (
    SELECT ps.p AS p, ds.d AS d,
           ((((ps.p * 64 + ds.d) * 2654435761 + 2654435769) % 4294967296)
            / 4294967296.0) * 2.0 - 1.0 AS w
    FROM generate_series(0, 7) AS ps(p), generate_series(0, 63) AS ds(d)
  ) GROUP BY p
),
sigs AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN
           list_reduce(list_transform(list_zip(e.embedding, pl.wvec),
                       q -> CAST(q[1] AS DOUBLE) * q[2]), (x, y) -> x + y) > 0
           THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e, planes pl
  GROUP BY e.vec_id
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qb AS (SELECT bucket AS qbucket FROM sigs WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         ROUND(
           list_reduce(list_transform(list_zip(e.embedding, qv.qe),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
           / (SQRT(list_reduce(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
            * SQRT(list_reduce(list_transform(qv.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
           6) AS cos
  FROM embeddings e
  JOIN sigs s ON e.vec_id = s.vec_id, qv, qb
  WHERE e.vec_id <> 0 AND bit_count(xor(s.bucket, qb.qbucket)) <= 3
)
SELECT vec_id, cos, rank FROM (
  SELECT vec_id, cos,
         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
  FROM d
) WHERE rank <= 10
"""


def ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Batch-query ANN join: top-k cosine neighbors in `corpus` for EVERY
    row of `queries` (both frames: (vec_id, embedding)) — the kNN-join
    generalization of q_ann_cosine_topk_lsh's single broadcast query.

    Candidates come from a banded hyperplane-signature equi-join on
    (band, bval) — one shuffle, never a cartesian: by pigeonhole every pair
    within Hamming <= n_bands-1 signature bits shares a band. Candidate ids
    are deduped BEFORE the embeddings join back (ids-only distinct keeps
    the shuffle narrow), then the exact cosine refine + per-query top-k
    (window over candidates only, partitioned by query — no global sort)
    makes precision exact; recall follows the multi-probe banding bound
    (~4e-4 miss at cos >= 0.99 with 8 bits / 4 bands). The query side is
    broadcast into the refine (ANN-join batches are query-small by nature);
    widen n_bits to shrink buckets at corpus scale."""
    planes = _hyperplanes(n_bits, 64)
    bits_per_band = n_bits // n_bands
    bmask = (1 << bits_per_band) - 1

    def _bands(df, idcol):
        eb = df.select(
            F.col("vec_id").alias(idcol), _bucket_col(planes).alias("bucket")
        )
        return eb.select(
            idcol,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright(F.col("bucket"), i * bits_per_band)
                            .bitwiseAND(F.lit(bmask))
                            .alias("bval"),
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select(idcol, "bb.band", "bb.bval")

    # _bucket_col reads the `embedding` column, so keep it in scope per side
    qb = _bands(queries.select("vec_id", "embedding"), "q_id")
    cb = _bands(corpus.select("vec_id", "embedding"), "c_id")
    cand = (
        qb.join(cb, ["band", "bval"])
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    qe = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    ce = corpus.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    ref = cand.join(F.broadcast(qe), "q_id").join(ce, "c_id")
    cos = F.round(_cos_cols("ce", "qe"), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        ref.select("q_id", "c_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def q_ann_join(spark, sf_dir):
    """Driver entry: queries = vec_id < 8, corpus = the rest, top-5 each.
    Full-pipeline DuckDB oracle (exact int64 hyperplane replay + the same
    banded candidate join, the proven ann_cosine_topk_lsh move)."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ann_join(
        e.where(F.col("vec_id") < 8), e.where(F.col("vec_id") >= 8), k=5
    )


SQL_ANN_JOIN = """
WITH planes AS (
  SELECT p, list(w ORDER BY d) AS wvec FROM (
    SELECT ps.p AS p, ds.d AS d,
           ((((ps.p * 64 + ds.d) * 2654435761 + 2654435769) % 4294967296)
            / 4294967296.0) * 2.0 - 1.0 AS w
    FROM generate_series(0, 7) AS ps(p), generate_series(0, 63) AS ds(d)
  ) GROUP BY p
),
sigs AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN
           list_reduce(list_transform(list_zip(e.embedding, pl.wvec),
                       q -> CAST(q[1] AS DOUBLE) * q[2]), (x, y) -> x + y) > 0
           THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e, planes pl
  GROUP BY e.vec_id
),
qb AS (
  SELECT s.vec_id AS q_id, b.band, (s.bucket >> (b.band * 2)) & 3 AS bval
  FROM sigs s, generate_series(0, 3) AS b(band) WHERE s.vec_id < 8
),
cb AS (
  SELECT s.vec_id AS c_id, b.band, (s.bucket >> (b.band * 2)) & 3 AS bval
  FROM sigs s, generate_series(0, 3) AS b(band) WHERE s.vec_id >= 8
),
cand AS (
  SELECT DISTINCT q_id, c_id
  FROM qb JOIN cb ON qb.band = cb.band AND qb.bval = cb.bval
),
d AS (
  SELECT cand.q_id, cand.c_id,
         ROUND(
           list_reduce(list_transform(list_zip(c.embedding, q.embedding),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
           / (SQRT(list_reduce(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
            * SQRT(list_reduce(list_transform(q.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
           6) AS cos
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.q_id
  JOIN embeddings c ON c.vec_id = cand.c_id
)
SELECT q_id, c_id, cos, rank FROM (
  SELECT q_id, c_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank
  FROM d
) WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# Similarity search: IVF-bucketed ANN (coarse quantizer + inverted lists)
# --------------------------------------------------------------------------


def _ivf_centroids(e: DataFrame, nlist: int) -> list:
    """Deterministic coarse quantizer: the nlist corpus vectors with the
    smallest md5(vec_id-as-string) digest — a seedless, engine-portable
    pseudo-random sample (both Spark and the DuckDB oracle order the same
    lowercase hex strings). Returns [(rank, embedding)] with rank 1..nlist.

    Collecting nlist rows to the driver is the IVF index-build contract
    (the centroid table is tiny by design); the assignment step broadcasts
    them back as literals."""
    rows = (
        e.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(nlist)
        .collect()
    )
    return [(i + 1, [float(v) for v in r.embedding]) for i, r in enumerate(rows)]


def _cos_lit(colname: str, vals: list):
    """Cosine between an array column and a python-literal vector, with the
    SAME sequential left-fold the DuckDB oracle runs (zip_with + aggregate;
    the literal's norm is a python left fold over the identical float64
    values, so the IEEE result is bit-equal)."""
    dot = F.aggregate(
        F.zip_with(F.col(colname), F.lit(vals), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.col(colname),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    nb = 0.0
    for v in vals:
        nb += v * v
    return dot / (na * F.lit(math.sqrt(nb)))


def _ivf_rank_structs(cents: list):
    """Array of centroid (cos, rk) structs sorted nearest-first: cosine
    rounded to 6 (the cross-engine equality contract every ANN oracle here
    uses), ties to the smaller centroid rank. A comparator (not a negated
    sort key) keeps -0.0/0.0 out of the ordering."""
    structs = F.array(
        *[
            F.struct(
                F.round(_cos_lit("embedding", c), 6).alias("cos"),
                F.lit(rk).alias("rk"),
            )
            for rk, c in cents
        ]
    )
    return F.array_sort(
        structs,
        lambda l, r: F.when(l["cos"] > r["cos"], F.lit(-1))
        .when(l["cos"] < r["cos"], F.lit(1))
        .otherwise(l["rk"] - r["rk"]),
    )


def q_ann_cosine_topk_ivf(
    spark, sf_dir, nlist: int = 16, nprobe: int = 4, k: int = 10
):
    """ANN top-k for query vec_id=0, IVF-style: the scale path SURVEY §2
    names alongside the LSH bucketing. Corpus vectors are assigned to the
    inverted list of their nearest coarse centroid (one narrow column, no
    shuffle — assignment is embarrassingly parallel); the query probes its
    nprobe nearest lists and the exact cosine refine + top-k runs over
    candidates only (~ n*nprobe/nlist rows instead of n).

    Everything stays JVM-side codegen (zip_with/aggregate folds) so the
    DuckDB oracle replays the FULL pipeline — centroid choice, assignment
    argmax, probe set, refine — with no Python crossing. At corpus scale
    nlist grows toward sqrt(n) and the plan shape (broadcast centroids,
    list_id probe filter, candidate-only refine) is unchanged; an index
    written once (`ivf_index_write`) lets `ann_topk_ivf_indexed` skip the
    non-probed lists at the file level."""
    e = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(e, nlist)
    ranked = _ivf_rank_structs(cents)
    eb = e.select(
        "vec_id", "embedding", ranked[0]["rk"].alias("list_id")
    )
    q = (
        e.where(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qe"),
            F.transform(
                F.slice(ranked, 1, nprobe), lambda s: s["rk"]
            ).alias("qprobes"),
        )
    )
    cand = (
        eb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .where(F.array_contains(F.col("qprobes"), F.col("list_id")))
    )
    cos = F.round(_cos_cols("embedding", "qe"), 6)
    return ranked_topk(cand.select("vec_id", cos.alias("cos")), k)


SQL_ANN_COSINE_TOPK_IVF = """
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS rk,
         embedding
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
sim AS (
  SELECT e.vec_id, c.rk,
         ROUND(
           list_reduce(list_transform(list_zip(e.embedding, c.embedding),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
           / (SQRT(list_reduce(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
            * SQRT(list_reduce(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
           6) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, rk,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, rk) AS rn
  FROM sim
),
lists AS (SELECT vec_id, rk AS list_id FROM ranked WHERE rn = 1),
qprobes AS (SELECT rk FROM ranked WHERE vec_id = 0 AND rn <= 4),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         ROUND(
           list_reduce(list_transform(list_zip(e.embedding, qv.qe),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
           / (SQRT(list_reduce(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
            * SQRT(list_reduce(list_transform(qv.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
           6) AS cos
  FROM embeddings e
  JOIN lists l ON e.vec_id = l.vec_id, qv
  WHERE e.vec_id <> 0 AND l.list_id IN (SELECT rk FROM qprobes)
)
SELECT vec_id, cos, rank FROM (
  SELECT vec_id, cos,
         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
  FROM d
) WHERE rank <= 10
"""


def ivf_index_write(embeddings: DataFrame, path: str, nlist: int = 16) -> None:
    """Materialize the IVF index as storage layout: the corpus written
    `partitionBy("list_id")` (each inverted list is a physical parquet
    directory) plus the tiny centroid table beside it. This is the 100 TB
    continuation of the scan-time IVF query (q_ann_cosine_topk_ivf) — once
    lists are directories, a probe-filtered query never READS non-probed
    lists at all (Catalyst partition pruning, not a post-scan filter), so
    query cost is ~nprobe/nlist of the corpus bytes.

    Assignment uses the same codegen rank fold as q_ann_cosine_topk_ivf
    (round-6 cosine vs broadcast centroid literals, ties to the smaller
    centroid rank), so an index written here answers queries identically to
    the scan-time query — asserted in tests/test_ivf_indexed.py."""
    spark = embeddings.sparkSession
    cents = _ivf_centroids(embeddings, nlist)
    ranked = _ivf_rank_structs(cents)
    (
        embeddings.select(
            "vec_id", "embedding", ranked[0]["rk"].alias("list_id")
        )
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )
    local_frame(
        spark, [(rk, c) for rk, c in cents], "rk int, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_append(new_embeddings: DataFrame, path: str) -> None:
    """Incremental maintenance of the on-disk IVF index: assign NEWLY
    ARRIVED vectors against the FROZEN centroid table stored beside the
    lists and append them to their inverted-list directories
    (mode('append') under the same partitionBy('list_id') layout, so
    serving reads — partition-pruned by probes — pick the new files up
    with no reader change).

    The coarse quantizer is deliberately NOT refreshed: assignment depends
    only on the stored centroids, so appends commute (append(A);append(B)
    holds exactly the rows of assigning A∪B once — equality-tested), and
    re-training under drift is an offline rebuild decision
    (ivf_index_write), the standard IVF maintenance split. Streaming
    ingest composes directly: foreachBatch(lambda df, _:
    ivf_index_append(df, path)) turns an arriving-embeddings stream into
    a live-growing index.

    The append is IDEMPOTENT: new vec_ids anti-join the index's stored ids
    first, so an at-least-once foreachBatch replay (parquet committed,
    checkpoint offset not) cannot duplicate rows — duplicated vectors would
    silently occupy two top-k ranks at serving time forever. Cost: one
    ids-only column-pruned scan of the index per append."""
    spark = new_embeddings.sparkSession
    cents = [
        (int(r.rk), [float(v) for v in r.embedding])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    cents.sort()
    ranked = _ivf_rank_structs(cents)
    # eager checkpoint cuts the plan's dependency on the very parquet path
    # the write below appends to (read-your-own-append hazard)
    existing = (
        spark.read.parquet(f"{path}/lists")
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    new_embeddings = new_embeddings.join(existing, "vec_id", "left_anti")
    (
        new_embeddings.select(
            "vec_id", "embedding", ranked[0]["rk"].alias("list_id")
        )
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )


def _round6_half_up(x: float) -> float:
    """Exact twin of Spark's F.round(col, 6) on a driver-side double:
    java.math.BigDecimal(double).setScale(6, HALF_UP) == decimal.Decimal
    (float).quantize(1e-6, ROUND_HALF_UP) — both quantize the exact binary
    value with HALF_UP, unlike Python's built-in round (half-to-even)."""
    import decimal

    return float(
        decimal.Decimal(x).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _seq_round6_cos(a: list, b: list) -> float:
    """Driver-side twin of _cos_lit + F.round(.., 6): sequential float64
    left folds in the same order and a BigDecimal-faithful HALF_UP quantize
    (_round6_half_up), so probe selection over the (tiny) centroid table is
    bit-consistent with the codegen variants."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return _round6_half_up(dot / (math.sqrt(na) * math.sqrt(nb)))


def ann_topk_ivf_indexed(
    spark,
    path: str,
    query_vec: list,
    exclude_id: int | None = None,
    nprobe: int = 4,
    k: int = 10,
) -> DataFrame:
    """Serve a top-k query from an on-disk IVF index written by
    ivf_index_write. Probe selection runs driver-side over the centroid
    table (nlist rows by construction); the corpus read then carries
    `list_id IN probes` as a PARTITION filter — the scan's file listing
    excludes non-probed list directories, so unprobed corpus bytes are
    never opened (plan-gated: PartitionFilters on list_id, candidate scan
    only). Refine is the exact round-6 cosine fold against the query
    literal + a top-k window — identical ordering contract to the
    scan-time IVF query."""
    cents = [
        (int(r.rk), [float(v) for v in r.embedding])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    cents.sort()
    qcos = [( -_seq_round6_cos(c, query_vec), rk) for rk, c in cents]
    probes = [rk for _negcos, rk in sorted(qcos)[:nprobe]]

    lists = spark.read.parquet(f"{path}/lists").where(
        F.col("list_id").isin(probes)
    )
    if exclude_id is not None:
        lists = lists.where(F.col("vec_id") != exclude_id)
    cos = F.round(_cos_lit("embedding", [float(v) for v in query_vec]), 6)
    return ranked_topk(lists.select("vec_id", cos.alias("cos")), k)


def kmeans_embeddings(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column — the semantic
    clustering a curation pipeline uses for domain discovery, cluster-
    balanced sampling, and semantic dedup (SemDeDup-style: prune within
    clusters instead of all-pairs).

    Fully engine-portable by construction, reusing the IVF family's
    cross-engine contracts: init is the seedless md5-rank pick
    (`_ivf_centroids`), assignment is the round-6 cosine argmax with ties
    to the smaller centroid rank (`_ivf_rank_structs` — np.argmax's
    first-max rule), and the recomputed centroids are per-dimension means
    ROUNDED TO 6 DECIMALS so both engines re-assign against identical
    literal centroids next iteration (the `weighted_centroid` oracle's
    rounded-mean move; double sums agree to ~1e-15 relative, 9 orders
    inside the rounding).

    Scale shape: per iteration ONE corpus scan — assignment is broadcast
    Column math (no shuffle), and the mean recompute is
    posexplode -> groupBy(cluster, pos) with map-side partial aggregation
    (shuffle volume k x dim x partitions, not corpus rows). The k x dim
    centroid table collects to the driver between iterations (the Lloyd-
    on-Spark contract, same as the IVF index build). Empty clusters keep
    their previous centroid. Returns (vec_id, cluster, cos) — the final
    assignment plus the round-6 cosine to its centroid.

    `dim` must equal the embedding width; it is checked against the vector
    positions of the first mean recompute (ValueError on a mismatch)."""
    cents = _ivf_centroids(embeddings, k)
    for it in range(iters):
        assigned = embeddings.select(
            id_col,
            vec_col,
            _ivf_rank_structs(cents)[0]["rk"].alias("cluster"),
        )
        stats = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cluster: dict = {}
        for r in stats:
            by_cluster.setdefault(int(r.cluster), {})[int(r.pos)] = (
                float(r.s), int(r.n)
            )
        if it == 0 and stats:
            width = 1 + max(int(r.pos) for r in stats)
            if width != dim:
                raise ValueError(
                    f"kmeans_embeddings: dim={dim} but {vec_col} vectors "
                    f"have {width} positions"
                )
        new_cents = []
        for rk, old in cents:
            dims = by_cluster.get(rk)
            if dims is None:
                new_cents.append((rk, old))  # empty cluster keeps centroid
            else:
                new_cents.append(
                    (
                        rk,
                        [
                            _round6_half_up(dims[d][0] / dims[d][1])
                            for d in range(dim)
                        ],
                    )
                )
        cents = new_cents
    final = embeddings.select(
        id_col, vec_col, _ivf_rank_structs(cents)[0].alias("_best")
    )
    return final.select(
        id_col,
        F.col("_best.rk").cast("long").alias("cluster"),
        F.col("_best.cos").alias("cos"),
    )


def q_kmeans_embeddings(spark, sf_dir):
    """Driver instance: k=8, 2 Lloyd iterations over the embeddings table;
    the DuckDB twin replays init, both assignment rounds, and the rounded
    mean update CTE-for-CTE."""
    return kmeans_embeddings(_t(spark, sf_dir, "embeddings"))


_KM_COS_TPL = """
           ROUND(
             list_reduce(list_transform(list_zip(e.embedding, {c}.vec),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
             / (SQRT(list_reduce(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
              * SQRT(list_reduce(list_transform({c}.vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
             6)"""


def _sql_kmeans_chain(
    k: int, iters: int, dim: int, table: str = "embeddings"
) -> tuple:
    """The Lloyd CTE chain (cents0 .. cents{iters}) over `table`, WITHOUT
    the leading WITH keyword or a final SELECT — composable into bigger
    oracles (semantic dedup prepends WITH RECURSIVE and appends the
    closure). Returns (chain_sql, final_cents_name)."""
    parts = [f"""cents0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS rk,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS vec
  FROM {table}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {k}
)"""]
    for it in range(iters):
        c, a, n = f"cents{it}", f"asg{it}", f"cents{it + 1}"
        parts.append(f""",
{a} AS (
  SELECT vec_id, rk AS cluster FROM (
    SELECT e.vec_id, {c}.rk,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_COS_TPL.format(c=c)} DESC, {c}.rk) AS rn
    FROM {table} e CROSS JOIN {c}
  ) WHERE rn = 1
),
{n} AS (
  SELECT {c}.rk, COALESCE(m.vec, {c}.vec) AS vec
  FROM {c} LEFT JOIN (
    SELECT cluster AS rk, list(mv ORDER BY pos) AS vec FROM (
      SELECT a.cluster, gs.pos,
             ROUND(SUM(CAST(e.embedding[gs.pos + 1] AS DOUBLE)) / COUNT(*), 6) AS mv
      FROM {a} a JOIN {table} e USING (vec_id)
      CROSS JOIN generate_series(0, {dim - 1}) gs(pos)
      GROUP BY a.cluster, gs.pos
    ) GROUP BY cluster
  ) m USING (rk)
)""")
    return "".join(parts), f"cents{iters}"


def _sql_kmeans_assign(final: str, table: str = "embeddings") -> str:
    """Final-assignment SELECT body (vec_id, cluster, cos) against the
    converged centroid CTE — used as the kmeans oracle's tail and as the
    `asg` CTE of composed oracles."""
    return f"""SELECT vec_id, CAST(rk AS BIGINT) AS cluster, cos FROM (
  SELECT e.vec_id, {final}.rk, {_KM_COS_TPL.format(c=final)} AS cos,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_KM_COS_TPL.format(c=final)} DESC, {final}.rk) AS rn
  FROM {table} e CROSS JOIN {final}
) WHERE rn = 1"""


def _sql_kmeans(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    chain, final = _sql_kmeans_chain(k, iters, dim)
    return "WITH " + chain + "\n" + _sql_kmeans_assign(final)


SQL_KMEANS_EMBEDDINGS = _sql_kmeans()


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.99, n_bits: int = 8,
    n_bands: int = 4, groups: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: banded multi-probe LSH + exact refine.

    The default threshold stays at the original 0.99 (strict near-identity);
    callers wanting looser matches pass threshold explicitly — the driver
    query passes 0.9 to exercise the planted-twin corpus.

    The n_bits hyperplane signature is split into n_bands bands; candidates
    are pairs sharing ANY band value — one equi-join shuffle on (band, bval),
    never an all-pairs cross join. By pigeonhole this catches every pair whose
    signatures differ in <= n_bands-1 bits (default: Hamming <= 3). For a pair
    at angle θ each plane splits it with p = θ/π, so the miss probability is
    P[Ham > n_bands-1] — at cos >= 0.99 (θ <= 8.1°, p ≈ 0.045) that is
    ~4e-4 with the 8-bit/4-band default, vs ~31% for the single-probe
    same-bucket join this replaces. The exact cosine refine then keeps only
    true pairs, so precision is exact; scale the signature width (n_bits) to
    shrink candidate buckets at corpus scale (candidates ~ n²·bands/2^bits
    per band value).

    `groups` (optional: a (vec_id, cluster) frame, e.g. a kmeans
    assignment) restricts the search to SAME-GROUP pairs — the SemDeDup
    move: the cluster id rides the band join key, so cross-cluster
    candidates never materialize and each band bucket shrinks by the
    cluster fan-out."""
    planes = _hyperplanes(n_bits, 64)
    bits_per_band = n_bits // n_bands
    bmask = (1 << bits_per_band) - 1
    # Bands travel SLIM — (vec_id, band, bval) only. Carrying the embedding
    # through the explode would replicate every vector n_bands times through
    # the band-join shuffle and key the dedup on full arrays; instead the
    # candidate distinct is two longs per row and the vectors join back once
    # for the refine (minhash_lsh_pairs' shape). Pinned so the self-join
    # doesn't recompute the n_bits hyperplane signature per side.
    bands = (
        embeddings.select("vec_id", "embedding")
        .withColumn("bucket", _bucket_col(planes))
        .select(
            "vec_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("bucket"), i * bits_per_band)
                        .bitwiseAND(F.lit(bmask))
                        .alias("bval"),
                    )
                    for i in range(n_bands)
                ])
            ).alias("bb"),
        )
        .select("vec_id", F.col("bb.band").alias("band"),
                F.col("bb.bval").alias("bval"))
    )
    join_keys = ["band", "bval"]
    if groups is not None:
        bands = bands.join(
            groups.select("vec_id", "cluster"), "vec_id"
        )
        join_keys = ["cluster", "band", "bval"]
    bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, join_keys)
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # same post-AQE floor as minhash_lsh_pairs: candidate rows are bytes-tiny
    # but each pays a full-vector dot product in the refine
    cand = cand.repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    ea = embeddings.select(F.col("vec_id").alias("vec_a"),
                           F.col("embedding").alias("ea"))
    ebb = embeddings.select(F.col("vec_id").alias("vec_b"),
                            F.col("embedding").alias("eb"))
    cos = F.round(_cos_cols("ea", "eb"), 6)
    return (
        cand.join(ea, "vec_a")
        .join(ebb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def q_embedding_near_dup(spark, sf_dir):
    """Driver query: the corpus has no natural near-dups (max pairwise cosine
    ~0.5-0.6 at every SF), so a deterministic planted-duplicate table makes
    the check non-vacuous: each vector gets a perturbed twin (every component
    +0.02, vec_id+1000000) at cosine ~0.987-0.991, far above the 0.9
    threshold, while non-planted pairs stay below ~0.72. The DuckDB oracle is
    the exact all-pairs twin over the same augmented table (the way the
    minhash oracle gates the LSH path)."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") + F.lit(0.02)).cast("float")
        ).alias("embedding"),
    )
    return embedding_near_dup_pairs(e.unionByName(planted), threshold=0.9)


SQL_EMBEDDING_NEAR_DUP = """
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT)) AS embedding
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         / (SQRT(list_reduce(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
          * SQRT(list_reduce(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
         6) AS cos
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE ROUND(
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         / (SQRT(list_reduce(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
          * SQRT(list_reduce(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
         6) >= 0.9
"""


def semantic_dedup_keep(
    embeddings: DataFrame,
    threshold: float = 0.99,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    n_bits: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication endpoint: k-means cluster the
    corpus (`kmeans_embeddings`), search cosine near-duplicates WITHIN
    clusters only (`embedding_near_dup_pairs(groups=...)` — the cluster id
    rides the band join key), collapse pair groups with connected
    components, and keep the min-id representative of each group. Returns
    the kept rows as (vec_id, cluster).

    Scale shape: the clustering is the broadcast-literal Lloyd pass; the
    near-dup search is one banded equi-join whose buckets shrink by the
    cluster fan-out; CC runs over the tiny pair graph; the final drop-list
    is anti-joined without a hint (`drop_cluster_members`: AQE broadcasts
    it while small) — the corpus is never all-pairs joined. The documented
    recall trade is SemDeDup's own: near-dups that straddle a cluster
    boundary are not searched (raise k-means `iters`/lower `k` to
    tighten)."""
    assign = (
        kmeans_embeddings(embeddings, k, iters, dim)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)  # reused by the band join AND the output
    )
    pairs = embedding_near_dup_pairs(
        embeddings, threshold, n_bits, n_bands, groups=assign
    )
    cc = connected_components(
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    )
    return drop_cluster_members(assign, cc, "vec_id").select("vec_id", "cluster")


def q_semantic_dedup_keep(spark, sf_dir):
    """Driver query: the q_embedding_near_dup planted-twin corpus (each
    vector gets a +0.02 perturbed twin at cosine ~0.987-0.991) through the
    full SemDeDup endpoint at threshold 0.9 — twins that share their
    original's k-means cluster collapse onto the original; the oracle
    replays clustering, the within-cluster exact pair search, the
    transitive closure, and the keep rule."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x.cast("double") + F.lit(0.02)).cast("float"),
        ).alias("embedding"),
    )
    return semantic_dedup_keep(e.unionByName(planted), threshold=0.9)


def _sql_semantic_dedup_keep(
    k: int = 8, iters: int = 2, dim: int = 64
) -> str:
    # Oracle caveat: this replay searches pairs EXACTLY within each cluster,
    # while semantic_dedup_keep finds candidates by banded LSH, whose recall
    # is below 1 for pairs near the cosine threshold. The two agree only
    # while no pair sits near the threshold — true of the planted corpus
    # (twins at cosine ~0.987-0.991 against 0.9), not of arbitrary data.
    chain, final = _sql_kmeans_chain(k, iters, dim, table="aug")
    cos_ab = """ROUND(
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         / (SQRT(list_reduce(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
          * SQRT(list_reduce(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
         6)"""
    return f"""
WITH RECURSIVE aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT)) AS embedding
  FROM embeddings
),
{chain},
asg AS (
{_sql_kmeans_assign(final, table="aug")}
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM aug a
  JOIN asg sa ON a.vec_id = sa.vec_id
  JOIN aug b ON a.vec_id < b.vec_id
  JOIN asg sb ON b.vec_id = sb.vec_id AND sa.cluster = sb.cluster
  WHERE {cos_ab} >= 0.9
),
edges AS (
  SELECT va AS src, vb AS dst FROM pairs
  UNION
  SELECT vb, va FROM pairs
),
reach (vec_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.vec_id
),
drops AS (
  SELECT vec_id FROM reach GROUP BY vec_id HAVING vec_id != MIN(label)
)
SELECT s.vec_id, s.cluster FROM asg s
WHERE s.vec_id NOT IN (SELECT vec_id FROM drops)
"""


SQL_SEMANTIC_DEDUP_KEEP = _sql_semantic_dedup_keep()


# --------------------------------------------------------------------------
# Text analysis: language-ID, fingerprinting, BPE-ish token counting
# --------------------------------------------------------------------------

_LANG_PATTERNS = {
    "en": "(the|and|ing|tion|of )",
    "de": "(der|und|sch|ein|ung)",
    "fr": "(les|que|eau|ent|est)",
}


def lang_cols(text_col: str = "text") -> dict:
    """Language-ID Column expressions (marker-n-gram counts per profile +
    the argmax guess, ties en > de > fr) — named Columns, not a DataFrame,
    so corpus pipelines fold language-ID into the same single scan as the
    other per-doc signals (no join, whole-stage codegen)."""
    scores = {
        k: F.size(F.regexp_extract_all(F.col(text_col), F.lit(p), 0))
        for k, p in _LANG_PATTERNS.items()
    }
    guess = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en"
        )
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return {"scores": scores, "guess": guess}


def q_lang_id(spark, sf_dir):
    """Character-n-gram language heuristic: count marker n-grams per
    language profile, argmax wins (ties broken en > de > fr)."""
    d = _t(spark, sf_dir, "documents")
    lc = lang_cols()
    scores, guess = lc["scores"], lc["guess"]
    return d.select(
        "doc_id",
        scores["en"].cast("long").alias("s_en"),
        scores["de"].cast("long").alias("s_de"),
        scores["fr"].cast("long").alias("s_fr"),
        guess.alias("guess"),
    )


SQL_LANG_ID = """
SELECT doc_id,
       len(regexp_extract_all(text, '(the|and|ing|tion|of )')) AS s_en,
       len(regexp_extract_all(text, '(der|und|sch|ein|ung)')) AS s_de,
       len(regexp_extract_all(text, '(les|que|eau|ent|est)')) AS s_fr,
       CASE WHEN len(regexp_extract_all(text, '(the|and|ing|tion|of )')) >= len(regexp_extract_all(text, '(der|und|sch|ein|ung)'))
             AND len(regexp_extract_all(text, '(the|and|ing|tion|of )')) >= len(regexp_extract_all(text, '(les|que|eau|ent|est)'))
            THEN 'en'
            WHEN len(regexp_extract_all(text, '(der|und|sch|ein|ung)')) >= len(regexp_extract_all(text, '(les|que|eau|ent|est)'))
            THEN 'de' ELSE 'fr' END AS guess
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Rolling polynomial hash over the token stream (document
    fingerprinting) — portable arithmetic (first-codepoint + length per
    token), so the DuckDB oracle folds the identical recurrence."""
    d = _t(spark, sf_dir, "documents")
    tok_val = lambda t: (  # noqa: E731
        F.when(F.length(t) > 0, F.ascii(t) * 7 + F.length(t)).otherwise(0).cast("long")
    )
    fp = F.aggregate(
        F.split("text", " "),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(31) + tok_val(t), F.lit(2147483647)),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
             t -> CAST(CASE WHEN length(t) > 0 THEN unicode(t) * 7 + length(t) ELSE 0 END AS BIGINT))),
         (acc, v) -> (acc * 31 + v) % 2147483647) AS fingerprint
FROM documents
"""


def q_bpe_token_count(spark, sf_dir):
    """Token counting: whitespace tokens vs a BPE-ish regex segmentation
    (letter runs / digit runs / single punctuation)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("([a-z]+|[0-9]+|[^a-z0-9 ])"), 0)
        )
        .cast("long")
        .alias("n_bpe"),
    )


SQL_BPE_TOKEN_COUNT = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws,
       len(regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])')) AS n_bpe
FROM documents
"""


# --------------------------------------------------------------------------
# Raster side: event stream -> tile heatmap -> vector bridge
# --------------------------------------------------------------------------

_HEATMAP_Z = 6


def _event_points(df: DataFrame) -> DataFrame:
    """Deterministic synthetic coordinates per event (no runtime RNG)."""
    lon = F.pmod(F.col("event_id") * 7919, F.lit(36000)) / 100.0 - 180.0
    lat = F.pmod(F.col("event_id") * 104729, F.lit(16000)) / 100.0 - 80.0
    return df.withColumn("lon", lon).withColumn("lat", lat)


def heatmap_cells(df: DataFrame, z: int = _HEATMAP_Z) -> DataFrame:
    z2 = 1 << z
    cx = F.least(
        F.lit(z2 - 1), F.floor(project_x_col(F.col("lon")) * z2)
    ).cast("long")
    cy = F.least(
        F.lit(z2 - 1), F.floor(project_y_col(F.col("lat")) * z2)
    ).cast("long")
    return df.withColumn("cx", cx).withColumn("cy", cy)


SESSION_GAP_US = 28_800_000_000  # 8h inactivity closes a session


def sessionize_events(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based sessionization: per entity, a new session starts when the
    inactivity gap to the previous event exceeds `gap_us` microseconds;
    session ids are the running count of session starts (1-based, dense,
    deterministic — ties in ts break by `order_tiebreak`).

    One shuffle total: the lag/running-sum windows and the per-session
    aggregate all cluster on the entity hash partitioning (Catalyst reuses
    the exchange for the groupBy). Returns per-session rows: (user_id,
    session_id, n_events, start_us, end_us, total_value).

    The events table's ts is TIMESTAMP_NTZ; micros come from a timestamp
    diff against an NTZ epoch literal, NOT unix_micros (which would force
    a cast through the session time zone and desync from DuckDB's
    zone-less epoch_us).

    `value_col` names the column summed into total_value; pass None to omit
    total_value. The default "value" is dropped silently when the frame has
    no such column (event tables that carry no value measure); any other
    name that is not a column raises ValueError.
    """
    if value_col is not None and value_col not in events.columns:
        if value_col != "value":
            raise ValueError(
                f"sessionize_events: value_col {value_col!r} is not a column "
                f"of the events frame ({', '.join(events.columns)})"
            )
        value_col = None
    us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" {ts_col})"
    )
    cols = [entity_col, F.col(order_tiebreak), us.alias("_us")]
    if value_col is not None:
        cols.append(F.col(value_col).alias("_val"))
    base = events.select(*cols)
    w = Window.partitionBy(entity_col).orderBy(
        F.col("_us").asc(), F.col(order_tiebreak).asc()
    )
    prev = F.lag("_us").over(w)
    new_s = (prev.isNull() | ((F.col("_us") - prev) > gap_us)).cast("long")
    sess = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("_us").alias("start_us"),
        F.max("_us").alias("end_us"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum("_val"), 9).alias("total_value"))
    return (
        base.withColumn("session_id", sess)
        .groupBy(entity_col, "session_id")
        .agg(*aggs)
    )


def q_event_sessions(spark, sf_dir):
    return sessionize_events(_t(spark, sf_dir, "events"))


SQL_EVENT_SESSIONS = f"""
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
), m AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {SESSION_GAP_US}
            THEN 1 ELSE 0 END AS ns
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM m
)
SELECT user_id,
       CAST(sess AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(us) AS start_us,
       MAX(us) AS end_us,
       ROUND(SUM(value), 9) AS total_value
FROM s GROUP BY user_id, sess
"""


def q_events_tile_heatmap(spark, sf_dir):
    """Raster path: hourly z6 tile heatmap of the event stream — one
    partial-agg shuffle on (hour, cx, cy). The streaming twin
    (streaming/tile_stream.py) runs the identical plan with a watermark."""
    ev = _event_points(_t(spark, sf_dir, "events"))
    cells = heatmap_cells(ev)
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    return (
        cells.groupBy(hour.alias("hour_start"), "cx", "cy")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


SQL_EVENTS_TILE_HEATMAP = """
WITH pts AS (
  SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
         (event_id * 7919) % 36000 / 100.0 - 180.0 AS lon,
         (event_id * 104729) % 16000 / 100.0 - 80.0 AS lat,
         value
  FROM events
), cells AS (
  SELECT hour_start,
         CAST(LEAST(63, FLOOR((lon / 360.0 + 0.5) * 64)) AS BIGINT) AS cx,
         CAST(LEAST(63, FLOOR((0.5 - 0.25 * LN((1 + SIN(lat * PI() / 180.0)) / (1 - SIN(lat * PI() / 180.0))) / PI()) * 64)) AS BIGINT) AS cy,
         value
  FROM pts
)
SELECT hour_start, cx, cy, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM cells GROUP BY 1, 2, 3
"""


def q_raster_vector_bridge(spark, sf_dir):
    """Raster<->vector bridge: z6 heatmap cells joined back to vector
    'nation' bboxes (cell-center point-in-bbox, broadcast dim) -> per-nation
    event totals. Tile key space on one side, geometry on the other."""
    heat = q_events_tile_heatmap(spark, sf_dir)
    z2 = 1 << _HEATMAP_Z
    # cell center in mercator unit space -> lon/lat
    mx = (F.col("cx") + 0.5) / z2
    my = (F.col("cy") + 0.5) / z2
    from .functions.projection import unproject_x_col, unproject_y_col

    pts = heat.select(
        "n_events",
        unproject_x_col(mx).alias("plon"),
        unproject_y_col(my).alias("plat"),
    )
    nk = F.col("n_nationkey")
    boxes = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.pmod(nk * 13, F.lit(340)).cast("double") - 175.0).alias("minlon"),
        (
            F.pmod(nk * 13, F.lit(340)).cast("double")
            - 175.0
            + 12
            + F.pmod(nk, F.lit(7)).cast("double")
        ).alias("maxlon"),
        (F.pmod(nk * 29, F.lit(140)).cast("double") - 72.0).alias("minlat"),
        (
            F.pmod(nk * 29, F.lit(140)).cast("double")
            - 72.0
            + 8
            + F.pmod(nk, F.lit(5)).cast("double")
        ).alias("maxlat"),
    )
    joined = pts.join(
        F.broadcast(boxes),
        (F.col("plon") >= F.col("minlon"))
        & (F.col("plon") < F.col("maxlon"))
        & (F.col("plat") >= F.col("minlat"))
        & (F.col("plat") < F.col("maxlat")),
    )
    return (
        joined.groupBy("n_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_events").alias("n_events"),
        )
    )


SQL_RASTER_VECTOR_BRIDGE = """
WITH pts AS (
  SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
         (event_id * 7919) % 36000 / 100.0 - 180.0 AS lon,
         (event_id * 104729) % 16000 / 100.0 - 80.0 AS lat
  FROM events
), cells AS (
  SELECT hour_start,
         CAST(LEAST(63, FLOOR((lon / 360.0 + 0.5) * 64)) AS BIGINT) AS cx,
         CAST(LEAST(63, FLOOR((0.5 - 0.25 * LN((1 + SIN(lat * PI() / 180.0)) / (1 - SIN(lat * PI() / 180.0))) / PI()) * 64)) AS BIGINT) AS cy
  FROM pts
), heat AS (
  SELECT hour_start, cx, cy, COUNT(*) AS n_events FROM cells GROUP BY 1, 2, 3
), centers AS (
  SELECT n_events,
         ((cx + 0.5) / 64 - 0.5) * 360 AS plon,
         360 * ATAN(EXP((180 - ((cy + 0.5) / 64) * 360) * PI() / 180.0)) / PI() - 90 AS plat
  FROM heat
), boxes AS (
  SELECT n_nationkey,
         (n_nationkey * 13) % 340 - 175.0 AS minlon,
         (n_nationkey * 13) % 340 - 175.0 + 12 + (n_nationkey % 7) AS maxlon,
         (n_nationkey * 29) % 140 - 72.0 AS minlat,
         (n_nationkey * 29) % 140 - 72.0 + 8 + (n_nationkey % 5) AS maxlat
  FROM nation
)
SELECT n_nationkey, COUNT(*) AS n_cells, CAST(SUM(n_events) AS BIGINT) AS n_events
FROM centers JOIN boxes
  ON plon >= minlon AND plon < maxlon AND plat >= minlat AND plat < maxlat
GROUP BY n_nationkey
"""


# --------------------------------------------------------------------------
# Dedup clustering: connected components over the near-dup pair graph
# --------------------------------------------------------------------------


def cc_round(both: DataFrame, labels: DataFrame) -> DataFrame:
    """One label-propagation round: equi-join labels onto edge sources,
    push each label to the destination, keep the per-vertex minimum. One
    shuffle (the join; the min-agg partial-aggregates into it)."""
    prop = both.join(
        labels.select(F.col("doc_id").alias("src"), "label"), "src"
    ).select(F.col("dst").alias("doc_id"), "label")
    return (
        labels.unionByName(prop)
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )


def _cc_bidir(pairs: DataFrame) -> DataFrame:
    """Canonical bidirectional edge frame: both directions, no self-loops,
    distinct. One shuffle (the distinct)."""
    return (
        pairs.union(pairs.select(F.col("dst"), F.col("src")))
        .toDF("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_step(both: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.
    small-star(u): m = min(N^-(u) ∪ {u}) over smaller neighbors only; emit
    (v, m) for v in N^-(u) and (u, m).

    Plan per step: one partial-agg min per vertex + one equi-join back to
    the edges — the same single-shuffle shape as cc_round, but the edge set
    contracts toward stars in O(log n) rounds on ANY graph diameter."""
    nb = both if large else both.where(F.col("dst") < F.col("src"))
    m = (
        nb.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
    )
    if large:
        return (
            both.where(F.col("dst") > F.col("src"))
            .join(m, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
    joined = nb.join(m, "src")
    return joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        joined.select(F.col("src"), F.col("m").alias("dst"))
    )


def _edge_sig(both: DataFrame) -> tuple:
    """Cheap fixed-point detector: (row count, two order-free modular hash
    sums). Hashes are reduced mod two distinct Mersenne-scale primes before
    summing so the agg stays exact in int64 under ANSI mode (raw xxhash64
    sums overflow)."""
    h = F.xxhash64("src", "dst")
    row = both.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("h1"),
        F.sum(F.pmod(h, F.lit(2147483629))).alias("h2"),
    ).collect()[0]
    return (row["c"], row["h1"], row["h2"])


def connected_components_star(edges: DataFrame, _stats: dict = None) -> DataFrame:
    """Alternating large-star/small-star contraction: converges in O(log n)
    driver-synced rounds regardless of component diameter — where
    `connected_components` escalates on adversarial diameters
    (chained-template corpora), since its min-label propagation pays
    O(diameter) rounds."""
    both = _cc_bidir(edges).localCheckpoint(eager=True)
    # vertex universe up front: star contraction keeps every vertex incident
    # to an edge, but self-loop-only vertices in the INPUT must still label
    # themselves (parity with label propagation)
    verts = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _edge_sig(both)
    rounds = 0
    while True:
        both = _cc_bidir(_star_step(both, large=True)).localCheckpoint(eager=True)
        both = _cc_bidir(_star_step(both, large=False)).localCheckpoint(eager=True)
        rounds += 1
        new_sig = _edge_sig(both)
        if new_sig == sig:
            break
        sig = new_sig
    if _stats is not None:
        _stats["star_rounds"] = rounds
    labels = (
        both.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("_mn"), F.col("src")).alias("cluster_rep"),
        )
    )
    return verts.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias("cluster_rep")
    )


_CC_ROUND_BUDGET = 8  # label-propagation rounds before star contraction


def connected_components(edges: DataFrame, _stats: dict = None) -> DataFrame:
    """Connected components over an undirected edge list (src, dst) ->
    (doc_id, cluster_rep) for every vertex, rep = component minimum.

    Min-label propagation first: ONE shuffle per round (edge-label equi-join
    + partial-agg min), rounds bounded by component diameter — near-dup
    graphs are near-cliques, so this converges in 2-3 rounds. If a
    pathological diameter (chained templates) is still changing labels after
    `_CC_ROUND_BUDGET` rounds, the partial labels join the edge set as
    (vertex -> label) edges — keeping the contraction already paid for — and
    large-star/small-star contraction (`connected_components_star`, O(log n)
    rounds on any diameter) finishes. The escalation is driven by the round
    count the loop observes, not by the caller.

    Labels are localCheckpoint-ed per round: lineage cut + one stable frame
    per round, the same driver-synchronized-loop pattern as the kNN ring
    search."""
    both = edges.union(edges.select(F.col("dst"), F.col("src"))).toDF("src", "dst")
    both = both.distinct().localCheckpoint(eager=True)
    labels = (
        both.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    while True:
        new_labels = cc_round(both, labels).localCheckpoint(eager=True)
        rounds += 1
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
        if rounds >= _CC_ROUND_BUDGET:
            if _stats is not None:
                _stats["label_rounds"] = rounds
                _stats["escalated"] = True
            contracted = both.unionByName(
                labels.where(F.col("doc_id") != F.col("label")).select(
                    F.col("doc_id").alias("src"), F.col("label").alias("dst")
                )
            )
            return connected_components_star(contracted, _stats=_stats)
    if _stats is not None:
        _stats["label_rounds"] = rounds
        _stats["escalated"] = False
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


def drop_cluster_members(
    frame: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The dedup keep rule: drop every row of `frame` whose id is a
    non-representative member of a near-dup cluster (`clusters` =
    connected_components output). The drop list joins as a plain left
    anti-join: AQE broadcasts it from its measured size while it is small
    and shuffles both sides when a web-scale corpus yields a corpus-sized
    drop list (plan-gated in tests/test_plans.py under
    autoBroadcastJoinThreshold=-1)."""
    drops = clusters.where(F.col("doc_id") != F.col("cluster_rep")).select(
        F.col("doc_id").alias(id_col)
    )
    return frame.join(drops, id_col, "left_anti")


def q_dedup_cluster_cc(spark, sf_dir):
    """Canonical representative per near-dup cluster: connected components
    over the near-dup pair graph, so chains of pairwise near-dups (a~b,
    b~c, but a!~c) still collapse to ONE keeper — the grouping step every
    dedup pipeline runs after pair generation. Pairs come from the r=1
    exact-recall minhash mode (b=16, r=1: miss 2^-16 per qualifying pair),
    because THIS query's oracle is the exact transitive closure; a corpus
    pipeline would feed CC the banded (r=4) pairs instead — the CC operator
    is agnostic to how the edge list was generated. bucket_cap=None is part
    of the exact-recall contract: in r=1 mode a band bucket keys on a
    SINGLE minhash value, so common tokens concentrate docs into few
    buckets and the default cap would silently drop their pairs — breaking
    the closure oracle on any source past the cap."""
    pairs = minhash_lsh_pairs(
        _docs_tokens(spark, sf_dir), threshold=0.5, n_hashes=16, n_bands=16,
        bucket_cap=None,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(pairs)


def q_dedup_keep(spark, sf_dir):
    """The corpus-dedup endpoint: drop every non-representative member of a
    near-dup cluster, keep everything else (`drop_cluster_members`)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return drop_cluster_members(d, q_dedup_cluster_cc(spark, sf_dir))


SQL_DEDUP_KEEP = """
WITH RECURSIVE d AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach (doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
),
drops AS (
  SELECT doc_id FROM reach GROUP BY doc_id HAVING doc_id != MIN(label)
)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


SQL_DEDUP_CLUSTER_CC = """
WITH RECURSIVE d AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach (doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
)
SELECT doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Stratified sampling: deterministic per-source cap (balanced corpus draws)
# --------------------------------------------------------------------------


def stratified_sample(d: DataFrame, k: int) -> DataFrame:
    """Keep the k docs with the smallest content hash per source stratum —
    a deterministic, engine-portable balanced sample (same doc set on every
    run, every engine, any partitioning).

    Scale shape: a naive per-stratum ROW_NUMBER sorts entire strata
    (billions of rows each at corpus scale). Instead: (1) one partial-agg
    count per stratum; (2) broadcast the tiny strata dim and pre-filter on
    the hash prefix at 4k/n — survivors are ~4k rows per stratum
    (P[< k survivors] is Chernoff-negligible, but NOT assumed: strata whose
    survivor count dips below min(k, n) fall back to all their rows, so the
    result is exactly the k smallest hashes regardless); (3) rank only the
    ~4k survivors. The big table is touched by one filter scan + one
    shuffle of ~4k rows per stratum."""
    h = F.md5(F.col("doc_id").cast("string"))
    d = d.select("doc_id", "source").withColumn("hkey", h)
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    # first 8 hex chars as a uniform 32-bit draw
    u = F.conv(F.substring("hkey", 1, 8), 16, 10).cast("long")
    cut = F.when(
        F.col("n") <= F.lit(4 * k), F.lit(float(1 << 32))
    ).otherwise(F.lit(4.0 * k * (1 << 32)) / F.col("n"))
    cand = d.join(F.broadcast(counts), "source").where(u < cut)
    surv = cand.groupBy("source").agg(F.count("*").alias("n_surv"))
    short = (
        surv.join(counts, "source")
        .where(F.col("n_surv") < F.least(F.lit(k), F.col("n")))
        .select("source")
    )
    cand = cand.select("source", "doc_id", "hkey").unionByName(
        d.join(F.broadcast(short), "source")
        .join(cand.select("source", "doc_id"), ["source", "doc_id"], "left_anti")
        .select("source", "doc_id", "hkey")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("hkey").asc(), F.col("doc_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("source", "doc_id", "rank")
    )


def q_stratified_sample(spark, sf_dir):
    """Balanced 50-doc draw per source over the documents table."""
    return stratified_sample(_t(spark, sf_dir, "documents"), k=50)


SQL_STRATIFIED_SAMPLE = """
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents
)
SELECT source, doc_id, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 50
"""


QUERIES = {
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "dedup_cluster_cc": q_dedup_cluster_cc,
    "stratified_sample": q_stratified_sample,
    "dedup_keep": q_dedup_keep,
    "simhash_dedup": q_simhash_dedup,
    "ann_cosine_topk_lsh": q_ann_cosine_topk_lsh,
    "ann_cosine_topk_ivf": q_ann_cosine_topk_ivf,
    "kmeans_embeddings": q_kmeans_embeddings,
    "semantic_dedup_keep": q_semantic_dedup_keep,
    "ann_join": q_ann_join,
    "embedding_near_dup": q_embedding_near_dup,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "bpe_token_count": q_bpe_token_count,
    "events_tile_heatmap": q_events_tile_heatmap,
    "event_sessions": q_event_sessions,
    "raster_vector_bridge": q_raster_vector_bridge,
}

ORACLES = {
    # FULL-pipeline replay of the b=16 x r=4 banding over md5_60 base hashes
    # (signatures, band join, candidates, refine) — exact by construction,
    # including the S-curve's designed near-threshold misses
    "minhash_lsh_dedup": _SQL_MINHASH_ORACLE,
    # transitive closure of the same pair graph; MIN over reachable labels
    # is exactly the component minimum the Spark loop converges to
    "dedup_cluster_cc": SQL_DEDUP_CLUSTER_CC,
    # the oracle ranks whole strata (fine at sf); the Spark plan pre-filters
    # on the hash prefix so only ~4k rows per stratum are ever sorted
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "dedup_keep": SQL_DEDUP_KEEP,
    # full-pipeline replay over the same md5-derived bits (banding omitted:
    # recall-exact by pigeonhole, so ham<=3 pairs are the ground truth)
    "simhash_dedup": SQL_SIMHASH_DEDUP,
    # banded multi-probe catches every pair with signature Hamming <= 3;
    # planted twins sit at Hamming <= 2 on this corpus (verified per SF), so
    # the exact all-pairs twin is a valid oracle
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    # full-pipeline replay: the plane weights are exact int64 arithmetic
    # ((p*64+d)*2654435761 + 0x9E3779B9 mod 2^32 — identical in DuckDB's
    # BIGINT and Python's ints), bucket bits compare the SAME ordered fold
    # both engines run, and the refine reuses the proven exact-ANN fold
    "ann_cosine_topk_lsh": SQL_ANN_COSINE_TOPK_LSH,
    # full-pipeline replay: centroid pick (md5 hex order), assignment argmax
    # (rounded-cos window), probe set, candidate refine — the folds and the
    # literal centroid norm are the same sequential IEEE left folds
    "ann_cosine_topk_ivf": SQL_ANN_COSINE_TOPK_IVF,
    "kmeans_embeddings": SQL_KMEANS_EMBEDDINGS,
    "semantic_dedup_keep": SQL_SEMANTIC_DEDUP_KEEP,
    # the same full-pipeline replay, generalized to the batch-query join
    # (bands on both sides, per-query window)
    "ann_join": SQL_ANN_JOIN,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "bpe_token_count": SQL_BPE_TOKEN_COUNT,
    "events_tile_heatmap": SQL_EVENTS_TILE_HEATMAP,
    "event_sessions": SQL_EVENT_SESSIONS,
    "raster_vector_bridge": SQL_RASTER_VECTOR_BRIDGE,
}
