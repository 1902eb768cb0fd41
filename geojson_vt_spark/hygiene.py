"""Corpus-hygiene operators for the training-data pipeline: test-set
decontamination, corpus-wide frequent-line removal, PII scrubbing, and
sequence packing.

These are the standard pre-training data-hygiene passes that sit next to the
dedup/quality family (`analytics.py`, `training.py`): before a 100 TB corpus
feeds a training run you (1) strip documents that overlap the evaluation
sets, (2) drop boilerplate lines that repeat across the corpus, (3) redact
PII, and (4) pack documents into fixed token-budget training sequences.

Every operator here is pure Column algebra — whole-stage codegen, zero
Python rows — with one production plan each, and every driver query has a
full-pipeline DuckDB oracle. Where the right join depends on data size, AQE
picks it from the measured size at runtime; no caller picks a plan.

Scale shapes (the 100 TB story, per operator):

* decontaminate — the eval set's shingle table is tiny (eval suites are
  thousands of docs, not billions); it is DISTINCT-ed and broadcast. The
  corpus side explodes shingles but only rows that MATCH the broadcast ever
  reach the (partial-agg) count shuffle. The hit table joins back onto the
  corpus ids as a plain left join: its size is the contaminated-doc count,
  so AQE broadcasts it when small and shuffles it under mass contamination.
* line_dedup — pass 1 computes corpus-wide line frequencies via explode +
  partial-agg groupBy (map-side combine collapses it to ~unique-lines
  volume); pass 2 posexplodes every document's lines, marks the frequent
  ones with an equi-join on the line (AQE: broadcast-hash or shuffle join by
  the frequent-line table's size) and reassembles each document with one
  groupBy on the id, order restored from the line positions.
* pii_scrub — embarrassingly parallel regexp Column ops; nothing shuffles.
* sequence_pack — two-level packing: a range exchange cuts every source
  into order-contiguous shards (`spark.sql.shuffle.partitions` of them),
  shard-local running sums plus a broadcast cumsum of the tiny per-shard
  totals give the exact global per-source bins, so a giant source packs
  across many tasks instead of one window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# 1. test-set decontamination

DECONTAM_NGRAM = 8  # shingle width in tokens (13 in GPT-3's filter; the
# synthetic docs are short, so the driver query uses 8)
EVAL_MOD = 97  # doc_id % 97 == 0 marks the deterministic "eval suite"


def ngram_shingles(text_col, n: int, hash_fn: str = "xxhash64"):
    """All consecutive n-token shingles of a space-tokenized text column,
    hashed down to a join key (never raw strings). hash_fn: 'xxhash64'
    (library default — an 8-byte key, so the eval broadcast table and the
    exploded corpus column carry fixed 8-byte values instead of 32-char
    hex strings; hashing CPU itself measures ~equal, the concat dominates)
    or 'md5' (engine-portable; the driver oracle replays it in DuckDB)."""
    toks = F.split(text_col, " ")
    cnt = F.size(toks)
    if hash_fn == "xxhash64":
        mk = lambda c: F.xxhash64(c)  # noqa: E731
        empty = F.array().cast("array<bigint>")
    elif hash_fn == "md5":
        mk = lambda c: F.md5(c)  # noqa: E731
        empty = F.array().cast("array<string>")
    else:
        raise ValueError(f"ngram_shingles: unknown hash_fn {hash_fn!r}")
    shingles = F.transform(
        F.sequence(F.lit(1), cnt - n + 1),
        lambda i: mk(F.concat_ws(" ", F.slice(toks, i, n))),
    )
    # F.sequence(1, stop) with stop < 1 yields a DESCENDING sequence, not an
    # empty one — docs shorter than n tokens must produce zero shingles
    return F.when(cnt >= n, shingles).otherwise(empty)


def contamination_hits(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DECONTAM_NGRAM,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The contaminated subset only: (doc_id, n_hits > 0) for corpus docs
    sharing at least one n-gram shingle with the eval set — ONE corpus scan
    (shingle explode) against a broadcast eval shingle table. Pipelines that
    just need the drop-list use this directly; `decontaminate` adds the
    all-docs audit frame (a second corpus scan).

    The RESULT's size is bounded by the contaminated-doc count, not the
    eval-set size: consumers join it back without a broadcast hint, so AQE
    broadcasts it only while that count is small."""
    eval_shingles = (
        eval_docs.select(
            F.explode(ngram_shingles(F.col(text_col), n, hash_fn)).alias(
                "shingle"
            )
        )
        .distinct()
    )
    corpus_shingles = corpus.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(ngram_shingles(F.col(text_col), n, hash_fn))
        ).alias("shingle"),
    )
    return (
        corpus_shingles.join(F.broadcast(eval_shingles), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DECONTAM_NGRAM,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Flag corpus documents sharing any n-gram shingle with the eval set.

    Returns one row per corpus doc: (doc_id, n_hits = distinct shared
    shingles, contaminated). The eval shingle table is always broadcast.

    SIZE BOUND (ADVICE r4): the hit table joined back here is bounded by
    the number of CONTAMINATED CORPUS DOCS — not by the eval-set size. A
    clean-ish corpus keeps it tiny, but a boilerplate string shared
    between one eval doc and millions of corpus docs makes it corpus-sized.
    The join back is therefore a plain left equi-join on doc_id: AQE
    broadcasts the hits from their measured size when they are small and
    shuffles both sides when they are not (plan-gated in
    tests/test_plans.py under autoBroadcastJoinThreshold=-1)."""
    hits = contamination_hits(corpus, eval_docs, text_col, id_col, n, hash_fn)
    return corpus.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


CONTAM_MOD = 17  # corpus docs with doc_id % 17 == 0 get planted overlap


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus rarely overlaps itself at shingle width 8, so the
    driver query PLANTS contamination first (the same trick as q_pii_scrub):
    corpus docs with doc_id % 17 == 0 get the first 8 tokens of eval doc 0
    appended — shipped to every row as a broadcast one-row cross join, the
    shape a real leaked-benchmark string has at corpus scale."""
    d = _docs(spark, sf_dir)
    evals = d.where(F.col("doc_id") % EVAL_MOD == 0)
    ev0 = d.where(F.col("doc_id") == 0).select(
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, DECONTAM_NGRAM)
        ).alias("ev_prefix")
    )
    corpus = (
        d.where(F.col("doc_id") % EVAL_MOD != 0)
        .crossJoin(F.broadcast(ev0))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % CONTAM_MOD == 0,
                F.concat(F.col("text"), F.lit(" "), F.col("ev_prefix")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    # md5 pinned so the DuckDB oracle replays the identical shingle keys;
    # the library default stays xxhash64 (same split minhash uses)
    return decontaminate(corpus, evals, hash_fn="md5")


SQL_DECONTAMINATE = f"""
WITH ev0 AS (
  SELECT array_to_string(string_split(text, ' ')[1 : {DECONTAM_NGRAM}], ' ')
           AS ev_prefix
  FROM documents WHERE doc_id = 0
), tok AS (
  SELECT doc_id,
         string_split(
           CASE WHEN doc_id % {EVAL_MOD} <> 0 AND doc_id % {CONTAM_MOD} = 0
                THEN text || ' ' || ev_prefix ELSE text END, ' ') AS s
  FROM documents CROSS JOIN ev0
), sh AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(s) - {DECONTAM_NGRAM} + 1, 0) + 1),
           i -> md5(array_to_string(s[i : i + {DECONTAM_NGRAM} - 1], ' '))
         ) AS shingles
  FROM tok
), ev AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
  WHERE doc_id % {EVAL_MOD} = 0
), corp AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM sh
  WHERE doc_id % {EVAL_MOD} <> 0
), hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hits
  FROM corp c JOIN ev USING (shingle)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {EVAL_MOD} <> 0
"""


# ---------------------------------------------------------------------------
# 2. corpus-wide frequent-line removal (RefinedWeb/CCNet-style)

LINE_TOKENS = 10  # the synthetic docs carry no newlines, so "lines" are
# consecutive 10-token windows — the operator itself takes any line array
LINE_MAX_COUNT = 3  # lines appearing in > LINE_MAX_COUNT docs are boilerplate


def doc_lines(text_col, line_tokens: int = LINE_TOKENS):
    """Regroup a space-tokenized text column into consecutive fixed-width
    token windows — the stand-in for newline splitting on corpora whose
    documents carry real line structure."""
    toks = F.split(text_col, " ")
    n_lines = F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda j: F.concat_ws(
            " ", F.slice(toks, j * line_tokens + 1, line_tokens)
        ),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = LINE_TOKENS,
    max_count: int = LINE_MAX_COUNT,
) -> DataFrame:
    """Remove corpus-frequent lines from every document. Returns
    (doc_id, n_lines, n_kept, kept_md5); kept_md5 hashes the surviving
    lines joined in document order.

    Plan: posexplode lines, mark the frequent ones with an equi-join on the
    line, and reassemble each document with ONE groupBy(doc_id), order
    restored by sorting the collected (pos, line) structs. The size-adaptive
    choice is AQE's at runtime: the frequent-line table's measured size
    picks broadcast-hash vs shuffle join inside one plan, so the cost per
    line is a hash lookup at any boilerplate volume. Building the frame runs
    zero jobs.

    Null-text documents are excluded from the output (posexplode of a null
    array would drop them silently; filter or coalesce upstream to keep
    them).
    """
    docs = docs.where(F.col(text_col).isNotNull())
    lines = docs.select(
        F.col(id_col), doc_lines(F.col(text_col), line_tokens).alias("lines")
    )
    freq = (
        lines.select(F.explode("lines").alias("line"))
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_count)
        .select("line", F.lit(True).alias("_boiler"))
    )
    ex = lines.select(
        F.col(id_col),
        F.size("lines").alias("n_lines"),
        F.posexplode("lines").alias("pos", "line"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("pos", "line", "_boiler"))
    )
    kept_lines = F.transform(
        F.filter(ordered, lambda s: ~F.coalesce(s["_boiler"], F.lit(False))),
        lambda s: s["line"],
    )
    return ex.join(freq, "line", "left").groupBy(id_col).agg(
        F.first("n_lines").cast("long").alias("n_lines"),
        F.size(kept_lines).cast("long").alias("n_kept"),
        F.md5(F.concat_ws("\n", kept_lines)).alias("kept_md5"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup(_docs(spark, sf_dir))


SQL_LINE_DEDUP = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS s FROM documents
), dl AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(s) / {LINE_TOKENS}.0) AS INT)),
           j -> array_to_string(
                  s[j * {LINE_TOKENS} + 1 : j * {LINE_TOKENS} + {LINE_TOKENS}],
                  ' ')
         ) AS lines
  FROM tok
), freq AS (
  SELECT line FROM (SELECT unnest(lines) AS line FROM dl)
  GROUP BY line HAVING COUNT(*) > {LINE_MAX_COUNT}
), boiler AS (
  SELECT COALESCE((SELECT list(line) FROM freq), []) AS bl
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(list_filter(lines, x -> NOT list_contains(bl, x))) AS BIGINT)
         AS n_kept,
       md5(array_to_string(list_filter(lines, x -> NOT list_contains(bl, x)),
                           chr(10))) AS kept_md5
FROM dl CROSS JOIN boiler
"""


# ---------------------------------------------------------------------------
# 3. PII scrubbing

# patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{4}\b"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_cols(text_col: str = "text") -> dict:
    """PII-scrub Column expressions: per-doc match counts plus the redacted
    text. Returned as named Columns so pipelines fold them into one scan
    (same contract as `analytics.quality_cols`). Redaction order matters:
    IPs are redacted before phones so `1.2.3.4` can't half-match the phone
    pattern, and emails before both so the host part survives intact."""
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_IP, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return {
        "n_emails": F.regexp_count(c, F.lit(PII_EMAIL)).cast("long"),
        "n_phones": F.regexp_count(
            F.regexp_replace(F.regexp_replace(c, PII_EMAIL, ""), PII_IP, ""),
            F.lit(PII_PHONE),
        ).cast("long"),
        "n_ips": F.regexp_count(
            F.regexp_replace(c, PII_EMAIL, ""), F.lit(PII_IP)
        ).cast("long"),
        "redacted": redacted,
    }


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus carries no PII, so the driver query PLANTS
    deterministic PII spans first (email on doc_id%7, phone on doc_id%11,
    IP on doc_id%13) and then scrubs them — the oracle replays both the
    planting and the scrub."""
    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-0199 now")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(" from 10.0.0."), F.col("doc_id") % 256),
        ).otherwise(F.lit("")),
    )
    pc = pii_cols("planted")
    return d.select("doc_id", planted.alias("planted")).select(
        "doc_id",
        pc["n_emails"].alias("n_emails"),
        pc["n_phones"].alias("n_phones"),
        pc["n_ips"].alias("n_ips"),
        F.md5(pc["redacted"]).alias("redacted_md5"),
    )


SQL_PII_SCRUB = rf"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199 now' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' from 10.0.0.' || (doc_id % 256) ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(
         regexp_replace(regexp_replace(t, '{PII_EMAIL}', '', 'g'),
                        '{PII_IP}', '', 'g'),
         '{PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(
         regexp_replace(t, '{PII_EMAIL}', '', 'g'),
         '{PII_IP}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IP}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM planted
"""


# ---------------------------------------------------------------------------
# 4. sequence packing

PACK_BUDGET = 256  # tokens per training sequence in the driver query


def _sharded_binned(
    base: DataFrame, budget: int, id_col: str, part_col: str
) -> DataFrame:
    """Two-level (sharded) bin assignment: exact same bins as a global
    per-source running-sum window, computed WITHOUT ever serializing a whole
    source through one task.

    Level 1 — shard: `repartitionByRange(part_col, id_col)` into
    `spark.sql.shuffle.partitions` ranges cuts every source into
    order-contiguous doc_id runs (`shard` is the range partition id, read
    inside the post-exchange stage). The running sum within each (shard,
    source) run is a window over at most one shard of rows — distributed
    across tasks.

    Level 2 — offset: the per-(shard, source) token totals are a tiny table
    (<= n_ranges + n_sources rows, since shards are contiguous); a cumsum
    over it per source gives each run's global prefix offset, broadcast
    back. `offset + local_prefix` reconstructs the exact global per-source
    prefix sum for ANY contiguous sharding, so bins do not depend on where
    the sampled range boundaries land (equality-tested against the
    one-window formula in tests/test_hygiene.py) — as long as both levels
    read the SAME sharding. Two evaluations of the range exchange sample
    their bounds independently, so `sharded` is cached: both levels scan one
    materialization even when Spark does not reuse the exchange
    (spark.sql.exchange.reuse=false)."""
    n_ranges = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sharded = (
        base.repartitionByRange(n_ranges, F.col(part_col).asc(), F.col(id_col).asc())
        .withColumn("shard", F.spark_partition_id())
        .cache()
    )
    wl = (
        Window.partitionBy("shard", part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sharded.withColumn("local_prefix", F.sum("n_tokens").over(wl))
    totals = sharded.groupBy("shard", part_col).agg(
        F.sum("n_tokens").alias("shard_tokens")
    )
    wo = (
        Window.partitionBy(part_col)
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "shard",
        part_col,
        F.coalesce(F.sum("shard_tokens").over(wo), F.lit(0))
        .cast("long")
        .alias("offset"),
    )
    return local.join(F.broadcast(offsets), ["shard", part_col]).withColumn(
        "bin",
        F.floor(
            (F.col("offset") + F.col("local_prefix") - F.col("n_tokens"))
            / budget
        ),
    )


def sequence_pack(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Pack documents into fixed token-budget training sequences by
    concatenation order (the standard pretraining packing: documents are
    concatenated per source in doc_id order and chunked every `budget`
    tokens; a document belongs to the bin its first token lands in).

    Plan: two-level packing via `_sharded_binned` — a 10 TB source packs
    across `spark.sql.shuffle.partitions` tasks instead of serializing
    through one window partition. One range exchange + one hash exchange on
    the corpus, plus a broadcast of the tiny per-shard offset table.

    Returns per-bin rows: (source, bin, n_docs, n_tokens, first_doc,
    last_doc).

    Pass `n_tokens_col` to pack on a precomputed token count (pipelines
    that already dropped the text column, e.g. corpus_pipeline_job's
    narrow keep-list).
    """
    n_tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else F.size(F.split(F.col(text_col), " ")).cast("long")
    )
    base = docs.select(part_col, id_col, n_tok.alias("n_tokens"))
    binned = _sharded_binned(base, budget, id_col, part_col)
    return binned.groupBy(part_col, "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_pack(_docs(spark, sf_dir))


SQL_SEQUENCE_PACK = f"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), binned AS (
  SELECT source, doc_id, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tokens)
           / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM toks
)
SELECT source, bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM binned GROUP BY source, bin
"""


# ---------------------------------------------------------------------------
# 5. sliding-window document chunking

CHUNK_TOKENS = 64  # window width in tokens
CHUNK_STRIDE = 48  # window start stride (overlap = width - stride)


def doc_chunks(
    docs: DataFrame,
    width: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping fixed-width token windows (the
    max-sequence-length chunking a tokenizer-bound consumer applies before
    embedding or training): window i covers tokens [i*stride+1, i*stride+
    width]; the final window clamps at the document end. Windows stop as
    soon as the previous one reached the end — n_chunks = max(1,
    ceil((n-width)/stride)+1) — so no chunk is a strict subrange of its
    predecessor (a plain ceil(n/stride) emits a fully-redundant tail
    whenever n mod stride <= width-stride). Returns one row per chunk:
    (doc_id, chunk_id, n_chunk_tokens, chunk_md5).

    Pure Column explode — embarrassingly parallel, no shuffle, and the
    chunk count per doc is bounded by a ~width/stride multiple of the
    corpus.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((n - width) / F.lit(float(stride))) + 1).cast("int"),
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_id"),
                F.slice(toks, i * stride + 1, width).alias("ctoks"),
            ),
        )
    )
    return docs.select(F.col(id_col), chunk.alias("c")).select(
        id_col,
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.ctoks").cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("c.ctoks"))).alias("chunk_md5"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_chunks(_docs(spark, sf_dir))


SQL_DOC_CHUNKS = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS s FROM documents
), ch AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, GREATEST(1, CAST(ceil((len(s) - {CHUNK_TOKENS})
                                          / {CHUNK_STRIDE}.0) AS BIGINT) + 1)),
           i -> struct_pack(
                  cid := i,
                  ctoks := s[i * {CHUNK_STRIDE} + 1
                             : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}])
         )) AS u
  FROM tok
)
SELECT doc_id,
       CAST(u.cid AS BIGINT) AS chunk_id,
       CAST(len(u.ctoks) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(u.ctoks, ' ')) AS chunk_md5
FROM ch
"""


# ---------------------------------------------------------------------------
# 6. mixture weighting

MIXTURE_BUDGET = 10_000  # token budget in the driver query


def mixture_sample(
    docs: DataFrame,
    weights: DataFrame,
    token_budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Rate-based mixture resampling: give each source a token quota
    `token_budget * weight / sum(weights)` and keep each of its documents
    with probability quota/available-tokens, decided by a deterministic
    per-doc hash draw (same doc set every run, every engine, any
    partitioning). Sources missing from `weights` are dropped.

    This is the shape mixture weighting actually takes at corpus scale —
    a per-source KEEP RATE applied in one filter scan, not an exact
    per-source rank (which would sort whole strata; see stratified_sample
    for the exact-k machinery). Quotas above a source's available tokens
    can't upsample in one pass; the `epochs` column carries the repeat
    factor (ceil(quota/available)) a trainer applies instead.

    Returns the per-source audit a mixture run records: (source, n_kept,
    tokens_kept, rate, epochs). One partial-agg shuffle for the totals;
    the corpus itself is touched by one broadcast-joined filter scan.

    `weights`: DataFrame (part_col, weight:double).
    """
    n_tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else F.size(F.split(F.col(text_col), " ")).cast("long")
    )
    per = docs.select(part_col, F.col(id_col), n_tok.alias("n_tok"))
    totals = per.groupBy(part_col).agg(F.sum("n_tok").alias("toks"))
    dim = totals.join(F.broadcast(weights), part_col)
    # weight normalizer over the sources present in BOTH corpus and weights:
    # a global window over the source-sized dim (one tiny all-to-one
    # exchange) rather than a crossJoin against dim.agg(...), which would
    # duplicate the corpus-wide totals aggregate in the plan
    dim = dim.withColumn(
        "_wsum", F.sum("weight").over(Window.partitionBy())
    )
    quota = F.lit(float(token_budget)) * F.col("weight") / F.col("_wsum")
    dim = dim.select(
        part_col,
        F.least(F.lit(1.0), quota / F.col("toks")).alias("rate"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(quota / F.col("toks")).cast("long"),
        ).alias("epochs"),
    )
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("double")
    kept = per.join(F.broadcast(dim), part_col).where(
        u < F.col("rate") * F.lit(4294967296.0)
    )
    kept_agg = kept.groupBy(part_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("tokens_kept"),
    )
    # LEFT join back onto the dim so a source whose every doc lost the draw
    # still shows in the audit with n_kept = 0 (a mixture run must surface
    # starved sources, not silently omit them); both sides are source-sized
    return dim.join(F.broadcast(kept_agg), part_col, "left").select(
        part_col,
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
        F.round(F.col("rate"), 9).alias("rate"),
        "epochs",
    )


def default_mixture_weights(docs: DataFrame) -> DataFrame:
    """The driver query's deterministic weight rule (shared with tests so
    the rule lives in exactly one Python place, mirrored in
    SQL_MIXTURE_SAMPLE): src0 is heavily upweighted (quota above its
    available tokens, exercising the epochs path), the rest get weights
    1-3 from their numeric suffix."""
    return (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.when(F.col("source") == "src0", F.lit(50.0))
            .otherwise(
                (F.substring("source", 4, 8).cast("int") % 3 + 1).cast(
                    "double"
                )
            )
            .alias("weight"),
        )
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return mixture_sample(d, default_mixture_weights(d), MIXTURE_BUDGET)


SQL_MIXTURE_SAMPLE = f"""
WITH per AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), totals AS (
  SELECT source, SUM(n_tok) AS toks FROM per GROUP BY source
), w AS (
  SELECT source,
         CASE WHEN source = 'src0' THEN 50.0
              ELSE CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS DOUBLE)
         END AS weight
  FROM (SELECT DISTINCT source FROM documents)
), dim AS (
  SELECT t.source,
         LEAST(1.0, {MIXTURE_BUDGET}.0 * weight
                      / (SELECT SUM(weight) FROM totals JOIN w USING (source))
                      / toks) AS rate,
         GREATEST(1, CAST(CEIL({MIXTURE_BUDGET}.0 * weight
                      / (SELECT SUM(weight) FROM totals JOIN w USING (source))
                      / toks) AS BIGINT)) AS epochs
  FROM totals t JOIN w USING (source)
), kept AS (
  SELECT p.source, p.n_tok
  FROM per p JOIN dim d USING (source)
  WHERE CAST(CAST('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS DOUBLE) < d.rate * 4294967296.0
), ka AS (
  SELECT source, COUNT(*) AS n_kept, SUM(n_tok) AS tokens_kept
  FROM kept GROUP BY source
)
SELECT d.source,
       CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(ka.tokens_kept, 0) AS BIGINT) AS tokens_kept,
       ROUND(d.rate, 9) AS rate,
       d.epochs
FROM dim d LEFT JOIN ka USING (source)
"""


QUERIES = {
    "decontaminate": q_decontaminate,
    "line_dedup": q_line_dedup,
    "pii_scrub": q_pii_scrub,
    "sequence_pack": q_sequence_pack,
    "doc_chunks": q_doc_chunks,
    "mixture_sample": q_mixture_sample,
}
ORACLES = {
    "decontaminate": SQL_DECONTAMINATE,
    "line_dedup": SQL_LINE_DEDUP,
    "pii_scrub": SQL_PII_SCRUB,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "doc_chunks": SQL_DOC_CHUNKS,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
}
