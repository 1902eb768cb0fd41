"""Streaming ingest-admission gate: the hygiene family applied at arrival.

A training-data ingest keeps its corpus clean at the door, not with
after-the-fact sweeps: as document files land, each micro-batch is quality-
gated, language-filtered, and DECONTAMINATED against the (static) eval-set
shingle table, and only admitted rows reach the sink. This module drives
exactly the batch operators (`analytics.quality_cols`, `training.lang_cols`,
`hygiene.contamination_hits`) through `foreachBatch` — the same composition
`jobs/corpus_pipeline_job.py` runs for stages 1-2b, so stream == batch
parity holds by construction and is asserted in tests.

Why foreachBatch and not a pure streaming plan: the per-doc signals are
stateless Columns and would stream as-is, but decontamination's hit
aggregation (explode shingles -> count per doc) is an aggregation, which a
pure streaming plan would force into stateful/update-mode execution for no
benefit — contamination of an arriving doc depends only on that doc and the
STATIC eval table, never on other stream rows. foreachBatch runs the exact
batch plan per micro-batch (broadcast eval shingles, zero state store), and
the file source + checkpoint give at-least-once delivery with idempotent
re-admission (re-appended rows carry identical content; downstream exact
dedup — `streaming/dedup_stream.py` — is the established cross-batch
admission-once operator).

Per-batch observability mirrors PIPELINE_METRICS: each micro-batch appends
one row (batch_id, docs_in, quality_passed, lang_passed, admitted) to a
metrics list on the returned query handle — the per-partition lineage
counts the north rule asks the job surfaces to carry.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..model import local_frame

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def stream_documents(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def admit_batch(
    batch_df: DataFrame,
    eval_docs: DataFrame,
    min_chars: int = 100,
    min_uniq_ratio: float = 0.0,
    max_dup_bigram_ratio: float | None = None,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    decontam_ngram: int = 8,
) -> tuple[DataFrame, dict]:
    """One micro-batch through the admission gate; returns (admitted_df,
    stage_counts). The same plan as corpus_pipeline_job stages 1-2b, with
    the same knobs — the quality gate is the SHARED
    `analytics.admission_quality_col` expression, so batch/stream parity
    is structural, not copy-paste — then an anti-join against the
    contaminated ids."""
    from ..analytics import admission_quality_col
    from ..hygiene import contamination_hits
    from ..training import lang_cols

    lc = lang_cols()
    quality_ok = admission_quality_col(
        min_chars, min_uniq_ratio, max_dup_bigram_ratio
    )
    flagged = batch_df.select(
        "doc_id",
        "source",
        "text",
        quality_ok.alias("_q_ok"),
        lc["guess"].alias("_lang"),
    )
    keep_flag = F.col("_q_ok") & F.col("_lang").isin(list(langs))
    counts = flagged.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.col("_q_ok").cast("long")).alias("n_quality"),
        F.sum(keep_flag.cast("long")).alias("n_lang"),
    ).collect()[0]
    survivors = flagged.where(keep_flag)
    # no checkpoint: unlike the batch job (which counts the contaminated
    # set AND joins it), this frame has exactly one consumer — the
    # anti-join below — so a per-micro-batch eager materialization would
    # cost a job and executor-local blocks for zero reuse
    contaminated = contamination_hits(
        survivors, eval_docs, n=decontam_ngram
    ).select("doc_id")
    # no broadcast hint: the id list grows with the contaminated-doc
    # count; AQE broadcasts it when it is small
    admitted = survivors.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "source", "text"
    )
    stage = {
        "docs_in": int(counts.n_in or 0),
        "quality_passed": int(counts.n_quality or 0),
        "lang_passed": int(counts.n_lang or 0),
    }
    return admitted, stage


def _run_ingest(
    spark: SparkSession,
    stream_dir: str,
    each,
    checkpoint_dir: str,
    max_files_per_trigger: int | None,
):
    stream = stream_documents(
        spark, stream_dir, max_files_per_trigger=max_files_per_trigger
    )
    q = (
        stream.writeStream.foreachBatch(each)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()
    return q


def run_ingest_to_parquet(
    spark: SparkSession,
    stream_dir: str,
    eval_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    min_chars: int = 100,
    min_uniq_ratio: float = 0.0,
    max_dup_bigram_ratio: float | None = None,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    max_files_per_trigger: int | None = None,
):
    """PRODUCTION sink for the admission gate: drain the directory with
    availableNow and land each micro-batch's admitted rows under
    `out_dir/ingest_batch=<id>/`. Idempotence is per batch id: a crashed-
    then-redelivered micro-batch OVERWRITES its own batch directory (the
    standard foreachBatch exactly-once recipe), so at-least-once delivery
    never double-appends. The durable checkpoint defaults beside the
    output (`out_dir + "_ckpt"`) — sink and progress log travel together,
    so a resumed job skips exactly the files whose rows are already on
    disk. Pair a FRESH checkpoint only with a fresh out_dir: batch ids
    restart at 0 under a new checkpoint and would interleave with stale
    batch directories, so an out_dir that already holds `ingest_batch=*`
    directories under a missing or empty checkpoint raises ValueError.

    Per-batch metrics land in `out_dir + "_metrics"` the same
    batch-id-overwrite way (one row per micro-batch: batch_id, docs_in,
    quality_passed, lang_passed, admitted — the per-batch lineage counts
    the batch job prints as PIPELINE_METRICS) and are also returned as a
    list. Read the corpus back with
    `spark.read.parquet(out_dir)` (ingest_batch becomes a partition
    column)."""
    ckpt = checkpoint_dir or out_dir.rstrip("/") + "_ckpt"
    if glob.glob(os.path.join(out_dir, "ingest_batch=*")) and not (
        os.path.isdir(ckpt) and os.listdir(ckpt)
    ):
        raise ValueError(
            f"{out_dir} already holds ingest_batch=* directories but the "
            f"checkpoint {ckpt} is missing or empty: a fresh drain would "
            "restart batch ids at 0 and mix with the old batches; pass the "
            "original checkpoint_dir or a fresh out_dir"
        )
    metrics: list[dict] = []
    mdir = out_dir.rstrip("/") + "_metrics"

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        admitted, stage = admit_batch(
            batch_df, eval_docs, min_chars=min_chars,
            min_uniq_ratio=min_uniq_ratio,
            max_dup_bigram_ratio=max_dup_bigram_ratio, langs=langs,
        )
        bid = int(batch_id)
        admitted.write.mode("overwrite").parquet(
            f"{out_dir.rstrip('/')}/ingest_batch={bid}"
        )
        n_admitted = (
            spark.read.parquet(f"{out_dir.rstrip('/')}/ingest_batch={bid}")
            .count()
        )
        row = {"batch_id": bid, **stage, "admitted": int(n_admitted)}
        metrics.append(row)
        local_frame(
            spark,
            [row],
            "batch_id long, docs_in long, quality_passed long, "
            "lang_passed long, admitted long",
        ).write.mode("overwrite").parquet(f"{mdir}/ingest_batch={bid}")

    q = _run_ingest(spark, stream_dir, _each, ckpt, max_files_per_trigger)
    return q, metrics


def run_ingest_to_memory(
    spark: SparkSession,
    stream_dir: str,
    eval_docs: DataFrame,
    table: str = "t_admitted",
    checkpoint_dir: str | None = None,
    min_chars: int = 100,
    min_uniq_ratio: float = 0.0,
    max_dup_bigram_ratio: float | None = None,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    max_files_per_trigger: int | None = None,
):
    """Drain the directory with availableNow through the admission gate
    into a global temp view `table`; returns (query, metrics list) after
    the drain completes. Test/demo sink — production runs use
    `run_ingest_to_parquet`.

    The driver-side list sink is ephemeral, so the checkpoint defaults to
    a FRESH per-invocation temp directory: reusing a durable checkpoint
    with an ephemeral sink would silently skip already-committed files and
    return a partial table in a new process. Pass `checkpoint_dir` only to
    deliberately continue one logical drain within a process."""
    import tempfile

    admitted_rows: list = []
    metrics: list[dict] = []

    # memory sink via collected appends: foreachBatch owns the write, so
    # the admitted frame of each micro-batch lands in one driver list (test
    # scale); run_ingest_to_parquet is the durable twin
    def _each(batch_df: DataFrame, batch_id: int) -> None:
        admitted, stage = admit_batch(
            batch_df, eval_docs, min_chars=min_chars,
            min_uniq_ratio=min_uniq_ratio,
            max_dup_bigram_ratio=max_dup_bigram_ratio, langs=langs,
        )
        rows = admitted.collect()
        admitted_rows.extend(tuple(r) for r in rows)
        metrics.append(
            {"batch_id": int(batch_id), **stage, "admitted": len(rows)}
        )

    q = _run_ingest(
        spark,
        stream_dir,
        _each,
        checkpoint_dir or tempfile.mkdtemp(prefix="ingest_ckpt_"),
        max_files_per_trigger,
    )
    out = local_frame(spark, admitted_rows, "doc_id long, source string, text string")
    out.createOrReplaceTempView(table)
    return q, metrics
