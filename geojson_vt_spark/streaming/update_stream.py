"""Structured Streaming twin of incremental source maintenance (O22-O24).

The reference's `updateData` (geojsonvt.ts:87-131) is a synchronous call the
host application invokes per diff; a live tile service feeding from an event
log wants the same semantics driven by arrival instead. This module expresses
that as a file-source stream of *diff documents* drained through
`engine.update_data` one micro-batch at a time:

  * a diff document is one JSONL row `{"seq": <long>, "diff": <json string>}`
    — `diff` is the reference's diff payload (add/remove/update/removeAll,
    difference.ts:75-221) encoded as a string so its shape stays free-form;
  * diffs are CONTROL PLANE: bounded by the protocol (the reference takes
    them as a driver-side object), so collecting a micro-batch to the driver
    is the correct shape — the *application* of each diff stays distributed
    (broadcast semi/anti joins + bbox invalidation, operators/updates.py);
  * ordering: within a micro-batch diffs apply in `seq` order; across
    micro-batches in arrival order, where "arrival" for Spark's file source
    means file MODIFICATION TIME — files sharing one mtime tick tie and may
    be batched in arbitrary order. The ordered-ingest contract therefore
    requires the producer to guarantee monotone mtimes across diff files
    (one file per trigger interval, or explicit utimes as the tests do);
    under that contract stream-applied state is identical to
    batch-applying the same diffs in sequence — asserted in
    tests/test_update_stream.py (availableNow drain == sequential
    update_data, including a maxFilesPerTrigger=1 multi-micro-batch run).

Exactly-once: Spark's file source + checkpointLocation give at-least-once
per micro-batch with source offsets committed after foreachBatch returns. A
replayed batch's seq-bearing diffs are SKIPPED by the watermark check in
`apply_diff_batch` (the engine persists the highest applied seq per diff),
which upgrades the sink to effectively-once for seq-carrying producers;
seq-less diffs fall back to the payload's own idempotence (remove/replace
and id-bearing adds are idempotent; id-less adds are not, mirroring the
reference's list-append semantics).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, types as T

DIFF_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), True),
        T.StructField("diff", T.StringType(), True),
    ]
)


def stream_diffs(spark, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of JSONL diff documents."""
    reader = spark.readStream.schema(DIFF_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def apply_diff_batch(engine, batch_df: DataFrame, strict: bool = False) -> int:
    """Apply one micro-batch of diff documents to an engine, in seq order.
    Returns the number of diffs APPLIED (skipped stale seqs not counted).

    Seq watermark: the producer contract (module docstring) promises
    monotone mtimes so micro-batches arrive in seq order. The engine
    carries the highest seq applied (`_diff_seq_watermark`); an incoming
    seq at or below it is NEVER re-applied — foreachBatch is at-least-once,
    so a retried micro-batch redelivers seqs the engine already holds, and
    re-applying a non-idempotent diff (id-less add) would diverge state.
    Default mode skips the stale diff with a warning and keeps draining
    (the idempotent-retry behavior a sink needs); strict=True raises
    INSTEAD of applying — a fail-stop for catching producer reordering
    bugs, with the documented consequence that a redelivered batch keeps
    failing until an operator intervenes (strict is a debug/CI mode, not
    a production retry policy)."""
    import warnings

    rows = batch_df.orderBy("seq").collect()  # control-plane small, by design
    watermark = getattr(engine, "_diff_seq_watermark", None)
    applied = 0
    for r in rows:
        if r.seq is not None and watermark is not None and r.seq <= watermark:
            msg = (
                f"diff seq {r.seq} arrived at or below the applied watermark "
                f"{watermark}: micro-batch redelivery (normal under "
                "at-least-once retries) or a producer that broke the "
                "monotone-mtime ordering contract — the diff is NOT applied"
            )
            if strict:
                raise ValueError(msg)
            warnings.warn(msg, stacklevel=2)
            continue  # skip: the engine already reflects (or supersedes) it
        engine.update_data(json.loads(r.diff))
        applied += 1
        if r.seq is not None and (watermark is None or r.seq > watermark):
            watermark = r.seq
            # persist per diff, not once after the loop: foreachBatch is
            # at-least-once, so if a later diff in this batch raises the
            # retry must still see the seqs ALREADY applied to engine
            # state — the skip above then makes the retry idempotent
            engine._diff_seq_watermark = watermark
    return applied


def run_update_stream(
    engine,
    path: str,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
    strict: bool = False,
):
    """Drain every diff document currently under `path` into the engine
    (availableNow trigger); returns the finished StreamingQuery. A live
    deployment drops availableNow and keeps the query running — the
    foreachBatch body is identical."""
    diffs = stream_diffs(engine.spark, path, max_files_per_trigger)
    writer = diffs.writeStream.foreachBatch(
        lambda df, _bid: apply_diff_batch(engine, df, strict=strict)
    ).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q
