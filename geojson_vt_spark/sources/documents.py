"""Interleaved-documents source (BASELINE.json input_hint).

Input table shape:
    doc_id  string
    spans   array<struct<kind:string, text:string, media_ref:string, offset:int>>

kind ∈ {'text','media','geojson'}; GeoJSON payloads ride in `text` when
kind='geojson'. The engine extracts geojson spans into internal feature rows
(O1 Spark-side: posexplode -> filter -> mapInArrow parse/convert/wrap) and
never rewrites the documents table — the per-document span sequence
(kind, text, media_ref, order) is an invariant checked by
`span_sequence_violations`.

Synthesis is deterministic (explicit seed, no wall-clock): used for tests and
benchmarks only — at production scale this table is the 10^12-doc corpus.
"""

from __future__ import annotations

import hashlib
import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..config import Options
from ..model import FEATURE_SCHEMA, geojson_to_feature_rows, local_frame, rows_to_arrow

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA, False), False),
    ]
)


def _h(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def synthesize_documents(
    spark: SparkSession,
    geojson_payloads: list,
    n_docs: int = 64,
    texts: Optional[list] = None,
    seed: int = 42,
) -> DataFrame:
    """Build a deterministic interleaved documents table.

    geojson_payloads: list of GeoJSON payload strings; payload i is embedded
    in doc i (docs beyond the payload list carry only text/media spans).
    Layout per doc: text, [geojson], media, text — offsets dense and ordered.
    """
    texts = texts or [f"synthetic span text {seed}-{i}" for i in range(7)]
    rows = []
    for i in range(max(n_docs, len(geojson_payloads))):
        doc_id = f"doc-{i:09d}"
        spans = []
        off = 0
        spans.append(
            {"kind": "text", "text": texts[i % len(texts)], "media_ref": None, "offset": off}
        )
        off += 1
        if i < len(geojson_payloads):
            spans.append(
                {"kind": "geojson", "text": geojson_payloads[i], "media_ref": None, "offset": off}
            )
            off += 1
        spans.append(
            {
                "kind": "media",
                "text": None,
                "media_ref": f"media://img/{_h(f'{seed}-{i}')}",
                "offset": off,
            }
        )
        off += 1
        spans.append(
            {"kind": "text", "text": texts[(i + 3) % len(texts)], "media_ref": None, "offset": off}
        )
        rows.append({"doc_id": doc_id, "spans": spans})
    return local_frame(spark, rows, DOCUMENTS_SCHEMA)


def features_from_documents(
    docs: DataFrame, options: Options, doc_seq_expr: str = "CAST(regexp_extract(doc_id, '(\\\\d+)$', 1) AS LONG)"
) -> DataFrame:
    """O1 at scale: documents -> internal feature rows (FEATURE_SCHEMA, z0).

    doc_seq_expr must yield a deterministic per-document order key (default:
    trailing integer of doc_id). Feature order inside the pyramid is
    okey = [wcopy, doc_seq, offset, feature_idx] — reference input order when
    documents are read in doc_seq order.

    The geojson filter + column pruning happen *before* the kernel: Catalyst
    pushes `kind = 'geojson'` into the exploded scan so text/media spans never
    cross the Arrow boundary.
    """
    spans = (
        docs.select(
            F.expr(doc_seq_expr).alias("doc_seq"),
            F.explode("spans").alias("s"),
        )
        .where(F.col("s.kind") == "geojson")
        .select("doc_seq", F.col("s.offset").alias("offset"), F.col("s.text").alias("payload"))
    )

    def parse(batches):
        for batch in batches:
            rows = []
            for doc_seq, offset, payload in zip(
                *(batch.column(c).to_pylist() for c in ("doc_seq", "offset", "payload"))
            ):
                rows += geojson_to_feature_rows(
                    json.loads(payload), options, (doc_seq, offset)
                )
            if rows:
                yield from rows_to_arrow(rows, FEATURE_SCHEMA).to_batches()

    return spans.mapInArrow(parse, FEATURE_SCHEMA)


def span_sequence_violations(before: DataFrame, after: DataFrame) -> DataFrame:
    """Per-row invariant (input_hint): span sequence (kind, text, media_ref,
    order) must be identical per doc_id between source and output corpus.
    Returns the violating doc_ids (empty = invariant holds)."""

    def canon(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            "doc_id",
            F.expr(
                "transform(array_sort(spans, (l, r) -> l.offset - r.offset),"
                " s -> struct(s.kind, s.text, s.media_ref))"
            ).alias(name),
        )

    b = canon(before, "seq_before")
    a = canon(after, "seq_after")
    return (
        b.join(a, "doc_id", "full")
        .where(
            F.col("seq_before").isNull()
            | F.col("seq_after").isNull()
            | (F.col("seq_before") != F.col("seq_after"))
        )
        .select("doc_id")
    )


# --------------------------------------------------------------------------
# Oracle surface: the input_hint's per-row invariant as a driver-checked
# query — build the interleaved span table Column-side from the testdata
# documents, round-trip it through the engine's distribution plumbing
# (posexplode -> shuffle -> per-doc reassembly, the same explode/reassemble
# shape features_from_documents and the update path use), and emit the
# reassembled (kind, text, media_ref, order) sequence. The DuckDB oracle
# constructs the ground-truth sequence directly, so any reorder / drop /
# rewrite across the shuffle shows up as a row-count or value-hash mismatch.
# span_sequence_violations additionally rides along: a violating doc emits
# an ord=-1 row the oracle does not have.
# --------------------------------------------------------------------------

def q_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.concat(
        F.lit('{"type":"Point","coordinates":['),
        ((F.col("doc_id") % 360) - 180).cast("string"),
        F.lit(","),
        ((F.col("doc_id") % 170) - 85).cast("string"),
        F.lit("]}"),
    )
    media_ref = F.concat(
        F.lit("media://img/"),
        F.substring(
            F.sha2(
                F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string")),
                256,
            ),
            1,
            16,
        ),
    )
    nul = F.lit(None).cast("string")

    def span(kind, text, ref, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    before = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            span("text", F.substring("text", 1, 40), nul, 0),
            span("geojson", payload, nul, 1),
            span("media", nul, media_ref, 2),
            span("text", F.substring("text", 41, 40), nul, 3),
        ).alias("spans"),
    )
    # round-trip across a real shuffle: spans scatter to arbitrary
    # partitions, then reassemble per doc ordered by offset
    exploded = before.select("doc_id", F.explode("spans").alias("s")).repartition(
        "doc_id"
    )
    after = exploded.groupBy("doc_id").agg(
        F.expr(
            "array_sort(collect_list(s), (l, r) -> l.offset - r.offset)"
        ).alias("spans")
    )
    flat = after.select(
        "doc_id", F.posexplode("spans").alias("ord", "s")
    ).select(
        "doc_id",
        F.col("ord").cast("long").alias("ord"),
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    viol = span_sequence_violations(before, after).select(
        "doc_id",
        F.lit(-1).cast("long").alias("ord"),
        F.lit(-1).cast("long").alias("offset"),
        F.lit("VIOLATION").alias("kind"),
        nul.alias("text"),
        nul.alias("media_ref"),
    )
    return flat.unionByName(viol)


SQL_SPAN_ROUNDTRIP = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS BIGINT) AS ord,
       CAST(0 AS BIGINT) AS "offset", 'text' AS kind,
       substr(text, 1, 40) AS text, CAST(NULL AS VARCHAR) AS media_ref
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
       'geojson',
       '{"type":"Point","coordinates":[' || CAST(doc_id % 360 - 180 AS VARCHAR)
         || ',' || CAST(doc_id % 170 - 85 AS VARCHAR) || ']}',
       CAST(NULL AS VARCHAR)
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
       'media', CAST(NULL AS VARCHAR),
       'media://img/' || substr(sha256(source || ':' || CAST(doc_id AS VARCHAR)), 1, 16)
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
       'text', substr(text, 41, 40), CAST(NULL AS VARCHAR)
FROM documents
"""


QUERIES = {"span_roundtrip": q_span_roundtrip}
ORACLES = {"span_roundtrip": SQL_SPAN_ROUNDTRIP}
