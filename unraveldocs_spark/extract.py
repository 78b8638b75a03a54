"""The vectorized extraction stage — one Arrow-batched ``mapInArrow``
implementing the payload-kind dispatch (the column-level analog of
OcrProviderFactory, SRC/ocrprocessing/provider/OcrProviderFactory.java:19-188)
with row-level error capture (ProcessOcr.java:129-139: a poisoned payload
becomes a FAILED row, never a failed task).

Data crosses the JVM<->Python boundary once, in Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch), in and out without a
pandas frame: the input columns are read as Python lists, all row work
happens in CPython, and the output is built column by column with
``pa.array`` against the Arrow form of ``EXTRACTIONS_SCHEMA`` — no per-row
Python UDF round trips (BASELINE.json input_hint).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType, TimestampType

from .oracle import extract_turn
from .schemas import EXTRACTIONS_SCHEMA


_TS_SCHEMA = StructType(
    EXTRACTIONS_SCHEMA.fields + [StructField("ts", TimestampType(), False)]
)
_ARROW_OUT = to_arrow_schema(EXTRACTIONS_SCHEMA)
_ARROW_OUT_TS = to_arrow_schema(_TS_SCHEMA)


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        carry_ts = "ts" in batch.schema.names
        out_schema = _ARROW_OUT_TS if carry_ts else _ARROW_OUT
        # Arrow NULL surfaces as None in to_pylist(), which is what
        # extract_turn expects for a missing text or tool
        results = [
            extract_turn(role, tool, text)
            for role, text, tool in zip(
                batch.column("role").to_pylist(),
                batch.column("text").to_pylist(),
                batch.column("tool").to_pylist(),
            )
        ]

        def column(name, values):
            return pa.array(values, out_schema.field(name).type)

        # edit lifecycle fields: always null at extraction time
        # (populated only by edits.apply_edits + store.upsert)
        unedited = pa.nulls(batch.num_rows, pa.string())
        arrays = [
            batch.column("conv_id"),
            batch.column("turn_idx"),
            column("extracted_text", [r.extracted_text for r in results]),
            column("spans", [r.spans for r in results]),
            column("status", [r.status for r in results]),
            column("error_message", [r.error_message for r in results]),
            column("content_format", [r.content_format for r in results]),
            column("rule", [r.rule for r in results]),
            column("n_chars", [r.n_chars for r in results]),
            column("n_words", [r.n_words for r in results]),
            unedited,
            unedited,
        ]
        if carry_ts:
            arrays.append(batch.column("ts"))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def encrypt_stage(transcripts_df):
    """Upload-side AES-256-GCM encryption over a transcripts frame — the
    distributed analog of the reference's encrypt-at-upload gate
    (DocumentUploadImpl.java:55-63): a deterministic subset of turns
    (crypto.should_encrypt) has its payload replaced by the encrypted
    JSON envelope, with ``is_encrypted``/``iv_b64`` riding alongside
    (FileEntry.isEncrypted/encryptionIv).  Zero shuffles — one Arrow
    stage, narrow dependency on the input partitioning."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from .crypto import encrypt_turn
    from .schemas import TRANSCRIPTS_SCHEMA

    schema = StructType(
        TRANSCRIPTS_SCHEMA.fields
        + [
            StructField("is_encrypted", IntegerType(), False),
            StructField("iv_b64", StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, flags, ivs = [], [], []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if text is not None and not isinstance(text, str):
                    text = None if text != text else str(text)
                t_out, is_enc, iv_b64 = encrypt_turn(conv_id, int(turn_idx), text)
                texts.append(t_out)
                flags.append(is_enc)
                ivs.append(iv_b64)
            out = pdf.copy()
            out["text"] = texts
            out["is_encrypted"] = pd.array(flags, dtype="int32")
            out["iv_b64"] = ivs
            yield out

    return transcripts_df.mapInPandas(run, schema=schema)


def extract_stage(transcripts_df, carry_ts: bool = False):
    """transcripts (conv_id, turn_idx, role, text, tool, ts) ->
    extractions (EXTRACTIONS_SCHEMA).  With ``carry_ts`` the event time
    rides through the stage (needed by watermarked streaming consumers)."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    schema = EXTRACTIONS_SCHEMA
    if carry_ts:
        cols.append("ts")
        schema = _TS_SCHEMA
    return transcripts_df.select(*cols).mapInArrow(_extract_batches, schema=schema)


def vision_metrics_stage(transcripts_df):
    """Per-turn confidence + detected language for vision payloads — the
    OcrResult.confidence / languageDetected fields (OcrResult.java:16-127)
    shaped per GoogleVisionOcrProvider.java:272-332.  Emits one row per
    vision turn; other payload kinds produce no row."""
    import json as _json

    from .semantics import extract_vision, try_parse_envelope

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"conv_id": [], "turn_idx": [], "confidence": [], "language_detected": []}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if not isinstance(text, str):
                    continue
                env = try_parse_envelope(text)
                if env is None or env.kind != "vision":
                    continue
                _, conf, lang = extract_vision(_json.loads(text))
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(turn_idx)
                out["confidence"].append(conf)
                out["language_detected"].append(lang)
            yield pd.DataFrame(out)

    return transcripts_df.select("conv_id", "turn_idx", "text").mapInPandas(
        run,
        schema="conv_id string, turn_idx int, confidence double, language_detected string",
    )
