"""docling_ocr_qwen3vl_spark — a from-scratch PySpark-native rebuild of the
per-document extraction capabilities of mayflower/docling-ocr-qwen3vl.

Top-level API (the Spark analog of the reference's
``DocumentConverter.convert``; the plugin factories live in ``api.py``):

    from docling_ocr_qwen3vl_spark import ExtractConfig, extract

    spans = extract(spark, documents_df)           # flat span rows
    docs  = extract(spark, documents_df, nested=True)  # (doc_id, spans[])

``extract`` is the one extraction plan, ``plans/pipeline.extract_spans``,
which honours the whole ``ExtractConfig`` (decode backend, stage enables,
``num_partitions``).

Stage-level operators live under ``operators/`` (each independently
callable — they are the ``queries()`` entries in __spark_entry__.py);
``plans/`` holds the end-to-end pipeline, checkpoint/resume, and session
builder; ``semantics/`` the pure reference-parity kernels; ``inference/``
the pluggable page-decoder (deterministic stub here, Qwen3-VL singleton on
GPU clusters); ``streaming/`` the incremental surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import DEFAULT_PROMPTS, ExtractConfig, resolve_prompt

__version__ = "0.1.0"

__all__ = [
    "DEFAULT_PROMPTS",
    "ExtractConfig",
    "extract",
    "resolve_prompt",
    "__version__",
]


def extract(
    spark: SparkSession,
    documents: DataFrame,
    config: ExtractConfig | None = None,
    nested: bool = False,
) -> DataFrame:
    """documents (doc_id, text, ...) -> interleaved spans under ``config``.

    ``nested=False`` returns the flat (doc_id, offset, kind, text,
    media_ref) table; ``nested=True`` the (doc_id, spans[]) document shape
    (BASELINE input_hint)."""
    from .operators.spans import assemble_documents
    from .plans.pipeline import extract_spans

    spans = extract_spans(spark, "", documents=documents, config=config)
    return assemble_documents(spans) if nested else spans
