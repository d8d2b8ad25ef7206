"""Fused page-decode operator: one Arrow-batched Python pass per page.

The reference runs layout, OCR, and table stages as separate per-page model
passes; the hybrid recipe's lesson (RECIPES.md:37-64) and SURVEY.md §4 both
say: visit Python/GPU ONCE per page.  This operator is that single pass — a
``mapInPandas`` stage dispatching on ``payload_kind`` through the
per-executor singleton decoder.

Implementation note (measured, not guessed): an earlier pandas_udf variant
returned ``array<struct<...>>`` per page and exploded JVM-side; Arrow boxing
of nested per-row Python objects cost ~700µs/page while the decode kernels
themselves cost ~30µs/page.  Fusing decode+explode here and emitting FLAT
columnar batches (plain str/int columns) keeps the Python stage kernel-bound
— ~20x less conversion overhead at 100 TB.

Spark shape:  (doc_id, page_no, payload_kind, payload, ...)
           -> (doc_id, page_no, seq, kind, text, media_ref)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("seq", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("y1", IntegerType(), False),
        StructField("x1", IntegerType(), False),
    ]
)


def _make_decode_batches(backend: str, decoder_opts: dict | None):
    """Closure factory: captures the broadcastable decode config as plain
    values (the mapInPandas fn must pickle to the Python workers)."""

    def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker-side import: the singleton registry lives in the Python worker
        import os

        from docling_ocr_qwen3vl_spark.inference.decoder import get_decoder

        cost_us = int(os.environ.get("SPARK_GRAFT_DECODE_COST_US", "0"))
        decoder = get_decoder(
            backend, simulate_cost_us=cost_us, decoder_opts=decoder_opts
        )
        for batch in batches:
            doc_ids: list[str] = []
            page_nos: list[int] = []
            seqs: list[int] = []
            kinds: list[str] = []
            texts: list[str] = []
            y1s: list[int] = []
            x1s: list[int] = []
            # the whole Arrow batch at once: the GPU backend micro-batches
            # its model calls inside (M3)
            page_results = decoder.decode_batch(
                list(zip(batch["payload_kind"], batch["payload"]))
            )
            for doc_id, page_no, elements in zip(
                batch["doc_id"], batch["page_no"], page_results
            ):
                for seq, kind, text, y1, x1 in elements:
                    doc_ids.append(doc_id)
                    page_nos.append(page_no)
                    seqs.append(seq)
                    kinds.append(kind)
                    texts.append(text)
                    y1s.append(y1)
                    x1s.append(x1)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="object"),
                    "page_no": pd.Series(page_nos, dtype="int32"),
                    "seq": pd.Series(seqs, dtype="int32"),
                    "kind": pd.Series(kinds, dtype="object"),
                    "text": pd.Series(texts, dtype="object"),
                    "y1": pd.Series(y1s, dtype="int32"),
                    "x1": pd.Series(x1s, dtype="int32"),
                }
            )

    return _decode_batches


def decode_pages(raw_pages: DataFrame, config=None) -> DataFrame:
    """raw_pages -> one row per span-element, in page order.

    Output: doc_id, page_no, seq, kind, text, y1, x1, media_ref.
    ``media_ref`` is minted deterministically as media://{doc}/{page}/{seq}
    for media elements, '' for text (non-null keeps downstream set-ops and
    the golden comparison total).  (y1, x1) are the element's 0-1000 layout
    anchor for the reading-order sort (0,0 when the payload carries no
    geometry, preserving emission order).

    ``config`` (ExtractConfig) selects the decode backend and its knobs:
    decoder_backend ('deterministic' sandbox stub / 'qwen3vl' GPU path),
    prompt_mode, prompt_overrides, page_scale, force_valid_json (T12) —
    shipped to the workers as plain values inside the pickled mapInPandas
    closure.
    """
    from ..config import ExtractConfig

    cfg = config or ExtractConfig()
    decoder_opts = {
        # ExtractConfig rejects decoder_options keys that collide with
        # these first-class fields
        **dict(cfg.decoder_options),
        "prompt_mode": cfg.prompt_mode,
        "prompt_overrides": dict(cfg.prompt_overrides),
        "page_scale": cfg.page_scale,
        "force_valid_json": cfg.force_valid_json,
    }
    decoded = raw_pages.select(
        "doc_id", F.col("page_no").cast("int").alias("page_no"), "payload_kind", "payload"
    ).mapInPandas(
        _make_decode_batches(cfg.decoder_backend, decoder_opts), DECODED_SCHEMA
    )
    media_ref = F.when(
        F.col("kind") == "media_ref",
        F.format_string(
            "media://%s/%d/%d", F.col("doc_id"), F.col("page_no"), F.col("seq")
        ),
    ).otherwise(F.lit(""))
    return decoded.withColumn("media_ref", media_ref)
