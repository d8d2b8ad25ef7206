"""Ingestion of the hint-shaped interleaved table (BASELINE.json input_hint).

Input schema:  (doc_id: string,
                spans: array<struct<kind: string, text: string,
                                    media_ref: string, offset: int>>)
where input span kinds are 'raw_html' | 'raw_text' | 'media' (FIXTURES.md §1):
raw payloads ride in ``text``; pre-resolved media spans carry their
``media_ref`` and must pass through UNCHANGED (identity preserved — they are
never re-minted).

The normalization explodes each document's spans into per-payload rows that
the fused decoder consumes exactly like synthetic pages: the input span
``offset`` plays the page role (ordering + media_ref minting for media
discovered INSIDE html payloads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RAW_TEXT_KINDS = {"raw_html": "qwenvl_html", "raw_text": "plain_text"}


def explode_interleaved(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> (doc_id, page_no, in_kind, payload, media_ref_in).

    The input span offset becomes ``page_no``: it orders the rows
    downstream exactly as a synthetic page number does.  No shuffle here
    (generator only).
    """
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").cast("int").alias("page_no"),
        F.col("s.kind").alias("in_kind"),
        F.col("s.text").alias("payload"),
        F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref_in"),
    )
