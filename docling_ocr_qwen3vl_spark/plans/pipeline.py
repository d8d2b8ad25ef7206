"""The extraction plan: documents -> interleaved spans.

``extract_spans`` is the one plan for the synthetic page source (the
checkpointed run, the job/HTTP surface, the streams, the queries and the
package's ``extract`` all build on it); ``extract_spans_from_interleaved``
is the same plan over the (doc_id, spans[]) input shape.  Both honour the
whole ``ExtractConfig``: the decode backend and its knobs, the stage
enables (a disabled stage's page kinds are filtered out before the decode
pass) and ``num_partitions`` (the width of the page repartition).

Lifecycle (SURVEY.md §3.1 Spark equivalent):

  read documents (scan, pruned to doc_id+text)
    -> synth/normalize pages (generator explode, no shuffle)
    -> salted repartition on xxhash64(doc_id, page_no) [skew defusal: the
       unit of parallel work is a PAGE, so a 10,000-page document cannot
       pin a single task — north_rule requirement]
    -> fused decode (ONE Arrow-batched Python pass per page)
    -> offset window + span assembly (single doc_id shuffle)
    -> sink (Iceberg writeTo at scale; parquet in sandbox)

At 100 TB nothing here materializes more than one shuffle of the element
stream plus the input scan; AQE coalesces post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import STAGE_PAYLOAD_KINDS, ExtractConfig
from ..operators.page_decode import decode_pages
from ..operators.partitioning import repartition_pages
from ..operators.spans import number_spans
from ..sources.synthetic import synth_raw_pages


def _enabled_pages(raw_pages: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Drop the pages of disabled stages; with every stage on, no filter."""
    disabled = [
        kind
        for flag, kinds in STAGE_PAYLOAD_KINDS.items()
        if not getattr(cfg, flag)
        for kind in kinds
    ]
    if not disabled:
        return raw_pages
    return raw_pages.filter(~F.col("payload_kind").isin(*disabled))


def extract_spans(
    spark: SparkSession,
    sf_dir: str,
    documents: DataFrame | None = None,
    config: ExtractConfig | None = None,
) -> DataFrame:
    """Flat span table: (doc_id, offset, kind, text, media_ref).

    ``synth_raw_pages`` already distributes pages (salted, pre-payload), so
    the decode stage consumes it directly — exactly ONE shuffle before the
    Python pass, one more for the offset window.
    """
    cfg = config or ExtractConfig()
    raw_pages = synth_raw_pages(spark, sf_dir, documents, cfg.num_partitions)
    return number_spans(decode_pages(_enabled_pages(raw_pages, cfg), config=cfg))


def extract_spans_from_interleaved(
    spark: SparkSession,
    interleaved: DataFrame,
    config: ExtractConfig | None = None,
) -> DataFrame:
    """BASELINE.json input_hint path: the INPUT is itself an interleaved
    (doc_id, spans[]) table whose raw_html/raw_text spans carry payloads and
    whose media spans are pre-resolved references.

    Plan: explode (generator) -> salted repartition -> fused decode for the
    raw payload spans ONLY (media spans never enter Python — a filter +
    projection keeps them JVM-side with their identity preserved) -> union
    -> one reading-order window.  Same two-shuffle budget as extract_spans.
    The stage enables gate the raw payload spans (``do_ocr`` gates
    raw_html/raw_text); media passthrough is always kept.
    """
    from ..sources.interleaved import RAW_TEXT_KINDS, explode_interleaved

    cfg = config or ExtractConfig()
    rows = repartition_pages(explode_interleaved(interleaved), cfg.num_partitions)

    payload_kind = F.coalesce(
        *[
            F.when(F.col("in_kind") == src, F.lit(dst))
            for src, dst in RAW_TEXT_KINDS.items()
        ]
    )
    raw_pages = rows.filter(F.col("in_kind").isin(*RAW_TEXT_KINDS)).select(
        "doc_id", "page_no", payload_kind.alias("payload_kind"), "payload"
    )
    decoded = decode_pages(_enabled_pages(raw_pages, cfg), config=cfg)

    media_rows = rows.filter(F.col("in_kind") == "media").select(
        "doc_id",
        "page_no",
        F.lit(0).cast("int").alias("seq"),
        F.lit("media_ref").alias("kind"),
        F.lit("").alias("text"),
        F.lit(0).cast("int").alias("y1"),
        F.lit(0).cast("int").alias("x1"),
        F.col("media_ref_in").alias("media_ref"),
    )
    return number_spans(decoded.unionByName(media_rows))

