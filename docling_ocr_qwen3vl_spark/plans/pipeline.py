"""End-to-end extraction plan: documents -> interleaved spans.

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

from ..operators.page_decode import decode_pages
from ..operators.spans import number_spans
from ..sources.synthetic import synth_raw_pages


def repartition_pages(
    raw_pages: DataFrame, spark: SparkSession, num_partitions: int | None = None
) -> DataFrame:
    """Salted page-level repartition (north_rule skew defusal).

    Hash on (doc_id, page_no) — not doc_id alone — so documents with many
    pages spread across tasks.  Always pass an EXPLICIT count: the decode
    stage is CPU-bound, and AQE's size-based coalescing would serialize it
    on small byte volumes.  1x parallelism (see synth_raw_pages): each
    extra Python task costs ~9 ms of serialized launch overhead.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    return raw_pages.repartition(num_partitions, F.xxhash64("doc_id", "page_no"))


def extract_spans(
    spark: SparkSession,
    sf_dir: str,
    documents: DataFrame | None = None,
    num_partitions: int | None = None,
    config=None,
) -> DataFrame:
    """Flat span table: (doc_id, offset, kind, text, media_ref).

    ``synth_raw_pages`` already distributes pages (salted, pre-payload), so
    the decode stage consumes it directly — exactly ONE shuffle before the
    Python pass, one more for the offset window.
    """
    raw_pages = synth_raw_pages(spark, sf_dir, documents, num_partitions)
    elements = decode_pages(raw_pages, config=config)
    return number_spans(elements)


def extract_spans_from_interleaved(
    spark: SparkSession,
    interleaved: DataFrame,
    num_partitions: int | None = None,
    config=None,
) -> DataFrame:
    """BASELINE.json input_hint path: the INPUT is itself an interleaved
    (doc_id, spans[]) table whose raw_html/raw_text spans carry payloads and
    whose media spans are pre-resolved references.

    Plan: explode (generator) -> salted repartition -> fused decode for the
    raw payload spans ONLY (media spans never enter Python — a filter +
    projection keeps them JVM-side with their identity preserved) -> union
    -> one reading-order window.  Same two-shuffle budget as extract_spans.
    """
    from ..sources.interleaved import RAW_TEXT_KINDS, explode_interleaved

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    rows = explode_interleaved(interleaved).repartition(
        num_partitions, F.xxhash64("doc_id", "in_offset")
    )

    payload_kind = F.coalesce(
        *[
            F.when(F.col("in_kind") == src, F.lit(dst))
            for src, dst in RAW_TEXT_KINDS.items()
        ]
    )
    raw_pages = rows.filter(F.col("in_kind").isin(*RAW_TEXT_KINDS)).select(
        "doc_id",
        F.col("in_offset").alias("page_no"),
        payload_kind.alias("payload_kind"),
        "payload",
    )
    decoded = decode_pages(raw_pages, config=config)

    media_rows = rows.filter(F.col("in_kind") == "media").select(
        "doc_id",
        F.col("in_offset").alias("page_no"),
        F.lit(0).cast("int").alias("seq"),
        F.lit("media_ref").alias("kind"),
        F.lit("").alias("text"),
        F.lit(0).cast("int").alias("y1"),
        F.lit(0).cast("int").alias("x1"),
        F.col("media_ref_in").alias("media_ref"),
    )
    return number_spans(decoded.unionByName(media_rows))


def write_spans(spans_docs: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Sink. Iceberg ``writeTo(...).append()`` on a cluster with a catalog;
    parquet in the sandbox (S5 in SURVEY.md §2.1)."""
    spans_docs.write.mode(mode).parquet(path)
