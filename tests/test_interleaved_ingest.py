"""input_hint ingestion: (doc_id, spans[]) tables with raw payload spans and
pre-resolved media spans; media identity must survive untouched."""

from pyspark.sql import Row

from docling_ocr_qwen3vl_spark.config import ExtractConfig
from docling_ocr_qwen3vl_spark.plans.pipeline import extract_spans_from_interleaved


def _span(kind, text, media_ref, offset):
    return Row(kind=kind, text=text, media_ref=media_ref, offset=offset)


def test_interleaved_ingest_golden(spark):
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="X",
                spans=[
                    _span("raw_text", "Para one.\n\nPara two.", "", 0),
                    _span("media", "", "s3://bucket/img-777.png", 1),
                    _span(
                        "raw_html",
                        '<h1 data-bbox="10 10 900 40">Head</h1>'
                        '<img data-bbox="10 50 500 300"/>',
                        "",
                        2,
                    ),
                ],
            )
        ]
    )

    def spans(config=None):
        out = extract_spans_from_interleaved(spark, docs, config=config).collect()
        return [
            (r.offset, r.kind, r.text, r.media_ref)
            for r in sorted(out, key=lambda r: r.offset)
        ]

    assert spans() == [
        (0, "text", "Para one.", ""),
        (1, "text", "Para two.", ""),
        # pre-resolved media identity preserved verbatim, never re-minted
        (2, "media_ref", "", "s3://bucket/img-777.png"),
        (3, "text", "Head", ""),
        # html-internal media get minted refs keyed by (doc, input span, seq)
        (4, "media_ref", "", "media://X/2/1"),
    ]
    # OCR off: the raw payload spans are never decoded; the media
    # passthrough is always kept
    assert spans(ExtractConfig(do_ocr=False)) == [
        (0, "media_ref", "", "s3://bucket/img-777.png"),
    ]
