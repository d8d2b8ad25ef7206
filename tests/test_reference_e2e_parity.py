"""END-TO-END reference parity: the AST-extracted reference parser runs
over the ACTUAL synthetic corpus payloads and must agree row-for-row with
the engine's Spark output (mapInPandas path, all grammar variants).

This closes the last self-reference loop: not just kernel == reference on
synthetic fragments, but the deployed Spark operator == reference on the
exact pages the oracle corpus ships."""

from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.operators.html_elements import parse_html_elements
from docling_ocr_qwen3vl_spark.sources.synthetic import synth_raw_pages
from tests.test_reference_differential import reference_functions


def test_spark_html_elements_equal_reference_on_corpus(spark, sf_dir, requires_reference):
    ref_parse, _ = reference_functions(requires_reference)
    pages = synth_raw_pages(spark, sf_dir).filter(
        F.col("payload_kind") == "qwenvl_html"
    )
    payloads = {
        (r.doc_id, r.page_no): r.payload
        for r in pages.select("doc_id", "page_no", "payload").collect()
    }
    assert len(payloads) > 200  # the corpus actually has html pages

    got = {}
    for r in parse_html_elements(pages).collect():
        bbox = None if r.x1 is None else (r.x1, r.y1, r.x2, r.y2)
        got.setdefault((r.doc_id, r.page_no), []).append(
            (r.seq, r.tag, r.text, bbox, r.element_type)
        )

    n_variants = set()
    for key, payload in payloads.items():
        want = [
            (i, e.tag, e.text, e.bbox, e.element_type)
            for i, e in enumerate(ref_parse(payload))
        ]
        assert sorted(got.get(key, [])) == want, key
        n_variants.add(int(key[0]) % 16)
    # every grammar variant class appeared in the comparison
    assert {8, 12, 14, 15} <= n_variants
