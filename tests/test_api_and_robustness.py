"""Public API surface + ingestion robustness (bad payloads never fail a
task — reference behavior is warn-and-continue, never crash)."""

import os

from pyspark.sql import Row

from docling_ocr_qwen3vl_spark import ExtractConfig, extract
from docling_ocr_qwen3vl_spark.operators.page_decode import decode_pages
from docling_ocr_qwen3vl_spark.operators.spans import assemble_documents, number_spans


def test_extract_api_flat_and_nested(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(20)
    flat = extract(spark, docs, ExtractConfig(num_partitions=4))
    assert flat.columns == ["doc_id", "offset", "kind", "text", "media_ref"]
    assert flat.count() > 0
    nested = extract(spark, docs, nested=True)
    assert nested.columns == ["doc_id", "spans"]
    # every document with at least one span appears exactly once
    assert 0 < nested.count() <= docs.count()
    assert nested.count() == flat.select("doc_id").distinct().count()


def test_nested_output_survives_parquet_roundtrip(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(30)
    nested = extract(spark, docs, nested=True)
    out = str(tmp_path / "spans_nested")
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    want = {r.doc_id: [s.asDict() for s in r.spans] for r in nested.collect()}
    got = {r.doc_id: [s.asDict() for s in r.spans] for r in back.collect()}
    assert got == want
    for spans in got.values():  # offsets stay sorted within the array
        assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_decode_robust_to_garbage(spark):
    rows = [
        Row(doc_id="n", page_no=0, payload_kind="qwenvl_html", payload=None,
            page_width=1.0, page_height=1.0),
        Row(doc_id="u", page_no=0, payload_kind="mystery_kind", payload="  keep me  ",
            page_width=1.0, page_height=1.0),
        Row(doc_id="g", page_no=0, payload_kind="layout_json", payload="\x00{{{[[[",
            page_width=1.0, page_height=1.0),
        Row(doc_id="t", page_no=0, payload_kind="table_json", payload="not json at all",
            page_width=1.0, page_height=1.0),
    ]
    spans = number_spans(decode_pages(spark.createDataFrame(rows))).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert "n" not in by_doc and "g" not in by_doc and "t" not in by_doc
    assert [(r.kind, r.text) for r in by_doc["u"]] == [("text", "keep me")]


def test_assemble_empty_input(spark):
    empty = spark.createDataFrame(
        [], "doc_id string, offset int, kind string, text string, media_ref string"
    )
    assert assemble_documents(empty).count() == 0


def test_extract_stage_enables_are_plan_predicates(spark, sf_dir):
    from docling_ocr_qwen3vl_spark import ExtractConfig, extract
    from docling_ocr_qwen3vl_spark.plans.pipeline import extract_spans
    from docling_ocr_qwen3vl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    full = extract(spark, docs)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, extract_spans(spark, sf_dir, documents=docs).collect())
    )
    # disabling tables+layout removes exactly those pages' spans: no
    # media:// refs minted from layout/table pages remain
    cfg = ExtractConfig(do_tables=False, do_layout=False)
    slim = extract(spark, docs, config=cfg)
    slim_rows = slim.collect()
    assert 0 < len(slim_rows) < full.count()
    # remaining media refs can only come from html <img> (seq 2 on html
    # pages); layout pages minted seq 0/1 media with no text siblings
    from collections import Counter
    kinds = Counter(r.kind for r in slim_rows)
    assert kinds["text"] > 0
    # plan predicate: the payload-kind filter sits right below the page
    # repartition, so disabled pages are neither shuffled nor decoded; with
    # every stage on there is no filter at all
    def page_exchange_child(df):
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        (at,) = [i for i, line in enumerate(lines) if "RepartitionByExpression" in line]
        return lines[at + 1].strip()

    assert page_exchange_child(slim).startswith("+- Filter ")
    assert page_exchange_child(full).startswith("+- Generate ")


def test_plugin_factories_mirror_reference_surface():
    from docling_ocr_qwen3vl_spark import api

    assert set(api.ocr_engines()) == {"qwen3vl_ocr"}
    assert set(api.layout_engines()) == {"qwen3vl_layout"}
    assert set(api.table_structure_engines()) == {"qwen3vl_table"}
    assert set(api.picture_classifier()) == {"qwen3vl_classifier"}
    assert set(api.code_formula()) == {"qwen3vl_code_formula"}


def test_decode_robust_to_pathological_payloads(spark):
    """Adversarial inputs must degrade gracefully, never fail the task:
    deep nesting, megabyte payloads, control characters, regex
    metacharacters, and unterminated structures."""
    deep = "<ul>" * 500 + "<li>deep</li>" + "</ul>" * 500
    big = "<p>" + ("word " * 200000) + "</p>"                  # ~1 MB page
    ctrl = "<p>a\x00b\x01c\x7fd</p>"
    meta = "<p>.*+?[](){}|\\^$ specials</p>"
    unterm = '<h1 data-bbox="1 2 3 4">never closed'
    rows = [
        Row(doc_id="deep", page_no=0, payload_kind="qwenvl_html", payload=deep,
            page_width=1.0, page_height=1.0),
        Row(doc_id="big", page_no=0, payload_kind="qwenvl_html", payload=big,
            page_width=1.0, page_height=1.0),
        Row(doc_id="ctrl", page_no=0, payload_kind="qwenvl_html", payload=ctrl,
            page_width=1.0, page_height=1.0),
        Row(doc_id="meta", page_no=0, payload_kind="plain_text", payload=meta,
            page_width=1.0, page_height=1.0),
        Row(doc_id="unterm", page_no=0, payload_kind="qwenvl_html", payload=unterm,
            page_width=1.0, page_height=1.0),
    ]
    spans = number_spans(decode_pages(spark.createDataFrame(rows))).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append((r.kind, r.text))
    assert by_doc["deep"] == [("text", "deep")]        # only the li emits
    assert len(by_doc["big"]) == 1 and by_doc["big"][0][1].startswith("word word")
    assert by_doc["ctrl"][0][0] == "text"              # control chars survive
    # unterminated element -> strict parse empty -> plain-text fallback
    assert by_doc["unterm"] == [("text", "never closed")]
    assert by_doc["meta"] == [("text", meta)]          # regex metachars inert
                                                       # (plain kind: verbatim)
