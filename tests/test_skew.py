"""North-rule skew defusal: the unit of parallel work is a PAGE, so one
pathological document cannot pin a single task."""

import os
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.operators.partitioning import repartition_pages
from docling_ocr_qwen3vl_spark.sources.synthetic import synth_raw_pages


def test_monster_document_spreads_across_partitions(spark):
    # one 4000-page document plus a handful of normal ones
    rows = [
        Row(doc_id="monster", page_no=p, payload_kind="plain_text",
            payload=f"page {p}", page_width=1000.0, page_height=1400.0)
        for p in range(4000)
    ] + [
        Row(doc_id=f"d{i}", page_no=0, payload_kind="plain_text",
            payload="x", page_width=1000.0, page_height=1400.0)
        for i in range(10)
    ]
    pages = repartition_pages(spark.createDataFrame(rows), num_partitions=16)
    per_partition = (
        pages.filter(F.col("doc_id") == "monster")
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = {r.pid: r["count"] for r in per_partition}
    # the monster's pages land on (virtually) every partition, none dominant
    assert len(counts) >= 14
    assert max(counts.values()) < 4000 * 0.25


def test_synthetic_pages_use_the_page_repartition(spark, sf_dir):
    """The production page source spreads through the same helper: its plan
    hash-partitions on xxhash64(doc_id, page_no) at defaultParallelism."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = synth_raw_pages(spark, sf_dir, documents=docs)._jdf.queryExecution()
    exchanges = re.findall(
        r"Exchange hashpartitioning\(xxhash64\(doc_id#\d+, page_no#\d+, 42\), (\d+)\)",
        plan.executedPlan().toString(),
    )
    assert exchanges == [str(spark.sparkContext.defaultParallelism)]
