"""G5 + T6-T10: layout JSON -> cluster rows (repair cascade + build).

The repair cascade (``semantics/json_repair.parse_array``) and the cluster
rules (``semantics/geometry.layout_boxes``) run in a ``mapInPandas`` kernel
that emits 0-1000 clusters; the page rescale stays JVM-side column
arithmetic so Catalyst can fuse it with downstream filters.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

CLUSTERS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("cluster_id", IntegerType(), False),
        StructField("label", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("nx1", DoubleType(), False),
        StructField("ny1", DoubleType(), False),
        StructField("nx2", DoubleType(), False),
        StructField("ny2", DoubleType(), False),
        StructField("page_width", DoubleType(), True),
        StructField("page_height", DoubleType(), True),
    ]
)


def _parse_layout_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from docling_ocr_qwen3vl_spark.semantics.geometry import layout_boxes
    from docling_ocr_qwen3vl_spark.semantics.json_repair import parse_array

    for batch in batches:
        rows: list[tuple] = []
        for doc_id, page_no, payload, pw, ph in zip(
            batch["doc_id"], batch["page_no"], batch["payload"],
            batch["page_width"], batch["page_height"]
        ):
            size = (None if pd.isna(pw) else float(pw), None if pd.isna(ph) else float(ph))
            for idx, label, confidence, x1, y1, x2, y2 in layout_boxes(
                parse_array(payload or "")
            ):
                rows.append(
                    (doc_id, page_no, idx, label, confidence,
                     float(x1), float(y1), float(x2), float(y2)) + size
                )
        yield pd.DataFrame(rows, columns=CLUSTERS_SCHEMA.names)


def parse_layout_clusters(pages: DataFrame) -> DataFrame:
    """(doc_id, page_no, payload, page_width, page_height) -> cluster rows.

    Output: doc_id, page_no, cluster_id, label, confidence, l, t, r, b
    (page coordinates; the (0,0,100,100) fallback applies when the page has
    no size, layout_model.py:221).
    """
    from .partitioning import spread_for_kernel

    # page size passes THROUGH the UDF (output columns) — no join needed
    normalized = spread_for_kernel(
        pages.select(
            "doc_id",
            F.col("page_no").cast("int").alias("page_no"),
            "payload",
            F.col("page_width").cast("double").alias("page_width"),
            F.col("page_height").cast("double").alias("page_height"),
        )
    ).mapInPandas(_parse_layout_batches, CLUSTERS_SCHEMA)
    sized = normalized
    has_size = (
        F.col("page_width").isNotNull()
        & F.col("page_height").isNotNull()
        & (F.col("page_width") > 0)
        & (F.col("page_height") > 0)
    )
    return sized.select(
        "doc_id",
        "page_no",
        "cluster_id",
        "label",
        "confidence",
        F.when(has_size, F.col("nx1") / 1000.0 * F.col("page_width")).otherwise(0.0).alias("l"),
        F.when(has_size, F.col("ny1") / 1000.0 * F.col("page_height")).otherwise(0.0).alias("t"),
        F.when(has_size, F.col("nx2") / 1000.0 * F.col("page_width")).otherwise(100.0).alias("r"),
        F.when(has_size, F.col("ny2") / 1000.0 * F.col("page_height")).otherwise(100.0).alias("b"),
    )
