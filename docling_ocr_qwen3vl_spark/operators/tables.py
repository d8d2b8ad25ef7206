"""G9: table JSON -> table-structure rows (repair + dual-name build + OTSL).

Reference semantics (table_structure_model.py:135-225): object-repair
cascade, ``rows``/``cols`` of 0 -> no table, cells accept BOTH legacy
(row_span/col_span/is_header/bbox[4]) and compact (rs/cs/hdr/x1..y2) field
names (legacy wins), cell bboxes are 0-1000 relative to the TABLE crop and
rescale through the table bbox into page coordinates, and the OTSL skeleton
is row-major cell/l/nl.

The parse (repair cascade) runs in a pandas UDF; OTSL and bbox rescale are
column expressions (see also ``otsl_expr`` usage in queries.py, which keeps
OTSL fully JVM-side when rows/cols are already columns).

Output: one row per TABLE CELL plus table-level columns, so downstream ops
can aggregate either way:
  doc_id, page_no, table_seq, n_rows, n_cols, otsl,
  cell_row, cell_col, row_span, col_span, end_row, end_col,
  cell_text, col_header, cx1..cy2 (0-1000 table-relative, null if absent).
Tables with zero parsed cells still emit ONE row with cell_row null, so the
table itself is never lost.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

TABLE_CELLS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("n_rows", IntegerType(), False),
        StructField("n_cols", IntegerType(), False),
        StructField("cell_row", IntegerType(), True),
        StructField("cell_col", IntegerType(), True),
        StructField("row_span", IntegerType(), True),
        StructField("col_span", IntegerType(), True),
        StructField("end_row", IntegerType(), True),
        StructField("end_col", IntegerType(), True),
        StructField("cell_text", StringType(), True),
        StructField("col_header", BooleanType(), True),
        StructField("cx1", DoubleType(), True),
        StructField("cy1", DoubleType(), True),
        StructField("cx2", DoubleType(), True),
        StructField("cy2", DoubleType(), True),
    ]
)


def _parse_table_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from docling_ocr_qwen3vl_spark.semantics.json_repair import parse_object

    for batch in batches:
        rows_out: list[tuple] = []
        for doc_id, page_no, payload in zip(
            batch["doc_id"], batch["page_no"], batch["payload"]
        ):
            data = parse_object(payload or "")
            num_rows = int(data.get("rows", 0) or 0)
            num_cols = int(data.get("cols", 0) or 0)
            if num_rows == 0 or num_cols == 0:
                continue  # rows/cols of 0 -> None table (reference :146-147)
            cells = [c for c in (data.get("cells") or []) if isinstance(c, dict)]
            if not cells:
                rows_out.append(
                    (doc_id, page_no, num_rows, num_cols) + (None,) * 12
                )
                continue
            for c in cells:
                row = int(c.get("row", 0) or 0)
                col = int(c.get("col", 0) or 0)
                rs = int(c.get("row_span", c.get("rs", 1)) or 1)
                cs = int(c.get("col_span", c.get("cs", 1)) or 1)
                bbox = c.get("bbox", None)
                if not bbox or not isinstance(bbox, list):
                    x1 = c.get("x1")
                    if x1 is not None:
                        bbox = [x1, c.get("y1", 0), c.get("x2", 1000), c.get("y2", 1000)]
                if bbox and len(bbox) == 4:
                    cx = tuple(float(v) for v in bbox)
                else:
                    cx = (None, None, None, None)
                rows_out.append(
                    (
                        doc_id,
                        page_no,
                        num_rows,
                        num_cols,
                        row,
                        col,
                        rs,
                        cs,
                        row + rs,
                        col + cs,
                        c.get("text", ""),
                        bool(c.get("is_header", c.get("hdr", False))),
                    )
                    + cx
                )
        yield pd.DataFrame(rows_out, columns=TABLE_CELLS_SCHEMA.names)


def parse_table_cells(pages: DataFrame) -> DataFrame:
    """(doc_id, page_no, payload) -> table-cell rows with OTSL string.

    OTSL is appended JVM-side: row = 'cell' + (cols-1)x' l cell'; rows
    joined by ' nl ' (exactly build_otsl, table_structure_model.py:152-159).
    """
    from .partitioning import spread_for_kernel

    parsed = spread_for_kernel(
        pages.select(
            "doc_id", F.col("page_no").cast("int").alias("page_no"), "payload"
        )
    ).mapInPandas(_parse_table_batches, TABLE_CELLS_SCHEMA)
    row_str = F.concat(
        F.lit("cell"), F.expr("repeat(' l cell', n_cols - 1)")
    )
    otsl = F.concat(row_str, F.expr(
        "repeat(concat(' nl ', concat('cell', repeat(' l cell', n_cols - 1))), n_rows - 1)"
    ))
    return parsed.withColumn("otsl", otsl)
