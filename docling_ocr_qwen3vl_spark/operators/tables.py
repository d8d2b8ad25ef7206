"""G9: table JSON -> table-structure rows (repair + cell rules + OTSL).

The repair cascade (``semantics/json_repair.parse_object``) and the table
rules (``semantics/geometry.table_cells``) run in a ``mapInPandas`` kernel;
OTSL is a column expression (see also ``otsl_expr`` usage in queries.py,
which keeps OTSL fully JVM-side when rows/cols are already columns).

Output: one row per TABLE CELL plus table-level columns, so downstream ops
can aggregate either way:
  doc_id, page_no, n_rows, n_cols, otsl,
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
    from docling_ocr_qwen3vl_spark.semantics.geometry import table_cells
    from docling_ocr_qwen3vl_spark.semantics.json_repair import parse_object

    for batch in batches:
        rows_out: list[tuple] = []
        for doc_id, page_no, payload in zip(
            batch["doc_id"], batch["page_no"], batch["payload"]
        ):
            parsed = table_cells(parse_object(payload or ""))
            if parsed is None:
                continue
            num_rows, num_cols, cells = parsed
            if not cells:
                rows_out.append((doc_id, page_no, num_rows, num_cols) + (None,) * 12)
            for row, col, rs, cs, text, is_header, bbox in cells:
                cx = (None,) * 4 if bbox is None else tuple(float(v) for v in bbox)
                rows_out.append(
                    (doc_id, page_no, num_rows, num_cols,
                     row, col, rs, cs, row + rs, col + cs, text, is_header) + cx
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
