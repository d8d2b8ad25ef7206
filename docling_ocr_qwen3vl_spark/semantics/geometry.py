"""Geometry / structure builders — reference parity, pure Python.

Dict-based versions of the reference's cell/cluster/table builders.
``layout_boxes`` and ``table_cells`` are the one definition of the layout
and table rules: ``build_clusters``/``build_table``, the ``operators/``
layout and table kernels and the page decoder all build on them.

Reference citations:
  - paragraphs -> cells:      model.py:136-189  (G1)
  - html elements -> cells:   model.py:191-259  (G2)
  - layout JSON -> clusters:  layout_model.py:184-232  (G5)
  - table JSON -> table:      table_structure_model.py:135-225  (G9)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

# layout_model.py:34-49 — prompt label -> canonical docling label.
LABEL_MAP: dict[str, str] = {
    "title": "title",
    "section_header": "section_header",
    "text": "text",
    "paragraph": "text",
    "list_item": "list_item",
    "table": "table",
    "picture": "picture",
    "figure": "picture",
    "caption": "caption",
    "footnote": "footnote",
    "page_header": "page_header",
    "page_footer": "page_footer",
    "formula": "formula",
    "code": "code",
}
DEFAULT_LABEL = "text"
DEFAULT_CONFIDENCE = 0.9

# code_formula_model.py:25-49 — language string -> canonical label.
LANGUAGE_MAP: dict[str, str] = {
    "python": "python",
    "javascript": "javascript",
    "typescript": "typescript",
    "java": "java",
    "c": "c",
    "cpp": "c++",
    "c++": "c++",
    "csharp": "c#",
    "c#": "c#",
    "go": "go",
    "rust": "rust",
    "ruby": "ruby",
    "php": "php",
    "swift": "swift",
    "kotlin": "kotlin",
    "sql": "sql",
    "bash": "bash",
    "shell": "bash",
    "html": "html",
    "css": "css",
    "json": "json",
    "yaml": "yaml",
    "xml": "xml",
}
UNKNOWN_LANGUAGE = "unknown"


def paragraphs_to_cells(
    paragraphs: list[str],
    rect: tuple[float, float, float, float],
    index_offset: int = 0,
) -> list[dict[str, Any]]:
    """Distribute N paragraphs evenly down the region (model.py:136-189).

    rect = (l, t, r, b) top-left origin.  Cell i spans
    ``[t + i*h/N, t + (i+1)*h/N)`` at full region width; blank paragraphs are
    skipped but still consume a vertical slot (the reference enumerates before
    filtering); indices are sequential over EMITTED cells only.
    """
    cells: list[dict[str, Any]] = []
    if not paragraphs:
        return cells
    l, t, r, b = rect
    height = b - t
    n = len(paragraphs)
    slot = height / n
    for idx, text in enumerate(paragraphs):
        text = text.strip()
        if not text:
            continue
        cells.append(
            {
                "index": index_offset + len(cells),
                "text": text,
                "conf": 1.0,
                "l": l,
                "t": t + idx * slot,
                "r": l + (r - l),
                "b": t + (idx + 1) * slot,
            }
        )
    return cells


def html_elements_to_cells(
    elements: list[dict[str, Any]],
    rect: tuple[float, float, float, float],
    index_offset: int = 0,
) -> list[dict[str, Any]]:
    """Rescale 0-1000 data-bbox coords into the OCR region (model.py:191-259).

    Each element dict carries ``text`` and optional ``bbox`` = [x1,y1,x2,y2]
    in 0-1000 space.  Missing bbox -> the whole region.  Blank text skipped;
    indices sequential over emitted cells.
    """
    cells: list[dict[str, Any]] = []
    if not elements:
        return cells
    l, t, r, b = rect
    sx = (r - l) / 1000.0
    sy = (b - t) / 1000.0
    for elem in elements:
        text = (elem.get("text") or "").strip()
        if not text:
            continue
        bbox = elem.get("bbox")
        if bbox:
            x1, y1, x2, y2 = bbox
            cell_box = (l + x1 * sx, t + y1 * sy, l + x2 * sx, t + y2 * sy)
        else:
            cell_box = (l, t, r, b)
        cells.append(
            {
                "index": index_offset + len(cells),
                "text": text,
                "conf": 1.0,
                "l": cell_box[0],
                "t": cell_box[1],
                "r": cell_box[2],
                "b": cell_box[3],
            }
        )
    return cells


def layout_boxes(elements: list) -> Iterator[tuple]:
    """Layout JSON elements -> ``(id, label, confidence, x1, y1, x2, y2)``
    in 0-1000 space (layout_model.py:184-232).

    Non-dict elements are skipped.  Per element: bbox from nested ``bbox``
    (len 4) else flat x1/y1/x2/y2 (defaults 0,0,1000,1000), min/max
    coordinate normalization, zero-area drop; label via LABEL_MAP (default
    text), confidence default 0.9 as a float.  id = ORIGINAL element index
    (ids skip dropped elements).  Coordinates come back as parsed; each
    caller converts or rescales them.
    """
    for idx, elem in enumerate(elements):
        if not isinstance(elem, dict):
            continue
        bbox = elem.get("bbox")
        if bbox and isinstance(bbox, list) and len(bbox) == 4:
            x1, y1, x2, y2 = bbox
        else:
            x1 = elem.get("x1", 0)
            y1 = elem.get("y1", 0)
            x2 = elem.get("x2", 1000)
            y2 = elem.get("y2", 1000)
        x1, x2 = min(x1, x2), max(x1, x2)
        y1, y2 = min(y1, y2), max(y1, y2)
        if x1 == x2 or y1 == y2:
            continue
        label = LABEL_MAP.get(str(elem.get("label", "text")).lower(), DEFAULT_LABEL)
        yield idx, label, float(elem.get("confidence", DEFAULT_CONFIDENCE)), x1, y1, x2, y2


def build_clusters(
    elements: list[dict[str, Any]],
    page_width: float | None,
    page_height: float | None,
) -> list[dict[str, Any]]:
    """Layout JSON elements -> clusters: ``layout_boxes`` rescaled from
    0-1000 to page coords, or the (0,0,100,100) fallback when the page has
    no size (layout_model.py:221)."""
    clusters: list[dict[str, Any]] = []
    for idx, label, confidence, x1, y1, x2, y2 in layout_boxes(elements):
        if page_width and page_height:
            box = (
                (x1 / 1000) * page_width,
                (y1 / 1000) * page_height,
                (x2 / 1000) * page_width,
                (y2 / 1000) * page_height,
            )
        else:
            box = (0.0, 0.0, 100.0, 100.0)
        clusters.append(
            {
                "id": idx,
                "label": label,
                "confidence": confidence,
                "l": box[0],
                "t": box[1],
                "r": box[2],
                "b": box[3],
            }
        )
    return clusters


def build_otsl(num_rows: int, num_cols: int) -> list[str]:
    """Row-major OTSL skeleton (table_structure_model.py:152-159):
    ``cell`` per cell, ``l`` between columns, ``nl`` between rows."""
    seq: list[str] = []
    for row in range(num_rows):
        if row > 0:
            seq.append("nl")
        for col in range(num_cols):
            if col > 0:
                seq.append("l")
            seq.append("cell")
    return seq


def table_cells(data: dict[str, Any]) -> tuple[int, int, list[tuple]] | None:
    """Table JSON -> ``(n_rows, n_cols, cells)`` (table_structure_model.py:135-225).

    ``rows``/``cols`` of 0 -> None.  Non-dict cells are skipped.  Each cell
    is ``(row, col, row_span, col_span, text, is_header, bbox)``; cells
    accept BOTH legacy (row_span/col_span/is_header/bbox[4]) and compact
    (rs/cs/hdr/x1..y2) field names, legacy taking precedence.  ``bbox`` is
    the raw 0-1000 box relative to the TABLE crop, or None when absent or
    not four values long.
    """
    num_rows = int(data.get("rows", 0) or 0)
    num_cols = int(data.get("cols", 0) or 0)
    if num_rows == 0 or num_cols == 0:
        return None
    cells = []
    for cell in data.get("cells", []) or []:
        if not isinstance(cell, dict):
            continue
        bbox = cell.get("bbox", None)
        if not bbox or not isinstance(bbox, list):
            x1 = cell.get("x1")
            if x1 is not None:
                bbox = [x1, cell.get("y1", 0), cell.get("x2", 1000), cell.get("y2", 1000)]
        cells.append(
            (
                int(cell.get("row", 0) or 0),
                int(cell.get("col", 0) or 0),
                int(cell.get("row_span", cell.get("rs", 1)) or 1),
                int(cell.get("col_span", cell.get("cs", 1)) or 1),
                cell.get("text", ""),
                bool(cell.get("is_header", cell.get("hdr", False))),
                bbox if bbox and len(bbox) == 4 else None,
            )
        )
    return num_rows, num_cols, cells


def build_table(
    data: dict[str, Any],
    table_bbox: tuple[float, float, float, float],
    page_size: tuple[float, float] | None,
) -> dict[str, Any] | None:
    """Table JSON -> table struct: ``table_cells`` with each cell bbox
    rescaled into page coordinates through the table bbox (None when
    unparseable or the page has no size), plus the OTSL skeleton."""
    parsed = table_cells(data)
    if parsed is None:
        return None
    num_rows, num_cols, raw_cells = parsed
    tl, tt, tr, tb = table_bbox
    tw = tr - tl
    th = tb - tt

    cells = []
    for row, col, row_span, col_span, text, is_header, bbox in raw_cells:
        cell_bbox = None
        if bbox is not None and page_size:
            x1, y1, x2, y2 = bbox
            cell_bbox = (
                tl + (x1 / 1000) * tw,
                tt + (y1 / 1000) * th,
                tl + (x2 / 1000) * tw,
                tt + (y2 / 1000) * th,
            )
        cells.append(
            {
                "row": row,
                "col": col,
                "row_span": row_span,
                "col_span": col_span,
                "end_row": row + row_span,
                "end_col": col + col_span,
                "text": text,
                "col_header": is_header,
                "bbox": cell_bbox,
            }
        )

    return {
        "num_rows": num_rows,
        "num_cols": num_cols,
        "otsl_seq": build_otsl(num_rows, num_cols),
        "cells": cells,
    }


def classify_picture(data: dict[str, Any] | None) -> list[dict[str, Any]] | None:
    """Classifier postprocess (picture_classifier_model.py:157-173):
    missing/empty ``classes`` -> None; per class default name "other",
    default confidence 0.5."""
    if not data:
        return None
    classes = data.get("classes", [])
    if not classes:
        return None
    return [
        {
            "class_name": c.get("class_name", "other"),
            "confidence": float(c.get("confidence", 0.5)),
        }
        for c in classes
        if isinstance(c, dict)
    ]


def enrich_code_formula(
    kind: str, text: str | None, data: dict[str, Any] | None
) -> dict[str, Any]:
    """Code/formula enrichment (code_formula_model.py:106-139).

    kind 'code': when result.is_code, text := result.code (default existing
    text or ""), language via LANGUAGE_MAP (default 'unknown'); otherwise
    unchanged with language None.  kind 'formula': when result.is_formula,
    text := result.latex.  Any other kind passes through.
    """
    out = {"text": text, "language": None}
    if not data:
        return out
    if kind == "code" and data.get("is_code"):
        out["text"] = data.get("code", text or "")
        lang = str(data.get("language", "") or "").lower()
        out["language"] = LANGUAGE_MAP.get(lang, UNKNOWN_LANGUAGE)
    elif kind == "formula" and data.get("is_formula"):
        out["text"] = data.get("latex", text or "")
    return out
