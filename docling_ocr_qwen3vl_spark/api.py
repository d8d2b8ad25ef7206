"""Plugin factory surface (SURVEY.md §2.6, reference plugins.py:8-71).

The one-call entry, the analog of ``DocumentConverter.convert``, is the
package's ``extract`` (``plans/pipeline.extract_spans``); its stage enables
are ``ExtractConfig.do_ocr``/``do_layout``/``do_tables``.
"""

# --------------------------------------------------------------------------
# Plugin factories (reference plugins.py:8-71): each returns the engines the
# stage can run with, keyed like the upstream entry points.
# --------------------------------------------------------------------------

def ocr_engines() -> dict:
    from .inference.decoder import DeterministicDecoder, TorchQwenDecoder

    return {"qwen3vl_ocr": {"deterministic": DeterministicDecoder,
                            "qwen3vl": TorchQwenDecoder}}


def layout_engines() -> dict:
    from .operators.layout import parse_layout_clusters

    return {"qwen3vl_layout": parse_layout_clusters}


def table_structure_engines() -> dict:
    from .operators.tables import parse_table_cells

    return {"qwen3vl_table": parse_table_cells}


def picture_classifier() -> dict:
    from .operators.enrichment import classify_pictures

    return {"qwen3vl_classifier": classify_pictures}


def code_formula() -> dict:
    from .operators.enrichment import enrich_code_formula

    return {"qwen3vl_code_formula": enrich_code_formula}
