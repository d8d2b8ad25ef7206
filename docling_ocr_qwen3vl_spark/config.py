"""Engine configuration — the Spark analog of the reference's option classes.

The reference configures six Pydantic option classes keyed by ``kind``
(options.py:75-511: qwen3vl_ocr / qwen3vl / qwen3vl_table / qwen3vl_layout /
qwen3vl_classifier / qwen3vl_code_formula), each carrying model/device/
sampling knobs plus per-stage enables.  On Spark the model knobs collapse
into the decoder backend (broadcast as plain config to executors) and the
per-stage enables become one plan predicate: a disabled stage's page kinds
are filtered out before the decode pass, so their pages are never decoded.

Prompt resolution (prompts.py:49-55): per-mode default with override-dict
lookup — kept verbatim so a production Qwen decoder receives identical
prompts.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field
from typing import ClassVar

# prompts.py:27-46 — default prompt per mode (the QWENVL_HTML user prompt is
# the short trigger string; its system prompt lives with the GPU decoder)
PROMPT_MODES = ("ocr", "markdown", "structured", "qwenvl_html")
DEFAULT_PROMPTS: dict[str, str] = {
    "ocr": (
        "Extract all text from this image. "
        "Return only the text content, preserving the reading order. "
        "Separate paragraphs with blank lines."
    ),
    "markdown": (
        "Convert this document image to markdown format. "
        "Preserve headings, lists, tables, and formatting. "
        "Use appropriate markdown syntax for structure."
    ),
    "structured": (
        "Extract all text from this document with layout awareness. "
        "Identify and label headings, paragraphs, tables, and lists. "
        "Preserve the document structure and reading order. "
        "Separate distinct sections with blank lines."
    ),
    "qwenvl_html": "QwenVL HTML",
    # layout/table single-shot JSON stages (prompts.py:60-90 — verbatim data
    # contract like the four above: the repair cascade and cluster/table
    # builders consume exactly the JSON grammar these request)
    "layout_json": """Detect every document element in this page image.

Return a JSON array. Each element:
{"label":"<type>","x1":<int>,"y1":<int>,"x2":<int>,"y2":<int>}

Rules:
- Coordinates are integers 0-1000 (top-left origin)
- x1 < x2, y1 < y2 (y1 is top edge, y2 is bottom edge)
- Use the correct label for each element

Types: title, section_header, text, list_item, table, picture, caption, footnote, page_header, page_footer, formula, code

Example for a page with a header, title, paragraph, and table:
[{"label":"page_header","x1":50,"y1":10,"x2":950,"y2":40},{"label":"title","x1":100,"y1":50,"x2":800,"y2":100},{"label":"text","x1":50,"y1":120,"x2":950,"y2":450},{"label":"table","x1":50,"y1":470,"x2":950,"y2":750}]

Output ONLY the JSON array.""",
    "table_json": """Extract the table structure from this image.

Return a JSON object:
{"rows":<int>,"cols":<int>,"cells":[{"row":<int>,"col":<int>,"text":"<content>","rs":<row_span>,"cs":<col_span>,"hdr":<true/false>,"x1":<int>,"y1":<int>,"x2":<int>,"y2":<int>},...]}

Coordinates are integers 0-1000 relative to the table image.
Row/col are 0-indexed. rs/cs default to 1. hdr is true for header cells.

Output ONLY the JSON object.""",
}


# prompts.py:11-24 — the system prompt that triggers data-bbox output from
# Qwen3-VL (verbatim: it is the data contract a production decoder must
# send; the repo's HTML parser consumes exactly the grammar it requests)
QWENVL_HTML_SYSTEM_PROMPT = """You are an AI specialized in recognizing and extracting text from document images.
Your mission is to analyze the page image and generate the result in QwenVL Document Parser HTML format.

QwenVL Document Parser HTML rules:
- Use standard HTML elements (<h1>-<h6>, <p>, <ul>, <ol>, <li>, <table>, <tr>, <th>, <td>, <img>, <figure>, <figcaption>, <div>, etc.).
- Every visible element (text block, heading, table, figure, list item, header, footer) MUST have a data-bbox="x1 y1 x2 y2" attribute with 4 integers in [0, 1000] (page coordinates, top-left origin).
- Coordinates must satisfy: x1 <= x2, y1 <= y2.
- Do NOT output <style>, <script>, <link>, or inline CSS.
- Do NOT output explanations before or after the HTML.
- Output valid HTML that can be parsed with a standard HTML parser.

Output ONLY the final QwenVL HTML, no explanations."""


def resolve_prompt(mode: str, overrides: dict[str, str] | None = None) -> str:
    """Override-dict lookup with per-mode default (prompts.py:49-55)."""
    if overrides:
        candidate = overrides.get(mode)
        if candidate:
            return candidate
    return DEFAULT_PROMPTS[mode]


@dataclass
class ExtractConfig:
    """Everything the extraction plan needs; broadcastable as plain data."""

    # decode backend: 'deterministic' (sandbox/tests) or 'qwen3vl' (GPU)
    decoder_backend: str = "deterministic"
    prompt_mode: str = "qwenvl_html"
    prompt_overrides: dict[str, str] = field(default_factory=dict)
    # page rasterization scale, clamped >= 1.0 (model.py:48)
    page_scale: float = 2.0
    # T12: route layout/table decoding through the per-value jsonformer
    # walk (guaranteed-valid JSON, one model call per scalar) instead of
    # single-shot + repair — forwarded to Qwen3VlOcrOptions on the workers
    force_valid_json: bool = False
    # extra Qwen3VlOcrOptions fields for the GPU backend (model_repo_id,
    # quantization, dtype, attention, hf_token, ...), passed through to the
    # worker-side decoder options verbatim; unknown keys are REJECTED there
    # by Qwen3VlOcrOptions itself (extra='forbid' parity), and a key naming
    # one of the first-class fields above is rejected here.  This is what
    # lets a spark-submit deployment select int4/int8 quantization or a
    # different model repo without constructing stage options by hand
    # (DEPLOY.md)
    decoder_options: dict = field(default_factory=dict)
    # per-stage enables (plugins' enabled flags): a disabled stage's pages
    # are filtered out before the decode pass (STAGE_PAYLOAD_KINDS)
    do_ocr: bool = True
    do_layout: bool = True
    do_tables: bool = True
    # decode-stage width (page repartition); None -> defaultParallelism
    num_partitions: int | None = None
    # (checkpoint group count lives on CheckpointedRun / submit_job — the
    # single source of truth; a duplicate knob here was dead and misleading)
    # near-dup sweep knobs, consumed by operators.dedup.
    # near_duplicate_components (k=8/2 matches the small-SF oracle;
    # production corpora run k=64, 8-16 bands)
    minhash_k: int = 8
    minhash_bands: int = 2

    def __post_init__(self) -> None:
        self.page_scale = max(1.0, self.page_scale)
        if self.page_scale > 4.0:
            # Qwen3VlOcrOptions (which decode_pages builds from this) hard
            # -requires [1, 4]; reject at the DRIVER instead of failing
            # every Spark task worker-side mid-job
            raise ValueError(f"page_scale must be <= 4.0, got {self.page_scale}")
        if self.prompt_mode not in PROMPT_MODES:
            raise ValueError(f"unknown prompt_mode: {self.prompt_mode}")
        for name in ("prompt_mode", "prompt_overrides", "page_scale", "force_valid_json"):
            if name in self.decoder_options:
                # decode_pages writes the first-class field over it
                raise ValueError(
                    f"decoder_options[{name!r}] would be ignored: set "
                    f"ExtractConfig.{name} instead"
                )

    def prompt(self) -> str:
        return resolve_prompt(self.prompt_mode, self.prompt_overrides)


# page payload kinds gated by each ExtractConfig stage enable
STAGE_PAYLOAD_KINDS: dict[str, tuple[str, ...]] = {
    "do_ocr": ("qwenvl_html", "plain_text"),
    "do_layout": ("layout_json",),
    "do_tables": ("table_json",),
}


# --------------------------------------------------------------------------
# Per-stage options surface — parity with the reference's six Pydantic
# classes (options.py:75-511): kind-dispatched construction, unknown keys
# REJECTED (extra="forbid"), range validators, and the HF-cache repo-id
# normalizer applied on every class's model_repo_id.
# --------------------------------------------------------------------------

DEFAULT_QWEN3VL_MODEL_REPO_ID = "unsloth/Qwen3-VL-4B-Instruct-bnb-4bit"
QUANTIZATION_MODES = ("none", "int8", "int4")  # options.py:67-72

# options.py:27 — cache-folder basenames like models--owner--repo
_HF_CACHE_REPO_DIR_RE = re.compile(
    r"^(?:models--)?(?P<owner>[^/\\]+)--(?P<repo>[^/\\]+)$"
)


def normalize_model_repo_id(value: str) -> str:
    """HF cache-dir path -> owner/repo (options.py:29-56, M10).

    Canonical ``owner/repo`` ids pass through; path-like values have their
    basename matched against the cache-dir pattern (greedy owner group, so
    ``a--b--c`` -> ``a--b/c`` exactly like the reference's regex); anything
    else is returned unchanged."""
    normalized = value.strip()
    if not normalized:
        return normalized
    if (
        not normalized.startswith(("/", "./", "../"))
        and "\\" not in normalized
        and normalized.count("/") == 1
    ):
        return normalized
    basename = normalized.replace("\\", "/").rstrip("/").split("/")[-1]
    match = _HF_CACHE_REPO_DIR_RE.match(basename)
    if not match:
        return normalized
    return f"{match.group('owner')}/{match.group('repo')}"


def _require(cond: bool, kind: str, message: str) -> None:
    if not cond:
        raise ValueError(f"{kind}: {message}")


@dataclass
class StageOptions:
    """Common model knobs; subclasses add per-stage fields.

    ``from_dict`` is the kind-dispatch entrypoint and rejects unknown keys
    — the analog of the reference's ``ConfigDict(extra="forbid")`` (ref
    tests tests/test_parsing.py:134-164 pin defaults + normalization)."""

    kind: ClassVar[str] = ""

    model_repo_id: str = DEFAULT_QWEN3VL_MODEL_REPO_ID
    device: str | None = "cuda"
    dtype: str = "bfloat16"
    max_new_tokens: int = 4096
    trust_remote_code: bool = True
    hf_token: str | None = None
    attn_implementation: str = "sdpa"
    quantization: str = "none"
    bnb_4bit_quant_type: str = "nf4"
    bnb_4bit_use_double_quant: bool = True

    @classmethod
    def from_dict(cls, options: dict) -> "StageOptions":
        allowed = {f.name for f in dataclasses.fields(cls)}
        unknown = sorted(set(options) - allowed)
        if unknown:
            raise ValueError(
                f"{cls.kind}: unknown option keys {unknown} (extra='forbid')"
            )
        return cls(**options)

    def __post_init__(self) -> None:
        self.model_repo_id = normalize_model_repo_id(self.model_repo_id)
        _require(self.max_new_tokens >= 1, self.kind, "max_new_tokens must be >= 1")
        _require(
            self.quantization in QUANTIZATION_MODES,
            self.kind,
            f"quantization must be one of {QUANTIZATION_MODES}",
        )


@dataclass
class Qwen3VlOcrOptions(StageOptions):
    """options.py:75-184 (kind qwen3vl_ocr)."""

    kind: ClassVar[str] = "qwen3vl_ocr"

    lang: list[str] = field(default_factory=list)  # accepted, ignored
    prompt_mode: str = "qwenvl_html"
    prompt_overrides: dict[str, str] = field(default_factory=dict)
    temperature: float = 0.6
    top_p: float = 0.95
    top_k: int = 20
    do_sample: bool = False
    timeout_s: float | None = None
    page_scale: float = 2.0
    # T12 switch: route the JSON-emitting page kinds (layout/table) through
    # the per-value jsonformer walk (guaranteed-valid, one model call per
    # scalar) instead of single-shot generation + repair cascade.  The
    # reference never flips this (both live callers use single-shot,
    # layout_model.py:164-171, table_structure_model.py:117-124); it exists
    # so a GPU deployment can choose validity over speed per job.
    force_valid_json: bool = False

    def __post_init__(self) -> None:
        super().__post_init__()
        _require(self.prompt_mode in PROMPT_MODES, self.kind,
                 f"prompt_mode must be one of {PROMPT_MODES}")
        _require(self.temperature >= 0.0, self.kind, "temperature must be >= 0")
        _require(0.0 <= self.top_p <= 1.0, self.kind, "top_p must be in [0, 1]")
        _require(self.top_k >= 1, self.kind, "top_k must be >= 1")
        _require(self.timeout_s is None or self.timeout_s >= 0.0, self.kind,
                 "timeout_s must be >= 0")
        _require(1.0 <= self.page_scale <= 4.0, self.kind,
                 "page_scale must be in [1, 4]")

    def prompt(self) -> str:
        return resolve_prompt(self.prompt_mode, self.prompt_overrides)


@dataclass
class Qwen3VlPictureDescriptionOptions(StageOptions):
    """options.py:187-259 (kind qwen3vl)."""

    kind: ClassVar[str] = "qwen3vl"

    prompt: str = (
        "Describe this image in detail. Include information about the type "
        "of content (photo, chart, diagram, illustration, etc.), the main "
        "subject, and any relevant details visible in the image."
    )


@dataclass
class Qwen3VlTableStructureOptions(StageOptions):
    """options.py:262-321 (kind qwen3vl_table)."""

    kind: ClassVar[str] = "qwen3vl_table"


@dataclass
class Qwen3VlLayoutOptions(StageOptions):
    """options.py:324-387 (kind qwen3vl_layout)."""

    kind: ClassVar[str] = "qwen3vl_layout"


@dataclass
class Qwen3VlPictureClassifierOptions(StageOptions):
    """options.py:390-445 (kind qwen3vl_classifier)."""

    kind: ClassVar[str] = "qwen3vl_classifier"


@dataclass
class Qwen3VlCodeFormulaOptions(StageOptions):
    """options.py:448-511 (kind qwen3vl_code_formula)."""

    kind: ClassVar[str] = "qwen3vl_code_formula"


OPTION_KINDS: dict[str, type[StageOptions]] = {
    cls.kind: cls
    for cls in (
        Qwen3VlOcrOptions,
        Qwen3VlPictureDescriptionOptions,
        Qwen3VlTableStructureOptions,
        Qwen3VlLayoutOptions,
        Qwen3VlPictureClassifierOptions,
        Qwen3VlCodeFormulaOptions,
    )
}


def options_from_dict(kind: str, options: dict | None = None) -> StageOptions:
    """Kind-dispatched construction with unknown-kind/-key rejection."""
    if kind not in OPTION_KINDS:
        raise ValueError(f"unknown options kind: {kind!r} "
                         f"(expected one of {sorted(OPTION_KINDS)})")
    return OPTION_KINDS[kind].from_dict(options or {})
