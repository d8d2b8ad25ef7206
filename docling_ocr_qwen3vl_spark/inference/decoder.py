"""Pluggable page decoders: payload -> ordered span-elements.

The reference's expensive stage is VLM inference over page rasters
(qwen_runner.py:63-190 for OCR, _vlm_jsonformer.py:84-160 for layout/tables).
Its CONTRACT, though, is narrow: one page payload in, structured markup out
(QwenVL HTML / paragraphs / layout JSON / table JSON).  The engine therefore
treats decoding as a pluggable backend behind a per-executor singleton:

  * ``DeterministicDecoder`` — the sandbox/test backend.  The payload already
    IS the markup, so decoding = running the reference-parity parsers from
    ``semantics/``.  Byte-reproducible, no model.
  * ``TorchQwenDecoder`` — the production slot: loads Qwen3-VL via
    transformers, micro-batches images through ``model.generate`` with the
    reference's decoding regimes (deterministic for HTML/JSON modes,
    sampled otherwise: qwen_runner.py:128-146), think-token strip before
    decode (M4), cache release between micro-batches (M6).  Import-gated —
    this container has no torch; the class raises cleanly if constructed.

Both emit the same element tuples, so everything downstream (geometry,
reading order, span assembly) is backend-independent — which is what makes
the whole engine testable at small scale and swappable onto GPUs at 100 TB.
"""

from __future__ import annotations

import time

from ..semantics.geometry import layout_boxes, table_cells
from ..semantics.html_parse import parse_qwenvl_html
from ..semantics.json_repair import parse_array, parse_object
from ..semantics.text import split_paragraphs
from .registry import get_or_create

# Element kinds emitted into the span stream.
TEXT = "text"
MEDIA = "media_ref"

# Cluster labels that become media_ref spans at their layout offsets
# (G13: figures/tables interleave as media, README.md:271-279).
MEDIA_LABELS = frozenset({"picture", "table"})

# A decoded element is a plain (seq, kind, text, y1, x1) tuple — the decode
# stage is the engine's hottest Python loop, and object/dataclass churn
# measurably dominated kernel time in profiling.  (y1, x1) carry the
# element's 0-1000 layout position for the reading-order sort (G4); elements
# without a bbox anchor at the region origin (0, 0), exactly like the
# reference's full-region fallback bbox (model.py:237-245), so they keep
# their emission order relative to each other.
# Layout: (seq: int, kind: str, text: str, y1: int, x1: int)


class DeterministicDecoder:
    """Reference-parity structural decode of the four payload kinds.

    ``simulate_cost_us`` busy-spins per page to emulate a real inference
    backend's latency (a GPU VLM costs 10^5-10^6 µs/page; the structural
    stub costs ~30 µs).  Used by the bench's inference-regime scaling run;
    0 (default) everywhere else.
    """

    def __init__(self, simulate_cost_us: int = 0):
        self.simulate_cost_us = simulate_cost_us

    def decode_batch(self, pages: list[tuple]) -> list[list[tuple]]:
        """``pages`` = [(payload_kind, payload)] -> one element list per page."""
        return [self.decode_page(kind, payload) for kind, payload in pages]

    def decode_page(self, payload_kind: str, payload: str) -> list[tuple]:
        if self.simulate_cost_us:
            deadline = time.perf_counter() + self.simulate_cost_us / 1e6
            while time.perf_counter() < deadline:
                pass
        if payload is None:
            return []
        if payload_kind == "qwenvl_html":
            return self._decode_html(payload)
        if payload_kind in ("plain_text", "ocr", "markdown", "structured"):
            # every non-HTML prompt mode flows through the paragraph
            # splitter in the reference (qwen_runner.py:186)
            return self._decode_plain(payload)
        if payload_kind == "layout_json":
            return self._decode_layout(payload)
        if payload_kind == "table_json":
            return self._decode_table(payload)
        # unknown payload kinds pass through as a single text span when
        # non-blank (never fail a task on bad input)
        stripped = payload.strip()
        return [(0, TEXT, stripped, 0, 0)] if stripped else []

    @staticmethod
    def _decode_html(payload: str) -> list[tuple]:
        out: list[tuple] = []
        for el in parse_qwenvl_html(payload, keep_empty_media=True):
            y1 = el.bbox[1] if el.bbox else 0
            x1 = el.bbox[0] if el.bbox else 0
            if el.element_type == "figure":
                out.append((len(out), MEDIA, "", y1, x1))
            else:
                out.append((len(out), TEXT, el.text, y1, x1))
        return out

    @staticmethod
    def _decode_plain(payload: str) -> list[tuple]:
        return [(i, TEXT, p, 0, 0) for i, p in enumerate(split_paragraphs(payload))]

    @staticmethod
    def _decode_layout(payload: str) -> list[tuple]:
        # anchor = the cluster's (t, l) on a 1000x1000 page, as build_clusters
        # would rescale it
        out: list[tuple] = []
        for _, label, _, x1, y1, _, _ in layout_boxes(parse_array(payload)):
            if label in MEDIA_LABELS:
                out.append(
                    (len(out), MEDIA, "", int((y1 / 1000) * 1000.0), int((x1 / 1000) * 1000.0))
                )
        return out

    @staticmethod
    def _decode_table(payload: str) -> list[tuple]:
        return [(0, MEDIA, "", 0, 0)] if table_cells(parse_object(payload)) is not None else []


class TorchQwenDecoder:
    """Production Qwen3-VL backend (GPU clusters only; import-gated).

    Mirrors the reference inference loop: per-executor singleton model
    (M1/M2), micro-batched generate (M3), think strip (M4), decode+strip
    (M5), cache release (M6).  All STRING/CONFIG logic is pure and tested
    without torch in ``inference/generation.py``; only the tensor calls
    below are deployment-only.  Constructing it without torch installed
    raises ImportError with a clear message instead of failing mid-task.
    """

    def __init__(
        self,
        options=None,
        model_repo_id: str | None = None,
        device: str | None = None,
        micro_batch: int = 8,
    ):
        import dataclasses

        from ..config import Qwen3VlOcrOptions, normalize_model_repo_id
        from .generation import resolve_dtype_name, select_attention_backend

        if isinstance(options, str):  # legacy positional repo-id call form
            options, model_repo_id = None, options
        # copy: the constructor must not mutate a caller-shared options object
        self.options = (
            dataclasses.replace(options) if options is not None else Qwen3VlOcrOptions()
        )
        if model_repo_id is not None:
            self.options.model_repo_id = normalize_model_repo_id(model_repo_id)
        # explicit constructor arg wins; else the options' device; else cuda
        self.device = device or self.options.device or "cuda"
        self.micro_batch = micro_batch
        # M7/M9: resolved BEFORE the torch gate — pure selection logic
        self.attn_implementation = select_attention_backend(
            self.options.attn_implementation
        )
        self.dtype_name = resolve_dtype_name(self.options.dtype)
        try:
            import torch  # noqa: F401
            import transformers  # noqa: F401
        except ImportError as exc:  # pragma: no cover - no torch in sandbox
            raise ImportError(
                "TorchQwenDecoder requires torch+transformers; this environment "
                "has neither. Use DeterministicDecoder, or deploy with "
                "spark-submit --py-files on a GPU cluster."
            ) from exc
        self._shared = None  # lazy (M2): first decode_page loads the model

    def _ensure_loaded(self):
        """M1/M2: per-executor singleton (model, processor) pair.

        The reference registry keys on (repo_id, device) only
        (_model_registry.py:20) and would silently hand a second stage the
        FIRST stage's precision; the key here additionally splits on
        (dtype, attention backend, quantization) so differently-configured
        stages never share a wrong-precision model — stages with identical
        settings still share one ~5-8 GB load (RECIPES.md:79-84)."""
        if self._shared is None:
            from .generation import quantization_plan

            def load():
                import transformers

                auth_kwargs = {
                    "trust_remote_code": self.options.trust_remote_code,
                    "token": self.options.hf_token,
                }
                processor = transformers.AutoProcessor.from_pretrained(
                    self.options.model_repo_id, **auth_kwargs
                )
                load_kwargs = {
                    "device_map": self.device,
                    "attn_implementation": self.attn_implementation,
                    "dtype": self.dtype_name,
                    **auth_kwargs,
                }
                quant = quantization_plan(
                    self.options.quantization,
                    bnb_4bit_quant_type=self.options.bnb_4bit_quant_type,
                    bnb_4bit_use_double_quant=self.options.bnb_4bit_use_double_quant,
                )
                if quant is not None:
                    load_kwargs["quantization_config"] = (
                        transformers.BitsAndBytesConfig(**quant)
                    )
                model = transformers.AutoModelForImageTextToText.from_pretrained(
                    self.options.model_repo_id, **load_kwargs
                )
                return model, processor

            self._shared = get_or_create(
                (
                    "qwen3vl",
                    self.options.model_repo_id,
                    self.device,
                    self.dtype_name,
                    self.attn_implementation,
                    self.options.quantization,
                    # the bnb sub-options change the loaded weights too —
                    # omitting them would hand an nf4 model to an fp4 stage
                    self.options.bnb_4bit_quant_type,
                    self.options.bnb_4bit_use_double_quant,
                ),
                load,
            )
        return self._shared

    def decode_page(self, payload_kind: str, payload) -> list[tuple]:
        """payload = the page raster (PIL image) on GPU deployments.

        Runs the reference loop (qwen_runner.py:63-190) as a micro-batch of
        one — chat template, regime-switched generate under no_grad,
        input-token slice, think strip before decode, batch_decode + strip;
        the layout/table payload kinds take the constrained single-shot
        JSON path (T11) instead — then the SAME structural parse as
        DeterministicDecoder.  Control flow is pinned by a mocked-torch
        unit test (tests/test_torch_decoder.py); only the real tensors need
        a GPU deployment."""
        return self.decode_batch([(payload_kind, payload)])[0]

    def decode_batch(self, pages: list[tuple]) -> list[list[tuple]]:
        """M3 micro-batching: ``pages`` = [(payload_kind, payload raster)].

        Rows are grouped by their EFFECTIVE (prompt, parse, JSON-root) key
        — OCR-ish kinds share one options-driven prompt/regime and batch
        together; layout/table stages have their own — and chunked to
        ``self.micro_batch`` images per
        ``model.generate`` — ONE forward pass per chunk instead of one per
        page — then every output takes the SAME structural parse as
        DeterministicDecoder.  VRAM cache released per chunk (M6)."""
        import torch

        from ..config import resolve_prompt
        from .generation import micro_batches, run_vlm_inference_batch

        model, processor = self._ensure_loaded()
        results: list = [None] * len(pages)
        ocr_mode = getattr(self.options, "prompt_mode", "qwenvl_html")
        force_valid = bool(getattr(self.options, "force_valid_json", False))

        def effective(payload_kind: str) -> tuple:
            """(prompt_mode, parse_kind, json_root) a page actually runs
            under — the micro-batch grouping key (grouping by raw
            payload_kind would fragment OCR-ish kinds that share one
            prompt/regime into separate generate calls)."""
            json_root = {"layout_json": "array", "table_json": "object"}.get(
                payload_kind
            )
            if json_root is not None:
                # layout/table stages have fixed prompts + JSON regimes
                return payload_kind, payload_kind, json_root
            if payload_kind in ("plain_text", "ocr", "markdown", "structured",
                                "qwenvl_html"):
                # OCR-ish rasters: the prompt mode comes from OPTIONS, like
                # the reference's runner.run(image, prompt_mode=options...)
                # (qwen_runner.py:63) — and the parse must match what the
                # prompt asked the model to EMIT, not the page's label
                return ocr_mode, ocr_mode, None
            # unknown payload kinds fall back to the generic OCR prompt
            # rather than KeyError-ing the whole Arrow batch — the
            # structural parse then passes the output through as a single
            # text span (the never-fail-a-task contract)
            return "ocr", payload_kind, None

        by_group: dict[tuple, list[int]] = {}
        for i, (kind, _) in enumerate(pages):
            by_group.setdefault(effective(kind), []).append(i)
        parse = DeterministicDecoder().decode_page
        for (prompt_mode, parse_kind, json_root), indices in by_group.items():
            prompt = resolve_prompt(
                prompt_mode, getattr(self.options, "prompt_overrides", None)
            )
            for chunk in micro_batches(indices, self.micro_batch):
                images = [
                    p.convert("RGB") if hasattr(p, "convert") else p
                    for p in (pages[i][1] for i in chunk)
                ]
                if json_root is not None and force_valid:
                    # T12: per-value guaranteed-valid walk — inherently one
                    # model call per scalar, so pages run one at a time (the
                    # deliberate validity-over-speed trade; micro-batch
                    # grouping still bounds images held per chunk)
                    texts = [
                        self._decode_jsonformer(
                            model, processor, torch, image, parse_kind, prompt
                        )
                        for image in images
                    ]
                else:
                    texts = run_vlm_inference_batch(
                        model, processor, torch, images, prompt_mode, prompt,
                        self.options, json_root=json_root,
                    )
                for i, out_text in zip(chunk, texts):
                    results[i] = parse(parse_kind, out_text)
                if torch.cuda.is_available():  # M6: per-chunk cache release
                    torch.cuda.empty_cache()
        return results

    def _decode_jsonformer(
        self, model, processor, torch_mod, image, payload_kind: str, prompt: str
    ) -> str:
        """One page through the T12 walk; returns serialized JSON so the
        result flows through the SAME structural parse as every other
        path (parse -> layout_boxes/table_cells)."""
        import json as _json

        from .jsonformer import JSONFORMER_SCHEMAS, JsonformerWalk, TorchTokenBackend

        backend = TorchTokenBackend(model, processor, torch_mod, image)
        walk = JsonformerWalk(
            backend,
            JSONFORMER_SCHEMAS[payload_kind],
            prompt,
            max_array_length=getattr(self.options, "max_array_length", 20),
        )
        return _json.dumps(walk())


def get_decoder(
    backend: str = "deterministic",
    simulate_cost_us: int = 0,
    decoder_opts: dict | None = None,
):
    """Per-worker singleton decoder (one instance per Python worker).

    ``decoder_opts`` carries the ExtractConfig decode knobs (prompt_mode /
    prompt_overrides / page_scale / any StageOptions field) as a plain dict
    so it pickles into the mapInPandas closure; the deterministic stub
    ignores them (its payloads already ARE the markup)."""
    if backend == "deterministic":
        return get_or_create(
            ("decoder", backend, simulate_cost_us),
            lambda: DeterministicDecoder(simulate_cost_us),
        )
    if backend == "qwen3vl":
        import json

        opts = decoder_opts or {}
        # canonical serialization: dict-valued opts (prompt_overrides) must
        # key identically regardless of insertion order
        key = ("decoder", backend, json.dumps(opts, sort_keys=True, default=str))

        def build():
            from ..config import Qwen3VlOcrOptions

            # from_dict rejects unknown keys with a ValueError that NAMES
            # them (extra='forbid' parity) — a typo'd decoder_options key
            # must not surface as a bare TypeError inside every task
            return TorchQwenDecoder(options=Qwen3VlOcrOptions.from_dict(opts))

        return get_or_create(key, build)
    raise ValueError(f"unknown decoder backend: {backend}")
