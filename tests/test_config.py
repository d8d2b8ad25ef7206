"""Config/prompt parity — mirrors the reference's prompt and option tests
(/root/reference/tests/test_parsing.py:105-164)."""

import pytest

from docling_ocr_qwen3vl_spark.config import (
    DEFAULT_PROMPTS,
    ExtractConfig,
    resolve_prompt,
)


def test_default_prompts_contain_expected_content():
    ocr = resolve_prompt("ocr")
    assert "Extract all text" in ocr and "reading order" in ocr
    md = resolve_prompt("markdown")
    assert "markdown" in md.lower() and "headings" in md.lower()
    assert "layout" in resolve_prompt("structured").lower()
    assert resolve_prompt("qwenvl_html") == "QwenVL HTML"


def test_prompt_overrides():
    custom = "My custom OCR prompt"
    assert resolve_prompt("ocr", {"ocr": custom}) == custom
    # empty override falls through to the default (reference :49-55)
    assert resolve_prompt("ocr", {"ocr": ""}) == DEFAULT_PROMPTS["ocr"]
    assert resolve_prompt("ocr", {"markdown": custom}) == DEFAULT_PROMPTS["ocr"]


def test_config_page_scale_clamped():
    assert ExtractConfig(page_scale=0.5).page_scale == 1.0  # model.py:48
    assert ExtractConfig(page_scale=3.0).page_scale == 3.0


def test_config_rejects_unknown_mode():
    with pytest.raises(ValueError):
        ExtractConfig(prompt_mode="nope")


def test_force_valid_json_flows_from_extract_config(monkeypatch, spark):
    """ExtractConfig.force_valid_json must reach the worker-side decoder
    options (the T12 walk is selectable from the PIPELINE config, not only
    by constructing Qwen3VlOcrOptions directly)."""
    from docling_ocr_qwen3vl_spark.config import ExtractConfig, Qwen3VlOcrOptions
    from docling_ocr_qwen3vl_spark.operators import page_decode

    seen = {}
    real = page_decode._make_decode_batches

    def spy(backend, decoder_opts):
        seen["backend"] = backend
        seen["opts"] = decoder_opts
        return real(backend, decoder_opts)

    monkeypatch.setattr(page_decode, "_make_decode_batches", spy)
    raw = spark.createDataFrame(
        [(1, 0, "plain_text", "hello world")],
        "doc_id long, page_no int, payload_kind string, payload string",
    )
    page_decode.decode_pages(raw, config=ExtractConfig(force_valid_json=True))
    assert seen["opts"]["force_valid_json"] is True
    # and the dict round-trips into the stage options the decoder builds
    opts = Qwen3VlOcrOptions(**{k: v for k, v in seen["opts"].items()})
    assert opts.force_valid_json is True


def test_decoder_options_passthrough_reaches_worker_opts(monkeypatch, spark):
    """ExtractConfig.decoder_options (the spark-submit deployment's
    quantization/model-repo knobs — DEPLOY.md) merges into the worker
    decoder opts beside the first-class pipeline fields, a key naming one
    of those fields is rejected, and the merged dict still round-trips
    into Qwen3VlOcrOptions."""
    from docling_ocr_qwen3vl_spark.config import ExtractConfig, Qwen3VlOcrOptions
    from docling_ocr_qwen3vl_spark.operators import page_decode

    seen = {}
    real = page_decode._make_decode_batches

    def spy(backend, decoder_opts):
        seen["opts"] = decoder_opts
        return real(backend, decoder_opts)

    monkeypatch.setattr(page_decode, "_make_decode_batches", spy)
    raw = spark.createDataFrame(
        [(1, 0, "plain_text", "hello world")],
        "doc_id long, page_no int, payload_kind string, payload string",
    )
    with pytest.raises(ValueError, match=r"ExtractConfig\.prompt_mode"):
        ExtractConfig(prompt_mode="ocr", decoder_options={"prompt_mode": "markdown"})
    cfg = ExtractConfig(
        prompt_mode="ocr",
        decoder_options={"quantization": "int4", "model_repo_id": "owner/other-model"},
    )
    page_decode.decode_pages(raw, config=cfg)
    assert seen["opts"]["quantization"] == "int4"
    assert seen["opts"]["model_repo_id"] == "owner/other-model"
    assert seen["opts"]["prompt_mode"] == "ocr"
    opts = Qwen3VlOcrOptions(**seen["opts"])
    assert opts.quantization == "int4"


@pytest.mark.parametrize(
    "name, value",
    [
        ("prompt_mode", "markdown"),
        ("prompt_overrides", {"ocr": "x"}),
        ("page_scale", 3.0),
        ("force_valid_json", True),
    ],
)
def test_decoder_options_rejects_first_class_fields(name, value):
    """decode_pages writes the four first-class decode fields over
    decoder_options, so a decoder_options entry for one of them could only
    be thrown away (e.g. ``{"force_valid_json": True}`` would still run the
    single-shot JSON path).  It is rejected, naming the field to use."""
    with pytest.raises(ValueError, match=rf"ExtractConfig\.{name}\b"):
        ExtractConfig(decoder_options={name: value})


def test_decoder_options_unknown_key_rejected_with_name():
    """A typo'd decoder_options key must fail via StageOptions.from_dict's
    extra='forbid' ValueError that NAMES the key — not a bare TypeError
    inside every Spark task on the GPU cluster (config.py promises this
    next to the decoder_options field)."""
    import pytest

    from docling_ocr_qwen3vl_spark.inference.decoder import get_decoder

    with pytest.raises(ValueError, match="quantisation"):
        get_decoder("qwen3vl", decoder_opts={"quantisation": "int8"})
