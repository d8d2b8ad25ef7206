"""M3/M7/M8/M9 + T11 pure halves and the per-stage options surface.

Where the reference logic is torch-free (repo-id normalizer, system
prompt), the tests are DIFFERENTIAL against AST-extracted reference source,
same approach as test_reference_differential.py.
"""

from __future__ import annotations

import ast

import pytest

from docling_ocr_qwen3vl_spark.config import (
    DEFAULT_QWEN3VL_MODEL_REPO_ID,
    OPTION_KINDS,
    QWENVL_HTML_SYSTEM_PROMPT,
    Qwen3VlOcrOptions,
    normalize_model_repo_id,
    options_from_dict,
)
from docling_ocr_qwen3vl_spark.inference import generation as g


@pytest.fixture(scope="module")
def ref_normalize(requires_reference):
    ref_options = requires_reference / "options.py"
    tree = ast.parse(ref_options.read_text())
    nodes = [
        n
        for n in tree.body
        if (isinstance(n, ast.FunctionDef) and n.name == "_normalize_model_repo_id")
        or (
            isinstance(n, ast.Assign)
            and any(
                getattr(t, "id", "") == "_HF_CACHE_REPO_DIR_PATTERN" for t in n.targets
            )
        )
    ]
    assert len(nodes) == 2, "reference options.py layout changed"
    import re as _re

    ns = {"re": _re}
    exec(compile(ast.Module(body=nodes, type_ignores=[]), str(ref_options), "exec"), ns)  # noqa: S102
    return ns["_normalize_model_repo_id"]


def test_repo_id_normalizer_differential(ref_normalize):
    cases = [
        "owner/repo",
        " owner/repo ",
        "",
        "   ",
        "plainname",
        "owner--repo",
        "models--owner--repo",
        "a--b--c",                      # greedy owner: a--b / c
        "models--a--b--c",
        "/cache/models--owner--repo",
        "/cache/owner--repo/",
        "./rel/models--o--r",
        "../up/o--r",
        "C:\\cache\\models--o--r",
        "/deep/path/with/owner/repo",   # >1 slash, no cache basename
        "owner/repo/extra",
        "/opt/app-root/src/.cache/docling/models/cyankiwi--Qwen3-VL-4B-Thinking-AWQ-4bit",
        "/x/.cache/huggingface/models--cyankiwi--Qwen3-VL-4B-Thinking-AWQ-4bit",
    ]
    for c in cases:
        assert normalize_model_repo_id(c) == ref_normalize(c), repr(c)


def test_system_prompt_matches_reference_verbatim(requires_reference):
    tree = ast.parse((requires_reference / "prompts.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", "") == "QWENVL_HTML_SYSTEM_PROMPT" for t in node.targets
        ):
            assert QWENVL_HTML_SYSTEM_PROMPT == ast.literal_eval(node.value)
            return
    raise AssertionError("reference prompt constant not found")


# ----------------------------------------------------------------- options
def test_options_defaults_match_reference_pins():
    o = Qwen3VlOcrOptions()
    assert o.kind == "qwen3vl_ocr"
    assert o.model_repo_id == DEFAULT_QWEN3VL_MODEL_REPO_ID
    assert o.device == "cuda"
    assert o.max_new_tokens == 4096
    assert o.temperature == 0.6
    assert o.top_p == 0.95
    assert o.top_k == 20
    assert o.do_sample is False
    assert o.page_scale == 2.0
    assert o.quantization == "none"


def test_options_kind_registry_covers_all_six_stages():
    assert set(OPTION_KINDS) == {
        "qwen3vl_ocr", "qwen3vl", "qwen3vl_table", "qwen3vl_layout",
        "qwen3vl_classifier", "qwen3vl_code_formula",
    }


@pytest.mark.parametrize("kind", sorted(
    ["qwen3vl_ocr", "qwen3vl", "qwen3vl_table", "qwen3vl_layout",
     "qwen3vl_classifier", "qwen3vl_code_formula"]))
def test_options_reject_unknown_keys(kind):
    with pytest.raises(ValueError, match="unknown option keys"):
        options_from_dict(kind, {"not_a_real_option": 1})
    # and every kind normalizes cache paths on model_repo_id
    o = options_from_dict(kind, {"model_repo_id": "/c/models--own--rep"})
    assert o.model_repo_id == "own/rep"


def test_options_reject_unknown_kind_and_bad_ranges():
    with pytest.raises(ValueError, match="unknown options kind"):
        options_from_dict("qwen2_ocr")
    for bad in (
        {"max_new_tokens": 0},
        {"temperature": -0.1},
        {"top_p": 1.5},
        {"top_k": 0},
        {"page_scale": 0.5},
        {"page_scale": 4.5},
        {"timeout_s": -1.0},
        {"prompt_mode": "html5"},
        {"quantization": "int2"},
    ):
        with pytest.raises(ValueError):
            options_from_dict("qwen3vl_ocr", bad)


# -------------------------------------------------------------- generation
def test_chat_messages_regimes():
    html = g.build_chat_messages("qwenvl_html", "QwenVL HTML", image="IMG")
    assert [m["role"] for m in html] == ["system", "user"]
    assert html[0]["content"][0]["text"] == QWENVL_HTML_SYSTEM_PROMPT
    assert html[1]["content"] == [
        {"type": "image", "image": "IMG"},
        {"type": "text", "text": "QwenVL HTML"},
    ]
    ocr = g.build_chat_messages("ocr", "Extract all text", image="IMG")
    assert [m["role"] for m in ocr] == ["user"]


def test_generation_kwargs_regime_switch():
    o = Qwen3VlOcrOptions()
    assert g.select_generation_kwargs("qwenvl_html", o) == {
        "max_new_tokens": 4096, "do_sample": False,
    }
    greedy = g.select_generation_kwargs("ocr", o)
    assert greedy == {
        "max_new_tokens": 4096, "temperature": None, "top_p": None,
        "top_k": None, "do_sample": False,
    }
    sampled = g.select_generation_kwargs(
        "ocr", Qwen3VlOcrOptions(do_sample=True, temperature=0.9)
    )
    assert sampled["do_sample"] is True
    assert sampled["temperature"] == 0.9
    assert sampled["top_p"] == 0.95 and sampled["top_k"] == 20


def test_json_prefix_injection_roundtrip():
    assert g.inject_assistant_prefix("<chat/>", "array") == "<chat/>["
    assert g.inject_assistant_prefix("<chat/>", "object") == "<chat/>{"
    assert g.finalize_json_output('  "a":1}]  ', "array") == '["a":1}]'
    assert g.finalize_json_output('"x":1}', "object") == '{"x":1}'
    with pytest.raises(ValueError):
        g.json_prefix("scalar")
    assert g.JSON_SINGLE_SHOT_KWARGS == {"do_sample": False, "repetition_penalty": 1.3}


def test_micro_batches_shapes():
    assert list(g.micro_batches(range(7), 3)) == [[0, 1, 2], [3, 4, 5], [6]]
    assert list(g.micro_batches([], 4)) == []
    assert list(g.micro_batches([1], 1)) == [[1]]
    with pytest.raises(ValueError):
        list(g.micro_batches([1], 0))


def test_slice_after_think_token_level():
    m = g.THINK_END_TOKEN_ID
    assert g.slice_after_think([1, 2, m, 3, 4]) == [3, 4]
    assert g.slice_after_think([m, 1, m, 2]) == [2]      # LAST marker wins
    assert g.slice_after_think([1, 2, 3]) == [1, 2, 3]   # absent -> unchanged
    assert g.slice_after_think([m]) == []


def test_attention_backend_fallback_without_flash_attn():
    # this container has no flash_attn, so the fallback fires
    assert g.select_attention_backend("flash_attention_2") == "sdpa"
    assert g.select_attention_backend("sdpa") == "sdpa"
    assert g.select_attention_backend("eager") == "eager"


def test_dtype_names_and_quant_plan():
    assert g.resolve_dtype_name(None) == "auto"
    assert g.resolve_dtype_name("auto") == "auto"
    assert g.resolve_dtype_name("BF16") == "bfloat16"
    assert g.resolve_dtype_name("half") == "float16"
    assert g.resolve_dtype_name("fp32") == "float32"
    assert g.resolve_dtype_name("float64") == "float64"  # pass-through
    assert g.quantization_plan("none") is None
    assert g.quantization_plan("int8") == {"load_in_8bit": True}
    int4 = g.quantization_plan("int4", "fp4", False)
    assert int4 == {
        "load_in_4bit": True, "bnb_4bit_quant_type": "fp4",
        "bnb_4bit_use_double_quant": False, "bnb_4bit_compute_dtype": "bfloat16",
    }
    with pytest.raises(ValueError):
        g.quantization_plan("int2")


def test_torch_decoder_resolves_config_then_gates_on_import():
    from docling_ocr_qwen3vl_spark.inference.decoder import TorchQwenDecoder

    with pytest.raises(ImportError, match="torch"):
        TorchQwenDecoder(
            options=Qwen3VlOcrOptions(attn_implementation="flash_attention_2"),
            model_repo_id="/c/models--own--rep",
        )
