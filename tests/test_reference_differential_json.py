"""Differential parity for the JSON repair cascade (T6-T10) against the
REFERENCE'S OWN CODE, AST-extracted from _vlm_jsonformer.py (the module
imports torch-adjacent helpers at call time, but the repair functions are
pure re+json).  Same approach as test_reference_differential.py."""

from __future__ import annotations

import ast
import logging
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_ocr_qwen3vl_spark.semantics.json_repair import (
    extract_valid_elements,
    fix_corrupted_keys,
    parse_array,
    parse_object,
    repair_json_array,
    repair_json_object,
)

WANTED = {
    "_fix_corrupted_keys",
    "_repair_json_array",
    "_repair_json_object",
    "_extract_valid_elements",
    "_parse_array",
    "_parse_object",
}


@pytest.fixture(scope="module")
def pairs(requires_reference):
    """(mine, reference) function pairs, the reference defs exec'd from
    its source."""
    ref = requires_reference / "_vlm_jsonformer.py"
    tree = ast.parse(ref.read_text())
    nodes = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in WANTED
    ]
    assert {n.name for n in nodes} == WANTED, "reference layout changed"
    import json as _json
    import re as _re

    ns = {"re": _re, "json": _json, "_log": logging.getLogger("ref-test")}
    exec(compile(ast.Module(body=nodes, type_ignores=[]), str(ref), "exec"), ns)  # noqa: S102
    return [
        (fix_corrupted_keys, ns["_fix_corrupted_keys"]),
        (repair_json_array, ns["_repair_json_array"]),
        (repair_json_object, ns["_repair_json_object"]),
        (extract_valid_elements, ns["_extract_valid_elements"]),
        (parse_array, ns["_parse_array"]),
        (parse_object, ns["_parse_object"]),
    ]


FRAGMENTS = [
    '{"a":1}', '[{"x":2},{"y":3}]', '"y1:890', '"k":', "[", "]", "{", "}",
    ",", ", }", ",]", "[{", '{"a":1,', '{"b2:3}', "null", "true", "12",
    'prose around {"v":1} more prose', '[1,2,', '{"a":[1,2]}', '{"a":{"b":1}}',
    "\n", " ", '{"unterminated":"str', '[{"a":1},{"b":2}', '{"a":1}}',
    '[[1],[2]]', '{"a" : 1 , }', "garbage", '{"s":"with , comma"}',
    '<html>{"x":1}</html>', '[{"rs":1,"cs":2,"hdr":true}]',
]


def test_json_repair_differential_soup(pairs):
    rng = random.Random(424242)
    for _ in range(8000):
        s = "".join(rng.choices(FRAGMENTS, k=rng.randint(0, 6)))
        for mine, ref in pairs:
            assert mine(s) == ref(s), (mine.__name__, repr(s))


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(FRAGMENTS) | st.text(max_size=10), max_size=8).map("".join))
def test_json_repair_differential_hypothesis(pairs, s):
    for mine, ref in pairs:
        assert mine(s) == ref(s), (mine.__name__, repr(s))
