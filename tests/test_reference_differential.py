"""Differential parity against the REFERENCE'S OWN CODE.

Round-1 verdict: the repo's parity evidence was self-referential (kernel vs
expression vs repo-authored oracle — a mis-transcribed quirk would stay
green everywhere).  This module closes that gap: the reference's pure
functions ``_parse_qwenvl_html`` (qwen_runner.py:193-292) and
``_split_paragraphs`` (qwen_runner.py:295-315) are AST-extracted from the
reference source (the module itself cannot be imported — it pulls PIL/torch
at import time) and executed directly against the repo kernels on
adversarial inputs.  Any divergence fails HERE with the exact input.
"""

from __future__ import annotations

import ast
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_ocr_qwen3vl_spark.semantics.html_parse import parse_qwenvl_html
from docling_ocr_qwen3vl_spark.semantics.text import split_paragraphs

def reference_functions(src):
    """(parse, split): exec only the self-contained defs we need from the
    reference source directory ``src``, with their real deps."""
    ref = src / "qwen_runner.py"
    tree = ast.parse(ref.read_text())
    wanted = {"HtmlElement", "_parse_qwenvl_html", "_split_paragraphs"}
    nodes = [
        n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and n.name in wanted
    ]
    assert {n.name for n in nodes} == wanted, "reference layout changed"
    module = ast.Module(body=nodes, type_ignores=[])
    import re as _re
    from dataclasses import dataclass as _dc
    from dataclasses import field as _field

    ns = {"re": _re, "dataclass": _dc, "field": _field, "tuple": tuple}
    exec(compile(module, str(ref), "exec"), ns)  # noqa: S102 - test-only
    return ns["_parse_qwenvl_html"], ns["_split_paragraphs"]


@pytest.fixture(scope="module")
def ref_fns(requires_reference):
    return reference_functions(requires_reference)


@pytest.fixture(scope="module")
def ref_parse(ref_fns):
    return ref_fns[0]


@pytest.fixture(scope="module")
def ref_split(ref_fns):
    return ref_fns[1]


def _as_tuples(elements):
    return [(e.tag, e.text, e.bbox, e.element_type) for e in elements]


# --------------------------------------------------------------- HTML parse
FRAGMENTS = [
    '<h1 data-bbox="879 283 1605 348">', "</h1>", '<p data-bbox="1 2 3 4">',
    "</p>", "<p>", "</p>", "<P>", "</P>", "<ul>", "</ul>", "<li>", "</li>",
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
    "<img/>", '<img data-bbox="9 9 9 9"/>', "<figure>", "</figure>",
    "<div>", "</div>", "<span>", "</span>", "<style>", "</style>",
    "<script>", "</script>", '<link rel="x"/>', "<br>", "<p/>",
    "text", " more ", "\n", "\t", "&amp;", "&#65;", "&lt;p&gt;", "a<b",
    '"quoted"', "p{margin:0}", '<p data-bbox="bad">', '<p data-bbox="1 2 3">',
    '<p data-bbox="1 2 3 4 5">', '<p data-bbox="">', '<p data-bbox="1 2 3 four">',
    '<p data-bbox="1 2 3 4" data-bbox="5 6 7 8">', '<p xdata-bbox="1 2 3 4">',
    '<p data-bbox="1 2 3 four" data-bbox="10 20 30 40">',
    "<h2>", "</h2>", "<ol>", "</ol>", "<unknown>", "</unknown>",
    "<!-- comment -->", "<p", ">", "</", "<p class=x>", "<TD>", "</TD>",
]


def test_html_parse_differential_fragment_soup(ref_parse):
    rng = random.Random(20260816)
    for _ in range(20000):
        s = "".join(rng.choices(FRAGMENTS, k=rng.randint(0, 10)))
        assert _as_tuples(parse_qwenvl_html(s)) == _as_tuples(ref_parse(s)), repr(s)


def test_html_parse_differential_known_quirks(ref_parse):
    cases = [
        "",
        "   ",
        "plain text, no tags at all",
        "<ul><li>x</li></ul>",                          # nesting: only li emits
        "<p>a<style>x</style>b</p>",                    # style text leaks into p
        "<P DATA-BBOX=\"1 2 3 4\">upper</P>",           # case-insensitive
        '<p data-bbox="1 2 3 four">t</p>',              # int() fails -> None
        '<p data-bbox="1 2 3 four" data-bbox="9 9 9 9">t</p>',  # later valid wins
        '<p xdata-bbox="1 2 3 4">t</p>',                # suffix attr must not match
        "<img/><img/>",                                 # empty media drops (strict)
        "<style>boiler</style>",                        # fallback strips tags
        "<p>a&amp;b</p>",                               # charref in data
        "<p>one</p> stray <p>two</p>",
        "<table><tr><td>c</td></tr></table>",           # only innermost closes
        "<h1>t",                                        # unclosed
        "</p>",                                         # close without open
        "<p></p><p> </p>",                              # blank text dropped
        "<div>a<p>b</p>c</div>",                        # p replaces div
    ]
    for s in cases:
        assert _as_tuples(parse_qwenvl_html(s)) == _as_tuples(ref_parse(s)), repr(s)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from(FRAGMENTS) | st.text(max_size=12), max_size=12).map(
        "".join
    )
)
def test_html_parse_differential_hypothesis(ref_parse, s):
    assert _as_tuples(parse_qwenvl_html(s)) == _as_tuples(ref_parse(s))


# ---------------------------------------------------------- paragraph split
PARA_PIECES = ["a", "bb", "  ", "\n", "\n\n", "\r\n", "\r", "\t", "\x0b",
               "\x0c", "word ", ".", "\n \n", "\n\t\n", "\x85", " "]


def test_split_paragraphs_differential_soup(ref_split):
    rng = random.Random(99)
    for _ in range(20000):
        s = "".join(rng.choices(PARA_PIECES, k=rng.randint(0, 12)))
        assert split_paragraphs(s) == ref_split(s), repr(s)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="ab \n\r\t\x0b\x0c\x85 .", max_size=40))
def test_split_paragraphs_differential_hypothesis(ref_split, s):
    assert split_paragraphs(s) == ref_split(s)


@pytest.mark.parametrize(
    "s",
    ["", "x", "a\n\nb", "a\nb", "a\rb", "  \n\n  ", "one\n\n\n\ntwo",
     "a\n \nb", "a\x0bb", " lead", "e\x85f", "a\r\n\r\nb\rc"],
)
def test_split_paragraphs_differential_pinned(ref_split, s):
    assert split_paragraphs(s) == ref_split(s)
