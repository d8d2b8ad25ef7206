"""T12 differential: my JsonformerWalk vs the REFERENCE VLMJsonformer,
both executed against the same scripted "model brain".

The reference module (_vlm_jsonformer.py) is torch-free at module level, so
it loads directly from the reference tree (same mechanism as the other
differential suites).  A shared brain maps each assistant-prefix to a
scripted continuation plus a next-token ranking; the reference class runs
it through mocked model/processor/tokenizer objects (char-level tokens),
my walk through a TokenBackend bridge.  Outputs AND the sequence of
progress prefixes must match exactly — any drift in prefix building,
scalar parsing, the boolean probe, or the array-continue decision fails
the test on real reference code, not on a re-description of it.
"""

from __future__ import annotations

import importlib.util
import sys
import types

import pytest


@pytest.fixture(scope="module")
def ref_mod(requires_reference):
    spec = importlib.util.spec_from_file_location(
        "_ref_vlm_jsonformer", requires_reference / "_vlm_jsonformer.py"
    )
    mod = importlib.util.module_from_spec(spec)
    # the module imports torch lazily inside methods; provide a no-grad stub
    torch = types.ModuleType("torch")

    class _NoGrad:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    torch.no_grad = _NoGrad
    sys.modules.setdefault("torch", torch)
    spec.loader.exec_module(mod)
    yield mod
    if sys.modules.get("torch") is torch:
        del sys.modules["torch"]


# ------------------------------------------------------- scripted brain
class Brain:
    """prefix -> (continuation text, ranking of next-token strings)."""

    def __init__(self, script: dict, default_ranking=("x",)):
        self.script = dict(script)
        self.default_ranking = list(default_ranking)
        self.prefixes_seen: list[str] = []

    def lookup(self, prefix: str):
        self.prefixes_seen.append(prefix)
        if prefix not in self.script:
            raise AssertionError(f"unscripted prefix: {prefix!r}")
        entry = self.script[prefix]
        if isinstance(entry, tuple):
            return entry
        return entry, self.default_ranking


# ------------------------------ reference-side mocks (char-level tokens)
class RefRow:
    def __init__(self, vals):
        self.vals = list(vals)

    def __getitem__(self, sel):
        return RefRow(self.vals[sel]) if isinstance(sel, slice) else self.vals[sel]

    def tolist(self):
        return list(self.vals)

    def __iter__(self):
        return iter(self.vals)


class RefTensor:
    def __init__(self, rows):
        self.rows = rows

    def __getitem__(self, idx):
        if isinstance(idx, tuple):
            r, c = idx
            if isinstance(c, slice):
                return RefRow(self.rows[r].vals[c])
            return self.rows[r].vals[c]  # logits[0, -1] -> the element itself
        return self.rows[idx]


class RefLogits:
    """Scores descend with ranking position; supports the exact tensor ops
    generate_boolean/_should_continue_array perform."""

    def __init__(self, ranking_ids, vocab_size):
        self.scores = {tid: float(len(ranking_ids) - i) for i, tid in enumerate(ranking_ids)}
        self.vocab = vocab_size

    def __getitem__(self, idx):
        if isinstance(idx, (list, RefIdVec)):
            return RefScoreVec([self.scores.get(i, 0.0) for i in idx])
        return self.scores.get(idx, 0.0)

    def topk(self, k):
        ids = sorted(range(self.vocab), key=lambda i: -self.scores.get(i, 0.0))[:k]
        return types.SimpleNamespace(indices=RefIdVec(ids))


class RefIdVec:
    def __init__(self, ids):
        self.ids = list(ids)

    def __getitem__(self, order):
        if isinstance(order, RefIdVec):
            return RefIdVec([self.ids[i] for i in order.ids])
        return self.ids[order]

    def __iter__(self):
        return iter(self.ids)

    def __len__(self):
        return len(self.ids)


class RefScoreVec:
    def __init__(self, scores):
        self.scores = scores

    def argsort(self, descending=False):
        order = sorted(range(len(self.scores)),
                       key=lambda i: self.scores[i],
                       reverse=descending)
        return RefIdVec(order)


class Vocab:
    """char-level token table + special true/false tokens."""

    def __init__(self):
        self.tok_to_id: dict[str, int] = {}
        self.id_to_tok: dict[int, str] = {}

    def id_for(self, tok: str) -> int:
        if tok not in self.tok_to_id:
            i = len(self.tok_to_id)
            self.tok_to_id[tok] = i
            self.id_to_tok[i] = tok
        return self.tok_to_id[tok]


class RefTokenizer:
    def __init__(self, vocab):
        self.vocab = vocab
        self.eos_token_id = 0

    def convert_tokens_to_ids(self, tok):
        return self.vocab.id_for(tok)

    def decode(self, ids, skip_special_tokens=False):
        if isinstance(ids, int):
            return self.vocab.id_to_tok[ids]
        if isinstance(ids, (RefRow, RefIdVec)):
            ids = list(ids)
        return "".join(self.vocab.id_to_tok[i] for i in ids)


class RefProcessor:
    def __init__(self, brain, vocab):
        self.brain, self.vocab = brain, vocab
        self.tokenizer = RefTokenizer(vocab)
        self._last_prefix = ""

    def apply_chat_template(self, messages, tokenize, add_generation_prompt):
        return "<chat>"

    def __call__(self, *, text, images, padding, return_tensors):
        # text[0] == "<chat>" + assistant_prefix
        self._last_prefix = text[0][len("<chat>"):]

        class Inputs(dict):
            def to(self, device):
                return self

        return Inputs(input_ids=types.SimpleNamespace(shape=(1, 0)))


class RefModel:
    device = "cpu"

    def __init__(self, brain, vocab, processor):
        self.brain, self.vocab, self.processor = brain, vocab, processor

    def _entry(self):
        return self.brain.lookup(self.processor._last_prefix)

    def generate(self, *, max_new_tokens, do_sample, pad_token_id=None, **kw):
        continuation, _ = self._entry()
        toks = [self.vocab.id_for(ch) for ch in continuation[:max_new_tokens]]
        return RefTensor([RefRow(toks)])

    def forward(self, **inputs):
        _, ranking = self._entry()
        ranking_ids = [self.vocab.id_for(t) for t in ranking]
        return types.SimpleNamespace(
            logits=RefTensor([RefRow([RefLogits(ranking_ids, len(self.vocab.tok_to_id))])])
        )


# ------------------------------------ my-side bridge over the same brain
class BridgeBackend:
    def __init__(self, brain):
        self.brain = brain

    def continue_text(self, user_text, assistant_prefix, max_new_tokens):
        continuation, _ = self.brain.lookup(assistant_prefix)
        return continuation[:max_new_tokens]

    def top_tokens(self, user_text, assistant_prefix, k):
        _, ranking = self.brain.lookup(assistant_prefix)
        return list(ranking)[:k]

    def prefer_literal(self, user_text, assistant_prefix, a, b):
        # mirrors RefLogits exactly: score = len(ranking)-i for ranked
        # tokens, 0.0 default, strict > compare (never None — the char
        # vocab resolves every literal, like the reference's primary branch)
        _, ranking = self.brain.lookup(assistant_prefix)
        scores = {tok: float(len(ranking) - i) for i, tok in enumerate(ranking)}
        return scores.get(a, 0.0) > scores.get(b, 0.0)


def run_both(ref_mod, schema, script, prompt="extract"):
    from docling_ocr_qwen3vl_spark.inference.jsonformer import JsonformerWalk

    brain_ref = Brain(script)
    vocab = Vocab()
    vocab.id_for("<pad>")  # id 0 = eos
    processor = RefProcessor(brain_ref, vocab)
    model = RefModel(brain_ref, vocab, processor)
    ref_out = ref_mod.VLMJsonformer(model, processor, schema, prompt, image=object())()

    brain_mine = Brain(script)
    mine_out = JsonformerWalk(BridgeBackend(brain_mine), schema, prompt)()
    return ref_out, mine_out, brain_ref.prefixes_seen, brain_mine.prefixes_seen


def test_differential_object_with_all_scalar_types(ref_mod):
    schema = {
        "type": "object",
        "properties": {
            "rows": {"type": "number"},
            "title": {"type": "string"},
            "hdr": {"type": "boolean"},
        },
    }
    script = {
        '{"rows": ': "3, ",
        '{"rows": 3, "title": "': 'Quarterly" junk',
        '{"rows": 3, "title": "Quarterly", "hdr": ': ("", ["true", "false"]),
    }
    ref_out, mine_out, ref_pref, mine_pref = run_both(ref_mod, schema, script)
    assert ref_out == mine_out == {"rows": 3, "title": "Quarterly", "hdr": True}
    assert ref_pref == mine_pref


def test_differential_array_walk_and_continue_probe(ref_mod):
    schema = {
        "type": "array",
        "items": {"type": "object", "properties": {"x1": {"type": "number"}}},
    }
    script = {
        '[{"x1": ': "100}",
        '[{"x1": 100}, {"x1": ': "250.5]",
        '[{"x1": 100}, {"x1": 250.5}, ': ("", [",", "]"]),
        '[{"x1": 100}, {"x1": 250.5}, {"x1": ': "40",
        '[{"x1": 100}, {"x1": 250.5}, {"x1": 40}, ': ("", ["]", ","]),
    }
    ref_out, mine_out, ref_pref, mine_pref = run_both(ref_mod, schema, script)
    assert ref_out == mine_out == [{"x1": 100}, {"x1": 250.5}, {"x1": 40}]
    assert ref_pref == mine_pref


def test_differential_number_garbage_and_float(ref_mod):
    schema = {
        "type": "object",
        "properties": {"a": {"type": "number"}, "b": {"type": "number"}},
    }
    script = {
        '{"a": ': "junk, ",
        '{"a": 0, "b": ': "12.5}",
    }
    ref_out, mine_out, ref_pref, mine_pref = run_both(ref_mod, schema, script)
    assert ref_out == mine_out == {"a": 0, "b": 12.5}
    assert ref_pref == mine_pref


def test_differential_boolean_unranked_literals(ref_mod):
    """The round-3 divergence case: 'true'/'false' both resolve to vocab
    ids but NEITHER appears in the next-token ranking — the reference's
    primary branch compares two 0.0 logits (strict > -> False) without
    ever generating; the walk must do the same, not scan top-30 or fall
    back to greedy."""
    schema = {"type": "object", "properties": {"hdr": {"type": "boolean"}}}
    script = {
        '{"hdr": ': ("", ["{", "[", "x"]),  # no true/false anywhere
    }
    ref_out, mine_out, ref_pref, mine_pref = run_both(ref_mod, schema, script)
    assert ref_out == mine_out == {"hdr": False}
    assert ref_pref == mine_pref


def test_differential_boolean_one_ranked_literal(ref_mod):
    schema = {"type": "object", "properties": {"hdr": {"type": "boolean"}}}
    script = {
        '{"hdr": ': ("", ["x", "true"]),  # only 'true' ranked -> beats 0.0
    }
    ref_out, mine_out, ref_pref, mine_pref = run_both(ref_mod, schema, script)
    assert ref_out == mine_out == {"hdr": True}
    assert ref_pref == mine_pref


# --------------------------- randomized differential (hypothesis-driven)
import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st


class ReactiveBrain:
    """Answers ANY prefix deterministically (md5-derived), so randomized
    schemas need no pre-scripting: both walks consult the same function of
    the prefix, and any divergence in prefix CONSTRUCTION surfaces as a
    different continuation/ranking stream -> different outputs."""

    _CONTINUATIONS = ['12.5, ', '-3}', 'junk', 'alpha" tail', '0.25',
                      'true x', '7, 8', 'Quarterly" ...', '', '99']
    # every ranking carries a decisive array token (',' or ']'): the
    # ref-side mock's topk(30) pads its tail with ZERO-SCORE vocab chars
    # (including ','/']' minted while char-tokenizing earlier
    # continuations) in arbitrary id order — a mock artifact a real
    # model's top-30 does not have — so the scripted ranking must decide
    # the continue-probe before that tail can
    _RANKINGS = [[","], ["]"], ["true", "false", ","], ["false", "true", "]"],
                 ["x", "true", ","], ["{", "x", "]"], ["]", ","], ["x", ","]]

    def __init__(self):
        self.prefixes_seen: list[str] = []

    def lookup(self, prefix: str):
        self.prefixes_seen.append(prefix)
        h = int(hashlib.md5(prefix.encode()).hexdigest(), 16)
        return (
            self._CONTINUATIONS[h % len(self._CONTINUATIONS)],
            self._RANKINGS[(h >> 8) % len(self._RANKINGS)],
        )


_scalar = st.sampled_from(
    [{"type": "number"}, {"type": "string"}, {"type": "boolean"}]
)
_schema = st.recursive(
    _scalar,
    lambda children: st.one_of(
        st.fixed_dictionaries(
            {"type": st.just("object"),
             "properties": st.dictionaries(
                 st.sampled_from(["a", "b", "rows", "label", "x1"]),
                 children, min_size=1, max_size=3)}
        ),
        st.fixed_dictionaries(
            {"type": st.just("array"), "items": children}
        ),
    ),
    max_leaves=6,
)
_root = st.one_of(
    st.fixed_dictionaries(
        {"type": st.just("object"),
         "properties": st.dictionaries(
             st.sampled_from(["a", "b", "cells"]), _schema,
             min_size=1, max_size=3)}),
    st.fixed_dictionaries({"type": st.just("array"), "items": _schema}),
)


@settings(max_examples=40, deadline=None)
@given(schema=_root)
def test_differential_randomized_schemas(ref_mod, schema):
    """Randomized schema trees over a reactive brain: the reference
    VLMJsonformer and JsonformerWalk must produce identical outputs AND
    identical prefix streams for EVERY schema shape — object/array
    nesting, scalar mix, array-continue decisions, boolean probes."""
    from docling_ocr_qwen3vl_spark.inference.jsonformer import JsonformerWalk

    brain_ref = ReactiveBrain()
    vocab = Vocab()
    vocab.id_for("<pad>")
    processor = RefProcessor(brain_ref, vocab)
    model = RefModel(brain_ref, vocab, processor)
    ref_out = ref_mod.VLMJsonformer(
        model, processor, schema, "extract", image=object()
    )()

    brain_mine = ReactiveBrain()
    mine_out = JsonformerWalk(BridgeBackend(brain_mine), schema, "extract")()

    assert ref_out == mine_out
    assert brain_ref.prefixes_seen == brain_mine.prefixes_seen

