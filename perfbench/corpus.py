"""Seeded input corpora for the benchmark workloads.

Everything here is plain Python + pyarrow: the program under test only ever
sees the parquet files these functions write, never the generator.

Seed contract: the seed picks the doc_id offset and nothing else, so two
seeds do the same amount of work.  The texts are the same for every seed,
so are the sizes, and the mix of page kinds and HTML grammar variants is
too.  The synthetic page source derives every page property
from ``doc_id`` modulo 3, 4, 5, 7, 11 and 16 (sources/synthetic.py), so
offsets are whole multiples of ``MIX_PERIOD`` = lcm(3, 4, 5, 7, 11, 16).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIX_PERIOD = math.lcm(3, 4, 5, 7, 11, 16)  # 18480
MUTANT_ID_BASE = 1 << 40  # planted near-dup i has doc_id original + this
MUTANT_SUFFIX = " zz qq"

# The base corpus reproduces what was measured on the 5 000-row sf0.1
# `documents` table the workload sizes were first taken from: texts of
# 10-100 words (uniform) over a 30-word vocabulary, languages 41% en and
# ~15% each zh/es/fr/de, source = src(doc_id mod 20), 250 docs (5%) that
# are near-dups of another doc, and 8 exact duplicate pairs.
N_BASE = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARE = (0.41, 0.15, 0.15, 0.15, 0.14)
EXACT_DUPS = 8
# sf0.1 makes each near-dup as another doc's text + " dup", which under
# LSH gives small cliques that converge in 2 rounds.  The dedup graph the
# workload sizes were taken from (98 047 pairs, 75 605 components and 6
# rounds over 160 000 docs) has near-dup chains.  So the 250 near-dups
# here form 50 chains: a root of 40-100 words, then 5 docs, each the one
# before with 2 words substituted.  Neighbours in a chain are near-dups,
# docs further apart are so only by chance.  Over the 10 000 dedup docs
# this gives 6 309 pairs, 4 817 components and 6 rounds: the same pairs
# and components per doc as that graph.
CHAINS, CHAIN_LINKS, CHAIN_ROOT_WORDS, LINK_EDITS = 50, 5, 40, 2
SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _words(rng, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n).tolist()]


def base_corpus() -> tuple[list[str], list[str]]:
    """(texts, langs) of the ``N_BASE`` base docs (seed-independent)."""
    rng = np.random.default_rng(20_240_601)
    texts = [
        " ".join(_words(rng, n))
        for n in rng.integers(MIN_WORDS, MAX_WORDS + 1, size=N_BASE).tolist()
    ]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), size=N_BASE, p=LANG_SHARE)]
    slots = iter(rng.permutation(N_BASE).tolist())
    for _ in range(CHAINS):
        # ids rise along a chain: the root is its component's min id
        chain = sorted(next(slots) for _ in range(CHAIN_LINKS + 1))
        words = _words(rng, int(rng.integers(CHAIN_ROOT_WORDS, MAX_WORDS + 1)))
        texts[chain[0]] = " ".join(words)
        for slot in chain[1:]:
            words = list(words)
            for pos in rng.choice(len(words), size=LINK_EDITS, replace=False).tolist():
                shift = 1 + int(rng.integers(0, len(VOCAB) - 1))
                words[pos] = VOCAB[(VOCAB.index(words[pos]) + shift) % len(VOCAB)]
            texts[slot] = " ".join(words)
    for _ in range(EXACT_DUPS):
        src, dst = next(slots), next(slots)
        texts[dst] = texts[src]
    return texts, langs


def doc_id_offset(seed: int) -> int:
    """First doc_id of the corpus for ``seed``: a whole number of mix periods."""
    rng = np.random.default_rng([seed, 1])
    return MIX_PERIOD * int(rng.integers(1, 1_000_000))


def _table(doc_ids: list[int], texts: list[str], langs: list[str]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{d % 20}" for d in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=SCHEMA,
    )


def extract_documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents with consecutive ids from the seed's offset; the
    texts tile the fixed base set."""
    texts, langs = base_corpus()
    start = doc_id_offset(seed)
    ids = list(range(start, start + n_docs))
    base = [i % N_BASE for i in range(n_docs)]
    return _table(ids, [texts[i] for i in base], [langs[i] for i in base])


def _salted(text: str, salt: str) -> str:
    # the salt suffixed to every word makes every shingle replica-specific,
    # so replicas of one base text are not near-dups; the base corpus's
    # chains and exact duplicates repeat inside every replica.  Salts are
    # fixed, not drawn from the seed: which chance pairs LSH finds in a
    # chain depends on the salted text, and with seeded salts the round
    # count went from 5 to 8 between seeds.  (Salt tokens between the words
    # would not do: the shingles "<salt> <word> <salt>" are shared by every
    # text of one replica and make chance pairs.)
    return " ".join(w + salt for w in text.split())


def dedup_documents(seed: int, n_originals: int) -> pa.Table:
    """``n_originals`` originals, replica r of the base corpus salted with
    ``r<r>``, plus one planted near-dup each (the original's text +
    ``MUTANT_SUFFIX``, id + ``MUTANT_ID_BASE``)."""
    base, base_langs = base_corpus()
    start = doc_id_offset(seed)
    ids, texts, langs = [], [], []
    for i in range(n_originals):
        ids.append(start + i)
        texts.append(_salted(base[i % N_BASE], f"r{i // N_BASE}"))
        langs.append(base_langs[i % N_BASE])
    mutant_ids = [d + MUTANT_ID_BASE for d in ids]
    mutant_texts = [t + MUTANT_SUFFIX for t in texts]
    return _table(ids + mutant_ids, texts + mutant_texts, langs + langs)


def stream_batches(seed: int, n_batches: int, per_batch: int) -> list[pa.Table]:
    """Micro-batch files: batch b holds ``per_batch`` new salted originals
    plus the planted near-dups of batch b-1's originals, so every planted
    pair spans two batches and must be caught by the signature store."""
    both = dedup_documents(seed, n_batches * per_batch)
    n = n_batches * per_batch
    out = []
    for b in range(n_batches):
        parts = [both.slice(b * per_batch, per_batch)]
        if b > 0:
            parts.append(both.slice(n + (b - 1) * per_batch, per_batch))
        out.append(pa.concat_tables(parts))
    return out


def table_digest(table: pa.Table) -> str:
    """Order-sensitive sha256 of every value: the generator's identity."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        for value in table.column(name).to_pylist():
            h.update(repr(value).encode())
    return h.hexdigest()


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )
