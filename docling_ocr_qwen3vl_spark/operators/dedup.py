"""Deduplication operators for the training-data pipeline.

Four families, all engine-portable (every hash is md5-derived so the DuckDB
oracle can recompute bit-identical values — no Spark-private xxhash in any
semantic position):

  * exact        — hash-groupBy on normalized text (see queries.q_dedup_exact)
  * MinHash+LSH  — word-shingles -> k minhash lanes (a Python kernel) ->
                   band keys (one JVM md5 expression) -> candidate pairs
                   (key_pairs), or a star per band bucket for components
  * SimHash      — per-bit majority over shingle hashes -> 60-bit signature;
                   near-dup pairs via pigeonhole bit-block banding
                   (guaranteed recall at the configured hamming radius)
  * n-gram Jaccard — exact set overlap within (block_cols, log2-size-bucket)
                   blocks with neighbour probing (guaranteed recall at the
                   configured threshold)

Scale notes: every family is shuffle-bounded by its JOIN KEY design —
LSH bands / simhash bit-blocks / (lang, size-bucket) blocks keep candidate
sets tiny so the quadratic step never sees the full corpus.  At 10^12 docs
the band tables are the only shuffles and AQE handles band skew (hot bands
from boilerplate-heavy corpora are split by the skew-join rule).
"""

from __future__ import annotations

import re
from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text_fns import words

N_MINHASHES = 8
SHINGLE_WIDTH = 3
SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits a signed 64-bit lane
# dup_components' round cap: rounds = component diameter, far below this
MAX_ROUNDS = 50


def portable_hash64(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — identical in Spark
    (conv/substring) and DuckDB (('0x' || substr)::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(text_col: Column, width: int = SHINGLE_WIDTH) -> Column:
    """Overlapping word n-grams, in order.  Texts with fewer than ``width``
    words emit a single shorter shingle: ``slice`` truncates at the array
    end, so there is no out-of-bounds access — safe under Spark 4's default
    ANSI mode (``element_at`` past the end would throw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT and abort the job on any real corpus
    containing short docs)."""
    ws = words(text_col)
    n = F.size(ws)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - (width - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(ws, i, width), " "),
    )


N_BANDS = 2


def _shingle_spans(text: str, width: int):
    """(enc, [(lo, hi), ...]): the UTF-8 bytes of the space-joined words and
    the byte span of every width-word shingle inside them.

    ``" ".join(ws[i:i+width])`` IS the byte slice ``enc[lo_i:hi_i]`` of
    ``enc = " ".join(ws).encode()``: words contain no whitespace (split()
    boundaries) and 0x20 never occurs inside a UTF-8 multi-byte sequence
    (continuation bytes are >= 0x80), so every space byte is a word
    boundary.  Slicing a shared buffer replaces the per-shingle
    list-slice + str.join + str.encode of the previous kernels (measured
    ~2x on the whole fast kernel at width=3) while producing byte-identical
    md5 inputs."""
    import numpy as np

    ws = (text or "").split()
    n_words = len(ws)
    enc = " ".join(ws).encode("utf-8")
    if n_words <= width:
        # single (possibly short) shingle == the whole text
        return enc, [(0, len(enc))]
    u8 = np.frombuffer(enc, dtype=np.uint8)
    spaces = np.flatnonzero(u8 == 0x20)
    n_sh = n_words - (width - 1)
    los = np.empty(n_words, dtype=np.int64)
    los[0] = 0
    los[1:] = spaces + 1
    his = np.empty(n_words, dtype=np.int64)
    his[:-1] = spaces
    his[-1] = len(enc)
    return enc, list(zip(los[:n_sh].tolist(), his[width - 1 :].tolist()))


def _digests60(enc: bytes, spans) -> "np.ndarray":
    """First 60 bits of md5 of every byte span, as uint64 — one md5 call
    per shingle, digest->int vectorized through one numpy view instead of
    a per-shingle int.from_bytes (== int(hexdigest()[:15], 16))."""
    import hashlib

    import numpy as np

    md5 = hashlib.md5
    mv = memoryview(enc)
    joined = b"".join(md5(mv[lo:hi]).digest() for lo, hi in spans)
    return (
        np.frombuffer(joined, dtype=np.uint8)
        .reshape(len(spans), 16)[:, :8]
        .copy()
        .view(">u8")
        .ravel()
        .astype(np.uint64)
        >> np.uint64(4)
    )


def _minhash_kernel(
    text: str, k: int = N_MINHASHES, width: int = SHINGLE_WIDTH
) -> list[int]:
    """The k lanes h_j = min over shingles of md5(shingle || '#j') (60-bit
    int).  Bit-identical to the DuckDB oracle and to the previous
    SQL-expression form.

    Cost shape: ONE full md5 pass over each shingle's bytes, then k cheap
    state-copy + 2-3-byte salt updates (``md5(s).copy().update(salt)`` ==
    ``md5(s + salt)``) — vs the naive k full passes per shingle.  This is
    what keeps production-sized k (64+) affordable: the shingle bytes
    dominate, and they are hashed once regardless of k.  Shingle bytes are
    sliced from one shared buffer (see _shingle_spans).
    """
    import hashlib

    md5 = hashlib.md5
    enc, spans = _shingle_spans(text, width)
    mv = memoryview(enc)
    salts = [f"#{j}".encode() for j in range(k)]
    mins = [1 << 62] * k
    from_bytes = int.from_bytes
    for lo, hi in spans:
        base = md5(mv[lo:hi])
        for j, salt in enumerate(salts):
            lane = base.copy()
            lane.update(salt)
            # == int(hexdigest()[:15], 16): the first 60 bits, without the
            # hex-string round-trip (measured ~1.6x on the whole kernel)
            v = from_bytes(lane.digest()[:8], "big") >> 4
            if v < mins[j]:
                mins[j] = v
    return mins


# ---- fast production MinHash: one md5 per shingle TOTAL, k lanes by
# multiply-shift hashing (numpy-vectorized).  The md5-salt kernel above is
# oracle-locked at k=8; its cost is k md5 FINALIZATIONS per shingle (the
# state-copy trick can't remove the per-lane padding block), measured
# ~12 ms/doc at k=64.  This variant derives all k lanes from a single
# 60-bit md5 base per shingle with engine-portable integer math:
#
#   salt_j = ((j * MULT + ADD) mod 2^64) mod 2^60
#   lane_j = ((base XOR salt_j) * MULT mod 2^64) >> 4        (60-bit)
#
# numpy uint64 wraps mod 2^64 natively; the DuckDB oracle replicates the
# wrap with HUGEINT % 2^64 — bit-identical by construction.

_FAST_MULT = 11400714819323198485  # 0x9E3779B97F4A7C15, odd (multiply-shift)
_FAST_ADD = 15112296128964570371   # 0xD1B54A32D192ED03
_U64 = 1 << 64
_U60 = 1 << 60


def fast_minhash_salts(k: int) -> list[int]:
    return [((j * _FAST_MULT + _FAST_ADD) % _U64) % _U60 for j in range(k)]


def _minhash_fast_kernel(text: str, width: int, salts) -> "np.ndarray":
    """The len(salts) multiply-shift lanes of one text as an int64 ndarray.
    Lanes are 60-bit, so the int64 cast is exact and the array<long>
    column is byte-identical to the uint64 values."""
    import numpy as np

    enc, spans = _shingle_spans(text, width)
    bases = _digests60(enc, spans)
    lanes = (bases[:, None] ^ salts[None, :]) * np.uint64(_FAST_MULT) >> np.uint64(4)
    return lanes.min(axis=0).astype(np.int64)


# adaptive pre-spread for the signature kernels (see operators/partitioning.py
# for the measurement and the wide-input pass-through guarantee)
from .partitioning import spread_for_kernel as _spread_for_kernel


def _band_keys(sig: Column, k: int, n_bands: int) -> dict[str, Column]:
    """band{b} = md5 of band b's k/n_bands lanes as comma-joined decimals.
    THE one definition of the LSH band-key format (the DuckDB oracles
    recompute it independently).  A JVM expression, so the md5 never runs
    in the Python worker."""
    rows = k // n_bands
    return {
        f"band{b}": F.md5(
            F.array_join(
                F.slice(sig, b * rows + 1, rows).cast("array<string>"), ","
            )
        )
        for b in range(n_bands)
    }


def _signature(
    df: DataFrame, text_col: str, kernel, k: int, n_bands: int
) -> DataFrame:
    """Append ``sig`` (array<long>, the k lanes ``kernel`` returns for each
    text) and its band0..band{n_bands-1} LSH keys: the one path both
    MinHash operators build signatures through.

    Arrow-batched pandas UDF rather than a SQL expression: higher-order
    lambdas over md5 are interpreted row-at-a-time JVM-side (measured
    ~18 ms/doc; the md5-salt kernel is ~20x faster) — same reasoning as
    simhash()."""
    if k % n_bands != 0:
        raise ValueError(f"k={k} must be divisible by n_bands={n_bands}")

    @pandas_udf("array<long>")
    def sig_udf(text: pd.Series) -> pd.Series:
        return pd.Series([kernel(t) for t in text], dtype=object)

    out = _spread_for_kernel(df).withColumn("sig", sig_udf(F.col(text_col)))
    return out.withColumns(_band_keys(F.col("sig"), k, n_bands))


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    k: int = N_MINHASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Append h0..h{k-1} minhash columns + band0..band{n_bands-1} LSH keys
    (k/n_bands-row bands).

    (k, n_bands) tune the similarity threshold the LSH step targets
    (~(1/n_bands)^(n_bands/k)); the k=8/2-band default matches the oracle,
    production near-dup sweeps run k=64/8-16 bands via ExtractConfig.
    """
    kernel = partial(_minhash_kernel, k=k, width=SHINGLE_WIDTH)
    out = _signature(df, text_col, kernel, k, n_bands)
    return out.select(
        *df.columns,
        *[F.col("sig")[j].alias(f"h{j}") for j in range(k)],
        *[f"band{b}" for b in range(n_bands)],
    )


def minhash_signature_fast(
    df: DataFrame,
    text_col: str = "text",
    k: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """Production-sized MinHash: ``sig`` array<long> of k lanes + band keys.

    ~50x cheaper per lane than the md5-salt kernel (one md5 per shingle
    total; lanes are vectorized numpy integer ops), so k=64+ is affordable
    at 100 TB.  Values differ from minhash_signature by design — each
    variant has its own independent DuckDB oracle."""
    import numpy as np

    salts = np.array(fast_minhash_salts(k), dtype=np.uint64)
    kernel = partial(_minhash_fast_kernel, width=SHINGLE_WIDTH, salts=salts)
    return _signature(df, text_col, kernel, k, n_bands)


def band_cols(df: DataFrame) -> list[str]:
    """The LSH band-key columns of a signature table (band0, band1, ...).
    THE single definition of the column contract — melt_bands below and
    everything built on it must agree on it."""
    return [c for c in df.columns if re.fullmatch(r"band\d+", c)]


def melt_bands(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band0..bandN) -> (id, bi, bk): one row per band, ``bi`` the
    band index and ``bk`` its key.  (bi, bk) equality is exactly per-band
    key equality, so one join on it replaces one join per band."""
    bands = band_cols(signatures)
    if not bands:
        raise ValueError("signature table has no bandN columns")
    return signatures.select(
        F.col(id_col), F.posexplode(F.array(*bands)).alias("bi", "bk")
    )


def key_pairs(keys: DataFrame, id_col: str) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of ids sharing a bucket.
    ``keys``: the id column plus the bucket-key columns (melt_bands'
    ``(id, bi, bk)``, or ``(doc_id, band_key)``).  ONE equi self-join of
    one repartition on the bucket columns: both sides are the same
    exchange, which Spark reuses, so the key kernel runs ONCE with no
    cache (tests/test_plan_hygiene.py).  A bucket of N ids costs N²/2
    pairs; for components, bucket_edges costs N."""
    bucket = [c for c in keys.columns if c != id_col]
    keys = keys.repartition(*bucket)
    left = keys.select(F.col(id_col).alias("doc_a"), *bucket)
    right = keys.select(F.col(id_col).alias("doc_b"), *bucket)
    return (
        left.join(right, bucket)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, sharing at least one LSH
    band: one band exchange however many bands there are."""
    return key_pairs(melt_bands(signatures, id_col), id_col)


def bucket_edges(keys: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A star per bucket: distinct edges (doc_a = the bucket's least id,
    doc_b = each other member); ``keys`` as in key_pairs.  A bucket is a
    clique of candidate pairs and the star spans the same members, so the
    components are the same (given every keyed id is in dup_components'
    ids) with N edges, not N²/2: a hot key costs its size, not its square."""
    bucket = [c for c in keys.columns if c != id_col]
    hub = F.min(id_col).over(Window.partitionBy(*bucket))
    return (
        keys.select(hub.alias("doc_a"), F.col(id_col).alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _simhash_kernel(text: str, bits: int = SIMHASH_BITS, width: int = SHINGLE_WIDTH):
    """Pure-Python/numpy simhash: md5-derived 60-bit shingle hashes, per-bit
    strict majority (ties -> 0).  Bit-identical to the DuckDB oracle
    (``int(hexdigest()[:15], 16)`` == the _digests60 byte form)."""
    import numpy as np

    enc, spans = _shingle_spans(text, width)
    hashes = _digests60(enc, spans)
    bit_counts = (
        (hashes[:, None] >> np.arange(bits, dtype=np.uint64)) & 1
    ).sum(axis=0)
    majority = bit_counts * 2 > len(hashes)
    return int((majority.astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum())


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Append a ``simhash`` bigint: bit b set iff the majority of shingle
    hashes have bit b set (strict majority, ties -> 0).

    Vectorized pandas UDF, deliberately NOT a SQL expression: higher-order
    function lambdas are interpreted (not codegen'd), and the naive
    expression form re-evaluated the md5 shingling per bit — measured 109 s
    for 500 docs vs ~0.1 s for this Arrow-batched numpy kernel.  The DuckDB
    oracle recomputes the identical value from SQL, so the cross-check stays
    independent of this implementation.
    Marked nondeterministic to pin it: a filter inferred from a join on
    ``simhash`` would otherwise be pushed below the spread and re-run it.
    """
    @pandas_udf("long")
    def simhash_udf(text: pd.Series) -> pd.Series:
        return text.map(lambda t: _simhash_kernel(t, bits))

    simhash_udf = simhash_udf.asNondeterministic()
    return _spread_for_kernel(df).withColumn("simhash", simhash_udf(F.col(text_col)))


SIMHASH_BLOCKS = 10  # > max_hamming, so the pigeonhole guarantee holds


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    n_blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """Near-dup pairs with GUARANTEED recall (pigeonhole banding).

    The 60-bit signature splits into ``n_blocks`` disjoint bit-blocks; a
    pair with hamming <= max_hamming has differing bits in at most
    ``max_hamming`` blocks, so with ``n_blocks > max_hamming`` it MUST agree
    on at least one whole block — every qualifying pair is found.  (The
    previous single top-20-bit block silently dropped any pair whose
    differing bits touched the top 20.)

    Plan: posexplode each signature into (block_id, block_value) rows, ONE
    equi self-join on that composite key (hash shuffle, never cartesian),
    exact hamming filter, distinct.  Output (doc_a, doc_b, hamming)."""
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming} "
            "for the pigeonhole recall guarantee"
        )
    width = SIMHASH_BITS // n_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.shiftright(F.col("simhash"), width * j).bitwiseAND(F.lit(mask))
            for j in range(n_blocks)
        ]
    )
    # one shared, reused exchange for both join sides (as in key_pairs)
    exploded = sigs.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.posexplode(blocks).alias("bid", "bval"),
    ).repartition("bid", "bval")
    left = exploded.select(
        F.col("id").alias("doc_a"), F.col("simhash").alias("sim_a"), "bid", "bval"
    )
    right = exploded.select(
        F.col("id").alias("doc_b"), F.col("simhash").alias("sim_b"), "bid", "bval"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["bid", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over distinct word-shingle sets with LOSSLESS blocking.

    Candidate pruning joins on ``block_cols`` PLUS a log2 bucket of the
    distinct-shingle count, probed +-ceil(log2(1/threshold)) buckets on one
    side.  Recall is guaranteed, not heuristic: jaccard(A,B) >= t implies
    |B|/|A| <= 1/t, so the floored log2 buckets of |A| and |B| differ by at
    most ceil(log2(1/t)) — every qualifying pair lands in some probed
    bucket.  (The previous default blocked on exact ``n_chars`` equality, so
    a one-word edit silently broke the block and the pair was never
    scored.)  Spurious candidates from bucket probing are removed by the
    exact jaccard filter; the set ops are JVM array intrinsics
    (array_intersect/union are distinct-semantics, matching Python set
    math).  Output (doc_a, doc_b, jaccard)."""
    import math

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    radius = max(0, math.ceil(math.log2(1.0 / threshold)))
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(word_shingles(F.col(text_col))).alias("sh"),
    )
    bucket = F.floor(F.log2(F.size("sh").cast("double"))).cast("int")
    left = base.select(
        F.col(id_col).alias("doc_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(c) for c in block_cols],
        bucket.alias("bk"),
    )
    # probe side: each doc also lands in its neighbour buckets, so a pair in
    # adjacent buckets meets exactly once (at the left doc's own bucket)
    right = base.select(
        F.col(id_col).alias("doc_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(c) for c in block_cols],
        F.explode(
            F.array(*[bucket + F.lit(d) for d in range(-radius, radius + 1)])
        ).alias("bk"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        left.join(right, [*block_cols, "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_duplicate_components(
    docs: DataFrame,
    config=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Config-wired near-dup sweep: fast MinHash at
    (config.minhash_k, config.minhash_bands) -> a star per band bucket ->
    connected components.  This is where ExtractConfig's dedup knobs take
    effect; the standalone operators keep explicit parameters."""
    from ..config import ExtractConfig

    cfg = config or ExtractConfig()
    sigs = minhash_signature_fast(
        docs, text_col=text_col, k=cfg.minhash_k, n_bands=cfg.minhash_bands
    )
    edges = bucket_edges(melt_bands(sigs, id_col), id_col)
    return dup_components(docs.select(id_col), edges, id_col=id_col)


def propagation_round(nodes: DataFrame) -> DataFrame:
    """ONE min-label propagation round as an un-executed plan, Pregel form.

    ``nodes``: (id, comp, nbrs, chg).  The vertices whose label changed
    last round (``chg``) send it to each neighbour; the messages and every
    vertex's state row meet in one groupBy(id), which keeps the least
    label and marks the labels it improved.  Output: the same columns.

    Plan shape (audited by tests/test_plan_hygiene.py — the whole-loop
    plan cannot be built without running the jobs that drive convergence):
    one exchange, hashpartitioning(id), and no join or broadcast."""
    state = nodes.select("id", "comp", "nbrs")
    msgs = nodes.filter("chg").select(
        F.explode("nbrs").alias("id"), F.col("comp").alias("m")
    )
    grouped = (
        state.unionByName(msgs, allowMissingColumns=True)
        .groupBy("id")
        .agg(
            F.min("comp").alias("comp"),
            F.first("nbrs", ignorenulls=True).alias("nbrs"),
            F.min("m").alias("m"),
        )
    )
    return grouped.select(
        "id",
        F.least("comp", "m").alias("comp"),
        "nbrs",
        (F.col("m").isNotNull() & (F.col("m") < F.col("comp"))).alias("chg"),
    )


def dup_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over the edges ``pairs`` (doc_a, doc_b) — a
    star per LSH band bucket (bucket_edges), or verified pairs: every doc
    gets the MIN doc_id of its component as the canonical representative
    — the step that turns near-dup hits into keep/drop decisions.

    Min-label propagation to fixpoint (the pure-DataFrame equivalent of
    GraphX/GraphFrames connectedComponents), Pregel form: the build groups
    the edges, taken both ways, by vertex into (id, comp, nbrs, chg) — that
    is round 1 — and each further round is one propagation_round, two
    Spark jobs.  No round joins against a checkpoint: with AQE on, a
    ``localCheckpoint`` scan reports UnknownPartitioning, so such a join
    would shuffle or broadcast its whole input again every round.  Each
    round's eager ``localCheckpoint`` cuts the lineage and, through an
    ``Observation``, counts the changed labels in the same job; the loop
    exits on a round that changed none (rounds = component diameter) and
    raises after MAX_ROUNDS.  The fixpoint is a lattice minimum —
    independent of iteration order and engine, which is what lets a
    DuckDB RECURSIVE CTE recompute it as the oracle.

    Only docs in ``ids`` take part: the build drops an edge with an
    endpoint outside ``ids`` (two left-semi joins), so such an endpoint
    neither receives nor passes a label.  Docs in no edge never enter the
    loop; they are their own component in the (lazy) output, ``ids``
    left-joined to the labels.

    Output: (doc_id, component)."""
    v = ids.select(F.col(id_col).alias("id"))
    kept = pairs.join(v, pairs["doc_a"] == v["id"], "left_semi").join(
        v, pairs["doc_b"] == v["id"], "left_semi"
    )
    nodes = (
        kept.select(F.col("doc_a").alias("id"), F.col("doc_b").alias("nb"))
        .unionByName(
            kept.select(F.col("doc_b").alias("id"), F.col("doc_a").alias("nb"))
        )
        .groupBy("id")
        .agg(F.collect_list("nb").alias("nbrs"), F.min("nb").alias("m"))
        .select(
            "id",
            F.least("id", "m").alias("comp"),
            "nbrs",
            (F.col("m") < F.col("id")).alias("chg"),
        )
    )
    for rounds in range(1, MAX_ROUNDS + 1):
        changed = Observation()
        nodes = nodes.observe(
            changed, F.count_if("chg").alias("n")
        ).localCheckpoint(eager=True)
        # no changed label IS the convergence witness: labels only ever
        # decrease, and a label can next improve only via a message from a
        # label that improved this round
        if changed.get["n"] == 0:
            if stats_out is not None:
                stats_out["rounds"] = rounds
            break
        nodes = propagation_round(nodes)
    else:
        # returning non-converged labels would SILENTLY leave duplicates
        # labelled as distinct components — fail loudly instead
        raise RuntimeError(
            f"dup_components did not converge within MAX_ROUNDS={MAX_ROUNDS} "
            "rounds (labels still changing); the pair graph has a longer "
            "chain than expected"
        )
    labels = nodes.select(F.col("id").alias(id_col), "comp")
    return ids.select(id_col).join(labels, id_col, "left").select(
        id_col, F.coalesce("comp", id_col).alias("component")
    )
