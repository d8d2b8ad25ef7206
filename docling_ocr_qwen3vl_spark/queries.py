"""Named queries over the driver testdata — the correctness surface.

Each function takes (spark, sf_dir) and returns a DataFrame; each has a
DuckDB oracle twin in ``oracles.py`` computing the SAME result independently
(slot/direct derivation, not a re-run of the engine), so the driver's
value-hash compare checks engine semantics end-to-end.

Column names are aliased identically on both sides (driver sorts columns by
name before hashing).  Floats are rounded on both sides before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.json_fns import (
    extract_json_block,
    fix_corrupted_keys,
    strip_trailing_commas,
)
from .functions.text_fns import (
    collapse_ws,
    split_paragraphs_col,
    strip_tags,
    strip_think,
    words,
)
from .plans.pipeline import extract_spans
from .sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Widen narrow scans BEFORE the per-doc expression work: the sf
    # documents table is a single parquet split, so without this every
    # doc-rooted query's projection/aggregation (HOF folds, regex
    # cascades, paragraph splits) ran on ONE core until its first
    # exchange — measured round 6 at sf0.1: paragraph_cells' whole
    # pre-window stage (1.0 s) was a single task.  Wide scans pass
    # through untouched (operators/partitioning.py), so at 100 TB this
    # is a no-op.
    from .operators.partitioning import spread_for_kernel

    return spread_for_kernel(load_table(spark, sf_dir, "documents"))


def _docs_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", "text", "n_chars", words(F.col("text")).alias("ws")
    )


def _w(i: int, j: int):
    return F.array_join(F.slice(F.col("ws"), i, j - i + 1), " ")


# ------------------------------------------------------------------ flagship
def q_extract_interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: synth interleaved pages -> decode -> ordered spans."""
    return extract_spans(spark, sf_dir)


def q_extract_from_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint path: the INPUT is a (doc_id, spans[]) interleaved table
    (raw_text + pre-resolved media + raw_html spans); media identities must
    pass through unchanged, html-internal media get minted refs."""
    from .plans.pipeline import extract_spans_from_interleaved
    from .sources.synthetic import _html_payload

    def span(kind, text, media_ref, offset):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            F.lit(offset).cast("int").alias("offset"),
        )

    plain = F.concat(_w(1, 4), F.lit("\n\n"), _w(5, 8), F.lit("\n\n"), _w(9, 10))
    ext_ref = F.concat(F.lit("ext://"), F.col("doc_id").cast("string"), F.lit("/0"))
    interleaved = _docs_words(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            span("raw_text", plain, F.lit(""), 0),
            span("media", F.lit(""), ext_ref, 1),
            span("raw_html", _html_payload(F.col("ws"), F.col("doc_id")), F.lit(""), 2),
        ).alias("spans"),
    )
    return extract_spans_from_interleaved(spark, interleaved)


# ------------------------------------------------------- text ops (T-series)
def q_text_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 + M4 + M10 in one row per doc: tag-strip + whitespace collapse
    (clean_text), think-token strip (out_text), and HF-cache repo-id
    normalization (repo_id).  Each column is an independent operator;
    bundling keeps the driver's 50-query window wide enough for the whole
    surface."""
    strip_payload = F.concat(
        F.lit('<div data-bbox="0 0 10 10">'),
        F.col("text"),
        F.lit("</div><style>p{margin:0}</style>"),
    )
    think_payload = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("chain of thought...</think>"), F.col("text")),
    ).otherwise(F.col("text"))
    # docs where doc_id % 3 == 0 get a multi-'--' owner — the case where
    # greedy-owner semantics (a--b--c -> a--b/c) differ from replace-all
    cache_path = F.concat(
        F.lit("models--owner"), (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("--extra")).otherwise(F.lit("")),
        F.lit("--repo"), (F.col("doc_id") % 5).cast("string"),
    )
    # greedy owner group exactly like config.normalize_model_repo_id (M10):
    # `(.+)--` grabs everything up to the LAST '--'; repo = final segment
    repo_id = F.concat(
        F.regexp_extract(cache_path, r"^models--(.+)--", 1),
        F.lit("/"),
        F.element_at(F.split(cache_path, "--"), -1),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        strip_tags(strip_payload).alias("clean_text"),
        strip_think(think_payload).alias("out_text"),
        repo_id.alias("repo_id"),
    )


def q_paragraph_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: blank-line split with the global single-newline fallback.

    Docs where doc_id %% 4 == 0 get a payload with NO blank lines (3
    newline-separated parts -> exercises the fallback); others get one blank
    line plus an embedded single newline (-> 2 paragraphs, fallback must NOT
    fire).
    """
    fallback_payload = F.concat_ws("\n", _w(1, 2), _w(3, 4), _w(5, 6))
    normal_payload = F.concat(
        _w(1, 4), F.lit("\n\n"), _w(5, 8), F.lit("\n"), _w(9, 10)
    )
    payload = F.when(F.col("doc_id") % 4 == 0, fallback_payload).otherwise(
        normal_payload
    )
    # ONE exchange, placed FIRST: hash-partition by doc_id straight off the
    # scan, so (a) the whole interpreted word/split expression tree runs at
    # cluster width instead of at the (often single-split) scan's width,
    # and (b) the paragraph_cells window downstream reuses this exact
    # partitioning — no second exchange.  Round-6 measurement at sf0.1:
    # paragraph_cells 1.24 s -> 0.37 s.  (A round-robin spread followed by
    # a keyed repartition does NOT work here: CollapseRepartition removes
    # the inner one and the expression work lands back on the narrow side.)
    base = load_table(spark, sf_dir, "documents").repartition("doc_id").select(
        "doc_id", words(F.col("text")).alias("ws")
    )
    return base.select(
        "doc_id", F.posexplode(split_paragraphs_col(payload)).alias("seq", "paragraph")
    ).select("doc_id", F.col("seq").cast("int").alias("seq"), "paragraph")


def q_json_repair_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 + T7/T8 + T13 in one row per doc: corrupted-key regex repair
    (fixed_key), trailing-comma strip (fixed_commas), and greedy brace-block
    extraction (block) — three independent repair-cascade expressions."""
    key_corrupt = F.concat(
        F.lit('{"y1:'),
        (F.col("n_chars") % 997).cast("string"),
        F.lit(',"x2":5}'),
    )
    comma_corrupt = F.concat(
        F.lit('[{"a":'),
        (F.col("n_chars") % 31).cast("string"),
        F.lit(', },]'),
    )
    block_payload = F.concat(
        F.lit("The answer is {\"v\":"),
        (F.col("n_chars") % 113).cast("string"),
        F.lit("} hope that helps!"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        fix_corrupted_keys(key_corrupt).alias("fixed_key"),
        strip_trailing_commas(comma_corrupt).alias("fixed_commas"),
        extract_json_block(block_payload).alias("block"),
    )


# --------------------------------------------------- geometry ops (G-series)
def q_paragraph_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: distribute paragraphs evenly down an OCR region.

    Region: l = 10*(doc_id%3), t = 20, r = l+600, b = t+300.  Paragraphs are
    the q_paragraph_split output, so N is 2 or 3 per document.
    """
    paras = q_paragraph_split(spark, sf_dir)
    n = Window.partitionBy("doc_id")
    l = (F.col("doc_id") % 3).cast("double") * 10.0
    slot = F.lit(300.0) / F.count("*").over(n).cast("double")
    return paras.select(
        "doc_id",
        F.col("seq").alias("idx"),
        F.col("paragraph").alias("cell_text"),
        F.round(l, 6).alias("l"),
        F.round(F.lit(20.0) + F.col("seq") * slot, 6).alias("t"),
        F.round(l + 600.0, 6).alias("r"),
        F.round(F.lit(20.0) + (F.col("seq") + 1) * slot, 6).alias("b"),
    )


def q_bbox_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: 0-1000 data-bbox -> page coordinates inside an OCR region.

    bbox is a deterministic function of doc_id; region = full synthetic page
    of width 1000+240*(doc_id%3), height 1400.
    """
    d = _docs(spark, sf_dir)
    x1 = (F.col("doc_id") * 37 % 500).cast("double")
    y1 = (F.col("doc_id") * 53 % 500).cast("double")
    x2 = x1 + 100.0 + (F.col("doc_id") % 7).cast("double") * 20.0
    y2 = y1 + 80.0
    width = F.lit(1000.0) + (F.col("doc_id") % 3).cast("double") * 240.0
    height = F.lit(1400.0)
    return d.select(
        "doc_id",
        F.round(x1 / 1000.0 * width, 6).alias("l"),
        F.round(y1 / 1000.0 * height, 6).alias("t"),
        F.round(x2 / 1000.0 * width, 6).alias("r"),
        F.round(y2 / 1000.0 * height, 6).alias("b"),
    )


def q_otsl_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 partial: row-major OTSL skeleton from (rows, cols)."""
    rows = (F.col("doc_id") % 3 + 1).cast("int")
    cols = (F.col("doc_id") % 2 + 2).cast("int")
    row_str = F.concat(F.lit("cell"), F.expr("repeat(' l cell', doc_id % 2 + 1)"))
    otsl = F.concat(
        row_str,
        F.when(rows > 1, F.expr(
            "repeat(concat(' nl ', concat('cell', repeat(' l cell', doc_id % 2 + 1))), doc_id % 3)"
        )).otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", rows.alias("n_rows"), cols.alias("n_cols"), otsl.alias("otsl")
    )


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: deterministic y-band/x reading-order sort.

    4 synthetic elements per document with pseudo-random bboxes; rank =
    row_number over (band = floor(t/24), l, slot) — the stable total order
    SURVEY.md §7(c) requires.
    """
    d = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("slot_no")
    )
    t = ((F.col("doc_id") + F.col("slot_no") * 37) % 50).cast("double") * 17.0
    l = ((F.col("doc_id") + F.col("slot_no") * 61) % 40).cast("double") * 20.0
    band = F.floor(t / 24.0)
    w = Window.partitionBy("doc_id").orderBy(band, l, F.col("slot_no"))
    return d.select(
        "doc_id",
        F.col("slot_no").cast("int").alias("slot_no"),
        F.round(t, 6).alias("t"),
        F.round(l, 6).alias("l"),
        (F.row_number().over(w) - 1).cast("int").alias("rank"),
    )


def q_confidence_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: per-page mean cluster confidence (layout_score analog)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("cluster_id")
    )
    conf = ((F.col("doc_id") + F.col("cluster_id") * 3) % 10).cast("double") / 10.0
    return (
        d.select("doc_id", conf.alias("confidence"))
        .groupBy("doc_id")
        .agg(F.round(F.avg("confidence"), 6).alias("layout_score"))
    )


# --------------------------------------------- training-data ops (SURVEY+ )
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both document fingerprints in one row: fp = md5 of the casefolded
    whitespace-normalized text (order-insensitive within normalization);
    rolling_fp = polynomial rolling hash over the word stream mod 2^31-1
    (order-SENSITIVE — detects reorderings the md5 form cannot)."""
    from .operators.dedup import portable_hash64

    M = 2147483647
    P = 1000003
    rolling = F.aggregate(
        F.col("ws"),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * P + F.pmod(portable_hash64(w), F.lit(M))) % M,
    )
    return _docs_words(spark, sf_dir).select(
        "doc_id",
        F.md5(F.lower(collapse_ws(F.trim(F.col("text"))))).alias("fp"),
        rolling.alias("rolling_fp"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on normalized text, keep min doc_id.

    Reads the raw table (no _docs spread): the per-row work is one md5
    and the partial aggregation shrinks rows immediately, so a spread
    exchange costs more than the single-task map at bench scale (round-6
    measurement: 0.15 s unspread vs 0.21 s spread at sf0.1)."""
    fp = F.md5(F.lower(collapse_ws(F.trim(F.col("text")))))
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").cast("long").alias("n_dups"))
    )


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text statistics in one row: whitespace token count, BPE-ish
    subword token count (letter runs / digits / single punctuation via one
    regex extract-all), mean token length, stopword ratio."""
    d = _docs_words(spark, sf_dir)
    n = F.size("ws").cast("double")
    total_len = F.aggregate(
        F.col("ws"), F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("double")
    stop_hits = F.size(
        F.filter(F.col("ws"), lambda w: w.isin(*_STOPWORDS))
    ).cast("double")
    bpe = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]', 0)")
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.size(bpe).cast("int").alias("n_bpe_tokens"),
        F.round(total_len / n, 6).alias("mean_token_len"),
        F.round(stop_hits / n, 6).alias("stopword_ratio"),
    )


_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic tie-break en>es>de)."""
    d = _docs_words(spark, sf_dir)

    def marker_hits(markers):
        # NB: the inner lambda must take exactly one parameter — PySpark
        # treats two-parameter lambdas as (element, index)
        return F.size(F.filter(F.col("ws"), lambda w: w.isin(*markers)))

    hits = {lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()}
    predicted = (
        F.when((hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]), "en")
        .when(hits["es"] >= hits["de"], "es")
        .otherwise("de")
    )
    return d.select(
        "doc_id",
        hits["en"].cast("int").alias("en_hits"),
        hits["es"].cast("int").alias("es_hits"),
        hits["de"].cast("int").alias("de_hits"),
        predicted.alias("predicted_lang"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping 4-word windows at stride 3
    (every word covered; trailing short chunk kept)."""
    from .operators.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing plan (seq_len=64) via the scalable
    two-level prefix sum — no single-reducer global window."""
    from .operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64, group_width=100)


def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data scrubbing: mask emails, URLs, and long digit runs with
    typed placeholders (regexp cascade, order fixed: URLs first so their
    query strings don't half-match the other patterns)."""
    payload = F.concat(
        F.col("text"),
        F.lit(" contact: user"), (F.col("doc_id") % 50).cast("string"),
        F.lit("@example.com via https://ex.org/p?id="),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(" or call 5551234"), F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )
    masked = F.regexp_replace(payload, r"https?://[^\s]+", "<URL>")
    masked = F.regexp_replace(masked, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>")
    masked = F.regexp_replace(masked, r"\d{7,}", "<NUM>")
    return _docs(spark, sf_dir).select("doc_id", masked.alias("masked"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates applied
    via an md5 hash gate — reproducible across runs/engines (no RNG state),
    the property a resumable 100 TB sampling job needs."""
    rates = F.when(F.col("lang") == "en", 50).when(F.col("lang") == "es", 25).otherwise(10)
    gate = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        F.lit(100),
    )
    return (
        _docs(spark, sf_dir)
        .filter(gate < rates)
        .select("doc_id", "lang")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    3-gram with the held-out eval set (docs with doc_id%17==0 stand in for
    the benchmark).  Shingle both sides, hash the shingles (so only 8-byte
    keys shuffle, never text), aggregate matches per doc — the standard
    n-gram overlap check before a training run."""
    from .operators.dedup import portable_hash64, word_shingles

    d = _docs(spark, sf_dir)
    sh = F.explode(F.array_distinct(word_shingles(F.col("text")))).alias("sh")
    eval_sh = (
        d.filter(F.col("doc_id") % 17 == 0)
        .select(sh)
        .select(portable_hash64(F.col("sh")).alias("h"))
        .distinct()
    )
    train_sh = (
        d.filter(F.col("doc_id") % 17 != 0)
        .select("doc_id", sh)
        .select("doc_id", portable_hash64(F.col("sh")).alias("h"))
        .distinct()
    )
    return (
        train_sh.join(eval_sh, "h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated_ngrams"))
    )


def _replay_batch_key():
    """Micro-batch assignment for the streaming-dedup replay, shared with
    the oracle's fb CTE (oracles.py STREAMING_DEDUP_SURVIVORS_SQL).

    The +1 for mutants is LOAD-BEARING: the mutant offset (1,000,000) is
    ≡ 0 mod 4, so a plain ``doc_id % 4`` would put every planted pair in
    the SAME batch — the gate would still pass (both sides agree) while
    silently no longer testing the cross-batch signature-store lookup.
    tests/test_streaming_dedup.py pins that mutants and originals never
    share a batch."""
    return (
        F.col("doc_id")
        + F.when(F.col("doc_id") >= 1000000, F.lit(1)).otherwise(F.lit(0))
    ) % 4


def _replay_stream(
    spark: SparkSession,
    frame: DataFrame,
    batch_key,
    start_fn,
    id_col: str,
    n_batches: int = 4,
) -> DataFrame:
    """Shared replay scaffold for the streaming dedup arms: write each
    ``batch_key == b`` slice of ``frame`` as one parquet drop, run the
    availableNow stream (``start_fn(input_dir, out, store, ckpt)``) to
    completion BEFORE the next drop (batch order pinned by the stream
    checkpoint itself, no mtime assumptions), and return survivor ids as
    (doc_id), eagerly checkpointed before the temp dirs vanish."""
    import glob
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="stream_replay_")
    dirs = {k: os.path.join(root, k) for k in ("in", "out", "store", "ckpt")}
    os.makedirs(dirs["in"])
    try:
        for b in range(n_batches):
            scratch = os.path.join(root, f"scratch{b}")
            frame.filter(batch_key == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(scratch)
            parts = glob.glob(os.path.join(scratch, "part-*.parquet"))
            if not parts:
                # an empty slice writes only _SUCCESS; a bare [0] would
                # IndexError with no hint which batch was empty
                raise RuntimeError(
                    f"streaming replay: batch {b} of {n_batches} has no "
                    "rows — the batch_key does not cover every batch"
                )
            shutil.move(parts[0], os.path.join(dirs["in"], f"b{b}.parquet"))
            q = start_fn(dirs["in"], dirs["out"], dirs["store"], dirs["ckpt"])
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("streaming dedup replay did not finish")
        return (
            spark.read.parquet(dirs["out"])
            .select(F.col(id_col).alias("doc_id"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the mutant corpus through the INCREMENTAL streaming dedup
    (streaming/incremental_dedup.py) as four deterministic micro-batches
    and return the survivor ids.

    Batch assignment is ``(doc_id + 1 if mutant else doc_id) % 4`` — the
    mutant offset (1,000,000) is itself ≡ 0 mod 4, so the explicit +1
    puts every mutant one batch AFTER its original, except doc_id % 4 == 3
    whose mutant wraps to batch 0 and streams BEFORE its original (there
    the mutant survives and the store lookup drops the original — both
    directions of cross-batch resolution are exercised); each file is
    dropped and the availableNow stream run to completion BEFORE the next
    drop, so batch order is pinned by the stream checkpoint itself (no
    file-mtime ordering assumptions).  Either way every planted pair
    spans micro-batches and one side is dropped by the signature-store
    lookup, not the in-batch pass.
    ``compact_every=2`` puts STORE COMPACTION on the gated path too:
    batch 2's processing folds partitions {0, 1} into a consolidated
    segment, so batch 3's store lookup reads compacted state — the oracle
    is layout-independent (contamination = earlier-batch keys), so a
    compaction bug that loses or duplicates semantics fails the hash.
    Runs at the batch sweep's (k=64, bands=8) fast-kernel config."""
    from .config import ExtractConfig
    from .streaming.incremental_dedup import start_incremental_dedup_stream

    docs = _docs_with_mutants(spark, sf_dir).select(
        "doc_id",
        "text",
        "lang",
        F.lit("replay").alias("source"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    cfg = ExtractConfig(minhash_k=64, minhash_bands=8)

    def start(in_dir, out_dir, store_dir, ckpt_dir):
        return start_incremental_dedup_stream(
            spark,
            input_dir=in_dir,
            survivors_dir=out_dir,
            store_dir=store_dir,
            checkpoint_dir=ckpt_dir,
            config=cfg,
            max_files_per_trigger=1,
            compact_every=2,
        )

    return _replay_stream(spark, docs, _replay_batch_key(), start, "doc_id")


def _streaming_embedding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay q_embedding_near_dup's planted corpus (originals + exact
    copies at vec_id + 100,000) through the EMBEDDING incremental
    streaming dedup (streaming/incremental_dedup.py embedding path) as
    four deterministic micro-batches and return survivor vec_ids.

    Batch assignment mirrors the text replay exactly — the copy offset
    (100,000) is ≡ 0 mod 4, so copies get +1 and land one batch after
    their original (wrapping to batch 0, BEFORE it, for vec_id % 4 == 3);
    every planted pair spans micro-batches.  In-batch candidates are
    cosine-verified; cross-batch store collisions contaminate whole
    components UNVERIFIED (keys only in the store) — the oracle computes
    those exact semantics declaratively, chance band collisions included,
    so the conservative contamination path itself is driver-checked.
    ``compact_every=2`` keeps store compaction on the gated path."""
    from .streaming.incremental_dedup import (
        start_incremental_embedding_dedup_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    both = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    batch_key = (
        F.col("vec_id")
        + F.when(F.col("vec_id") >= 100000, F.lit(1)).otherwise(F.lit(0))
    ) % 4

    def start(in_dir, out_dir, store_dir, ckpt_dir):
        return start_incremental_embedding_dedup_stream(
            spark,
            input_dir=in_dir,
            survivors_dir=out_dir,
            store_dir=store_dir,
            checkpoint_dir=ckpt_dir,
            max_files_per_trigger=1,
            compact_every=2,
        )

    return _replay_stream(spark, both, batch_key, start, "vec_id")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline, in THREE execution modes under a mode
    key: 'batch' = corpus -> MinHash-LSH band buckets -> connected
    components -> SURVIVORS (component representatives only), i.e. the
    cleaned corpus a training run reads; 'streaming' = the same corpus
    replayed through the incremental streaming dedup's availableNow
    micro-batches (in-batch components + signature-store contamination);
    'embedding_streaming' = the planted-copy embedding corpus replayed
    through the EMBEDDING incremental dedup (sign-bucket band keys,
    cosine-verified in-batch pairs, unverified cross-batch store
    contamination).  Each streaming oracle computes its semantics
    declaratively, so both exactly-once store subsystems are
    driver-checked end-to-end."""
    from .operators.dedup import bucket_edges, dup_components, melt_bands
    from .operators.dedup import minhash_signature

    docs = _docs_with_mutants(spark, sf_dir)
    comps = dup_components(
        docs.select("doc_id"), bucket_edges(melt_bands(minhash_signature(docs)))
    )
    batch = (
        comps.filter(F.col("doc_id") == F.col("component"))
        .select("doc_id")
        .withColumn("mode", F.lit("batch"))
    )
    streaming = _streaming_dedup_replay(spark, sf_dir).withColumn(
        "mode", F.lit("streaming")
    )
    emb_streaming = _streaming_embedding_replay(spark, sf_dir).withColumn(
        "mode", F.lit("embedding_streaming")
    )
    return batch.unionByName(streaming).unionByName(emb_streaming)


def q_quality_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality gate (Gopher-style document heuristics, Rae et
    al. 2021 §A1.1 — public): word-count bounds, mean-word-length bounds,
    symbol ratio, and an ellipsis-line ratio; emits per-rule booleans plus
    the final keep flag so downstream can audit WHY a doc was dropped."""
    d = _docs_words(spark, sf_dir)
    n = F.size("ws").cast("double")
    mean_len = F.aggregate(
        F.col("ws"), F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("double") / n
    n_hash = F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
    n_ellipsis = (
        F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n
    lines = F.split("text", r"\n")
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"\.\.\.$"))
    ).cast("double")
    ellipsis_line_ratio = ellipsis_lines / F.size(lines).cast("double")
    # Gopher duplicate-line fraction: repeated lines signal boilerplate
    dup_line_fraction = (
        F.size(lines) - F.size(F.array_distinct(lines))
    ).cast("double") / F.size(lines).cast("double")
    # Gopher alphabetic-word ratio: most words must contain a letter
    alpha_ratio = F.size(
        F.filter(F.col("ws"), lambda w: w.rlike("[a-zA-Z]"))
    ).cast("double") / n
    # Gopher top-2-gram repetition: the fraction of 2-gram occurrences
    # taken by the single most common 2-gram — high values flag templated/
    # boilerplate text exact-line dedup misses.  slice() clamps at the
    # array end (ANSI-safe for 1-word docs); the rule only applies from
    # the word-count floor up (tiny docs degenerate to fraction 1.0).
    # Mode count = longest equal run over the SORTED gram array: one
    # O(n log n) sort + one O(n) fold, not the O(distinct x n) nested
    # filter (ok_word_count admits 100k-word docs — a quadratic
    # interpreted scan would stall an executor for minutes on one row).
    grams = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n.cast("int") - 1, F.lit(1))),
            lambda i: F.array_join(F.slice(F.col("ws"), i, 2), " "),
        )
    )
    run_state = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    # denominator = gram count, known without touching the (expensive,
    # interpreted) grams expression a second time: size(grams) would
    # re-embed the whole sort+transform in the projection
    top_gram_fraction = run_state["best"].cast("double") / F.greatest(
        n.cast("int") - 1, F.lit(1)
    ).cast("double")
    ok_words = (n >= 5) & (n <= 100000)
    ok_mean = (mean_len >= 2.0) & (mean_len <= 12.0)
    ok_symbols = symbol_ratio <= 0.1
    ok_ellipsis = ellipsis_line_ratio <= 0.3
    ok_dup_lines = dup_line_fraction <= 0.3
    ok_alpha = alpha_ratio >= 0.8
    ok_top2 = (n < 5) | (top_gram_fraction <= 0.2)
    return d.select(
        "doc_id",
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        ok_dup_lines.alias("ok_dup_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_top2.alias("ok_top_2gram"),
        (
            ok_words & ok_mean & ok_symbols & ok_ellipsis & ok_dup_lines
            & ok_alpha & ok_top2
        ).alias("keep"),
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    > 30 minutes; session_id = running count of gap-breaks (two windows,
    one shuffle on user_id)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_timestamp truncates to whole seconds (== floor(epoch(ts)) in the
    # oracle); TIMESTAMP_NTZ has no direct long cast under ANSI
    sec = F.unix_timestamp(F.col("ts"))
    gap_break = (sec - F.lag(sec, 1).over(w) > 1800).cast("int")
    return ev.select(
        "user_id", "event_id", "ts",
        F.coalesce(gap_break, F.lit(0)).alias("brk"),
    ).select(
        "user_id", "event_id",
        F.sum("brk").over(w).cast("int").alias("session_id"),
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 neighbours of vec_id 0 (broadcast query)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    query = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(query))

    from .operators.similarity import cosine

    sim = cosine(F.col("v"), F.col("q"))
    ranked = joined.select("vec_id", sim.alias("sim"))
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "vec_id",
            F.round("sim", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ------------------------------------------------ extraction ops (batch 2)
def _synth_pages(spark, sf_dir, kind):
    from .sources.synthetic import synth_raw_pages

    return synth_raw_pages(spark, sf_dir).filter(F.col("payload_kind") == kind)


def q_html_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: strict reference-parity QwenVL-HTML parse (boilerplate stripped,
    empty <img/> dropped) over the synthetic html pages."""
    from .operators.html_elements import parse_html_elements

    pages = _synth_pages(spark, sf_dir, "qwenvl_html")
    return parse_html_elements(pages, keep_empty_media=False).select(
        "doc_id", "page_no", "seq", "tag", "element_type", "text",
        "x1", "y1", "x2", "y2",
    )


def q_element_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G3: parsed elements -> cells rescaled into the full-page OCR rect."""
    from .operators.element_cells import elements_to_cells
    from .operators.html_elements import parse_html_elements

    pages = _synth_pages(spark, sf_dir, "qwenvl_html")
    elements = parse_html_elements(pages, keep_empty_media=False)
    sized = elements.join(
        pages.select(
            "doc_id", F.col("page_no").cast("int").alias("page_no"),
            "page_width", "page_height",
        ),
        on=["doc_id", "page_no"],
    ).select(
        "doc_id", "page_no", F.lit(0).alias("rect_seq"), "seq", "text",
        "x1", "y1", "x2", "y2",
        F.lit(0.0).alias("rect_l"), F.lit(0.0).alias("rect_t"),
        F.col("page_width").alias("rect_r"), F.col("page_height").alias("rect_b"),
    )
    cells = elements_to_cells(sized)
    return cells.select(
        "doc_id", "page_no", "cell_index", "cell_text",
        F.round("l", 6).alias("l"), F.round("t", 6).alias("t"),
        F.round("r", 6).alias("r"), F.round("b", 6).alias("b"),
    )


def q_layout_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5/T6-T10: layout JSON (with repairable corruption) -> clusters in
    page coordinates."""
    from .operators.layout import parse_layout_clusters

    pages = _synth_pages(spark, sf_dir, "layout_json")
    clusters = parse_layout_clusters(pages)
    return clusters.select(
        "doc_id", "page_no", "cluster_id", "label",
        F.round("confidence", 6).alias("confidence"),
        F.round("l", 6).alias("l"), F.round("t", 6).alias("t"),
        F.round("r", 6).alias("r"), F.round("b", 6).alias("b"),
    )


def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: table JSON (dual field names) -> cell rows + OTSL skeleton."""
    from .operators.tables import parse_table_cells

    pages = _synth_pages(spark, sf_dir, "table_json")
    return parse_table_cells(pages).select(
        "doc_id", "page_no", "n_rows", "n_cols", "otsl",
        "cell_row", "cell_col", "row_span", "col_span", "end_row", "end_col",
        "cell_text", "col_header",
        F.round("cx1", 6).alias("cx1"), F.round("cy1", 6).alias("cy1"),
        F.round("cx2", 6).alias("cx2"), F.round("cy2", 6).alias("cy2"),
    )


def q_picture_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: classifier JSON parse with per-class defaults; unparsable -> no rows."""
    from .operators.enrichment import classify_pictures

    m = F.col("doc_id") % 3
    payload = (
        F.when(m == 0, F.lit(
            '{"classes":[{"class_name":"chart","confidence":0.8},{"confidence":0.2}]}'
        ))
        .when(m == 1, F.lit('The image shows {"classes":[{"class_name":"logo"}]} end'))
        .otherwise(F.lit("no json here"))
    )
    d = _docs(spark, sf_dir).select("doc_id", payload.alias("payload"))
    classified = classify_pictures(d)
    return classified.select(
        "doc_id", F.explode("classes").alias("cls")
    ).select(
        "doc_id",
        F.col("cls.class_name").alias("class_name"),
        F.round(F.col("cls.confidence"), 6).alias("confidence"),
    )


def q_code_formula_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11: code/formula dispatch + language mapping."""
    from .operators.enrichment import enrich_code_formula

    m = F.col("doc_id") % 4
    kind = F.when(m == 2, F.lit("formula")).otherwise(F.lit("code"))
    payload = (
        F.when(m == 0, F.concat(
            F.lit('{"is_code":true,"language":"Python","code":"print('),
            (F.col("n_chars") % 97).cast("string"), F.lit(')"}'),
        ))
        .when(m == 1, F.lit('{"is_code":true,"language":"brainfudge","code":"x"}'))
        .when(m == 2, F.lit('result: {"is_formula":true,"latex":"E=mc^2"} done'))
        .otherwise(F.lit('{"is_code":false,"is_formula":false}'))
    )
    d = _docs_words(spark, sf_dir).select(
        "doc_id", "n_chars",
        kind.alias("elem_kind"), _w(1, 2).alias("text"), payload.alias("payload"),
    )
    return enrich_code_formula(d).select("doc_id", "elem_kind", "out_text", "language")


def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: containment join of cells into clusters + orphan synthesis."""
    from .operators.cluster_assign import assign_cells_to_clusters

    d = _docs(spark, sf_dir).select("doc_id")
    c0r = 400.0 + (F.col("doc_id") % 5).cast("double") * 10.0
    clusters = d.select(
        "doc_id", F.lit(0).alias("page_no"),
        F.explode(F.array(
            F.struct(F.lit(0).alias("cluster_id"), F.lit("text").alias("label"),
                     F.lit(0.0).alias("l"), F.lit(0.0).alias("t"),
                     c0r.alias("r"), F.lit(1000.0).alias("b")),
            F.struct(F.lit(1).alias("cluster_id"), F.lit("table").alias("label"),
                     F.lit(350.0).alias("l"), F.lit(0.0).alias("t"),
                     F.lit(800.0).alias("r"), F.lit(1000.0).alias("b")),
        )).alias("c"),
    ).select("doc_id", "page_no", "c.*")
    cells = d.select(
        "doc_id", F.lit(0).alias("page_no"),
        F.explode(F.array(
            F.struct(F.lit(0).alias("cell_index"), F.lit("in-c0").alias("cell_text"),
                     F.lit(50.0).alias("l"), F.lit(100.0).alias("t"),
                     F.lit(250.0).alias("r"), F.lit(200.0).alias("b")),
            F.struct(F.lit(1).alias("cell_index"), F.lit("in-c1").alias("cell_text"),
                     F.lit(500.0).alias("l"), F.lit(100.0).alias("t"),
                     F.lit(700.0).alias("r"), F.lit(200.0).alias("b")),
            F.struct(F.lit(2).alias("cell_index"), F.lit("orphan").alias("cell_text"),
                     F.lit(820.0).alias("l"), F.lit(0.0).alias("t"),
                     F.lit(980.0).alias("r"), F.lit(100.0).alias("b")),
            F.struct(F.lit(3).alias("cell_index"), F.lit("overlap").alias("cell_text"),
                     F.lit(310.0).alias("l"), F.lit(0.0).alias("t"),
                     F.lit(390.0).alias("r"), F.lit(100.0).alias("b")),
        )).alias("c"),
    ).select("doc_id", "page_no", "c.*")
    out = assign_cells_to_clusters(cells, clusters)
    return out.select(
        "doc_id", "cell_index", "cell_text", "cluster_id", "label", "is_orphan"
    )


def q_cell_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 second half: geometric overlap-dedupe of OCR cells.

    4 synthetic cells per document; cell 1 duplicates cell 0 shifted by
    (doc_id%7)*4 px in x and y, so shifts 0 and 4 px cross the IoU>=0.8
    threshold (dropped) while 8+ px stay; cells 2/3 overlap at IoU 1/3 and
    both survive."""
    from .operators.cell_dedupe import dedupe_cells

    d = _docs(spark, sf_dir).select("doc_id")
    shift = (F.col("doc_id") % 7).cast("double") * 4.0

    def cell(idx, text, l, t, r, b):
        return F.struct(
            F.lit(idx).cast("int").alias("cell_index"),
            F.lit(text).alias("cell_text"),
            l.alias("l"), t.alias("t"), r.alias("r"), b.alias("b"),
        )

    z = F.lit(0.0)
    cells = d.select(
        "doc_id", F.lit(0).alias("page_no"),
        F.explode(F.array(
            cell(0, "base", z, z, F.lit(100.0), F.lit(100.0)),
            cell(1, "dup", shift, shift, shift + 100.0, shift + 100.0),
            cell(2, "right", F.lit(200.0), z, F.lit(300.0), F.lit(100.0)),
            cell(3, "partial", F.lit(250.0), z, F.lit(350.0), F.lit(100.0)),
        )).alias("c"),
    ).select("doc_id", "page_no", "c.*")
    return dedupe_cells(cells).select(
        "doc_id", "cell_index", "cell_text",
        F.round("l", 6).alias("l"), F.round("t", 6).alias("t"),
        F.round("r", 6).alias("r"), F.round("b", 6).alias("b"),
    )


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: resume filter — input minus committed hash groups {0,1} of 8."""
    from .plans.checkpoint import group_col, resume_filter

    docs = _docs(spark, sf_dir).select("doc_id")
    remaining = resume_filter(docs, {0, 1}, 8)
    return remaining.select("doc_id", group_col(8).alias("group_id"))


# --------------------------------------- training-data pipeline (batch 3)
def _docs_with_mutants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originals plus deterministic near-duplicates (doc_id + 1,000,000,
    two words appended) — gives the dedup operators true positives.

    Spread AFTER the union, not per branch: a per-branch spread doubles
    the downstream signature kernel's partition count (width + width),
    and every extra Python task costs ~9 ms of serialized launch overhead
    (round-6 measurement: the k8 signature stage alone dropped 0.88 s ->
    ~0.5 s at sf0.1 when the union spread once to cluster width)."""
    from .operators.partitioning import spread_for_kernel

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    mutants = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
        "lang",
        "n_chars",
    )
    return spread_for_kernel(d.unionByName(mutants))


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 md5-derived hashes) + 2 banded LSH keys."""
    from .operators.dedup import minhash_signature

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return minhash_signature(d).select(
        "doc_id", *[f"h{j}" for j in range(8)], "band0", "band1"
    )


def q_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-sized MinHash (k=64, 8 bands): one md5 per shingle total,
    lanes via numpy multiply-shift — the 100 TB path beside the k=8 oracle
    kernel."""
    from .operators.dedup import minhash_signature_fast

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # The driver's row canonicalizer sorts columns through pandas and cannot
    # hash list cells, so the k=64 signature travels as one comma-joined
    # string column rather than array<long>.
    return minhash_signature_fast(d).select(
        "doc_id",
        F.array_join("sig", ",").alias("sig"),
        *[f"band{b}" for b in range(8)],
    )


def q_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over originals + planted near-dups, from
    BOTH kernels with a kernel key: md5_k8 = the k=8 md5-salt oracle kernel,
    fast_k64 = the k=64/8-band multiply-shift production kernel."""
    from .operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        minhash_signature_fast,
    )

    docs = _docs_with_mutants(spark, sf_dir)
    k8 = lsh_candidate_pairs(minhash_signature(docs)).withColumn(
        "kernel", F.lit("md5_k8")
    )
    k64 = lsh_candidate_pairs(minhash_signature_fast(docs)).withColumn(
        "kernel", F.lit("fast_k64")
    )
    return k8.unionByName(k64)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document (per-bit shingle majority)."""
    from .operators.dedup import simhash

    return simhash(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", "simhash"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (top-20-bit block join + hamming <= 8)."""
    from .operators.dedup import simhash, simhash_near_pairs

    sigs = simhash(_docs_with_mutants(spark, sf_dir))
    return simhash_near_pairs(sigs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.5 within language blocks."""
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs_with_mutants(spark, sf_dir), block_cols=("lang",), threshold=0.5
    )


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH band buckets (a star per
    bucket) from BOTH kernels, with a kernel key: every doc labelled with its
    component's min doc_id (the canonical keeper) — an ITERATIVE graph
    algorithm whose lattice fixpoint a DuckDB recursive CTE recomputes
    independently.  fast_k64 runs the config-wired production sweep
    (near_duplicate_components behind ExtractConfig.minhash_k/bands)."""
    from .config import ExtractConfig
    from .operators.dedup import (
        bucket_edges,
        dup_components,
        melt_bands,
        minhash_signature,
        near_duplicate_components,
    )

    docs = _docs_with_mutants(spark, sf_dir)
    edges = bucket_edges(melt_bands(minhash_signature(docs)))
    k8 = dup_components(docs.select("doc_id"), edges).withColumn(
        "kernel", F.lit("md5_k8")
    )
    k64 = near_duplicate_components(
        docs, ExtractConfig(minhash_k=64, minhash_bands=8)
    ).withColumn("kernel", F.lit("fast_k64"))
    return k8.unionByName(k64)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector ANN index features, both kernels under a kernel key:
    random-hyperplane LSH sign bucket + product-quantization code (PQ_M=8
    subspaces x 16 centroids, the 128x memory-compression scale path for
    billion-vector ANN) + total squared reconstruction error.  The 'fast'
    arm runs the numpy volume kernels (vectorized bucket projection +
    vectorized PQ encode) against the SAME declarative oracle SQL as the
    expression arm — the driver row proves the volume kernels reproduce
    the declarative semantics (codes, tie-breaks, 6dp errors)."""
    from .operators.similarity import assign_buckets, assign_buckets_fast, pq_encode

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = None
    for kernel, fast in (("expr", False), ("fast", True)):
        assign = assign_buckets_fast if fast else assign_buckets
        part = (
            pq_encode(assign(emb), fast=fast)
            .select("vec_id", "bucket", "pq_code", "recon_err")
            .withColumn("kernel", F.lit(kernel))
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups (>= 0.95) found via LSH bucket collision;
    planted exact copies (vec_id + 100,000) are the true positives."""
    from .operators.similarity import bucketed_near_duplicates

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    both = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "v")
    )
    return bucketed_near_duplicates(both)


def q_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantization, coarse AND refined, one row per vector: cell_init
    = nearest deterministic grid centroid; cell_refined = cell after 2
    Lloyd refinements — an ITERATIVE algorithm with an exact cross-engine
    oracle (integer-quantized sums; see operators/similarity.py)."""
    from .operators.similarity import assign_ivf_cells, kmeans_refined_cells

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    init = assign_ivf_cells(emb).select("vec_id", F.col("cell").alias("cell_init"))
    refined = kmeans_refined_cells(emb).select(
        "vec_id", F.col("cell").alias("cell_refined")
    )
    return init.join(refined, "vec_id")


def _png_header_hex(w, h):
    """Hex string of a valid 29-byte PNG header with the given dimensions
    (signature + IHDR length/name + big-endian w/h + bit-depth tail)."""
    def hex8(c):
        return F.lpad(F.hex(c), 8, "0")

    return F.concat(
        F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
        hex8(w), hex8(h), F.lit("0806000000"),
    )


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN at both probe depths, unioned with (n_probe, kernel)
    keys: top-3 cosine neighbours for query vectors vec_id < 10, candidates
    pruned to the query's IVF cell(s) (ONE corpus scan per depth for ALL
    queries — the production shape of similarity search; n_probe=2 also
    searches each query's runner-up cell, the recall knob).  The 'fast'
    arm runs the production numpy path (vectorized cell assign + salted
    per-cell cogroup matmul top-k, the 57x volume kernel) against the SAME
    declarative oracle SQL as the expression arm — the driver row is the
    proof the volume kernel reproduces the declarative semantics, not just
    the pytest rank-parity check.  The 'pq_adc' arm (n_probe=0: full code
    scan, no cell pruning) runs the PQ search path — 4-bit codes ranked by
    per-query distance-table sums, true cosine re-rank-fetched for the k
    winners — against its own declarative oracle SQL."""
    from .operators.similarity import ivf_knn, ivf_pq_topk, pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    out = None
    for kernel, n_probe, fast in (
        ("expr", 1, False), ("expr", 2, False), ("fast", 2, True)
    ):
        part = (
            ivf_knn(corpus, queries, n_probe=n_probe, fast=fast)
            .withColumn("n_probe", F.lit(n_probe))
            .withColumn("kernel", F.lit(kernel))
        )
        out = part if out is None else out.unionByName(part)
    for kernel, fast_scan in (("pq_adc", False), ("pq_adc_fast", True)):
        adc = (
            pq_adc_topk(corpus, queries, fast=True, fast_scan=fast_scan)
            .withColumn("n_probe", F.lit(0))
            .withColumn("kernel", F.lit(kernel))
        )
        out = out.unionByName(adc)
    # the composed IVF-PQ stack (ivf_pq_topk): cells route, ADC over the
    # probed lists ranks codes-only, winners re-rank true cosine — the
    # 'ivf_pq_fast' arm runs the full production numpy path (vectorized
    # cell assign + PQ encode + (cell, salt)-cogroup ADC gather) against
    # the SAME declarative oracle as the expression arm
    for kernel, n_probe, fast_scan in (
        ("ivf_pq", 1, False), ("ivf_pq", 2, False), ("ivf_pq_fast", 2, True)
    ):
        ivfpq = (
            ivf_pq_topk(
                corpus, queries, n_probe=n_probe,
                fast=fast_scan, fast_scan=fast_scan,
            )
            .withColumn("n_probe", F.lit(n_probe))
            .withColumn("kernel", F.lit(kernel))
        )
        out = out.unionByName(ivfpq)
    return out


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing over video blobs: 4 evenly-spaced
    byte-slice 'frames' with timestamps + digests (real av decode is the
    marked stub; schema/batching/fan-out are real and oracle-checked)."""
    from .operators.multimodal import attach_media_blob, sample_frames

    videos = attach_media_blob(_docs(spark, sf_dir)).filter(
        F.col("media_type") == "video"
    )
    return sample_frames(videos)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary blob column -> Arrow-batched byte-level
    features (decode itself stubbed; see operators/multimodal.py), PLUS the
    G12 picture-description path for image rows (description = the
    deterministic stub decoder's digest of the media bytes; null for
    audio/video rows)."""
    from .operators.multimodal import attach_media_blob, media_features

    media = attach_media_blob(_docs(spark, sf_dir))
    described = media.withColumn(
        "description",
        F.when(
            F.col("media_type") == "image",
            F.concat(F.lit("desc:"), F.md5(F.col("blob"))),
        ),
    )
    return media_features(media).join(
        described.select("doc_id", "description"), "doc_id"
    )


def q_media_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real byte-level media decode + resize plan in one row: valid
    PNG/JPEG headers are synthesized from doc_id with column expressions
    (unhex), the Arrow-batched parser recovers the true width/height — no
    image library involved — and the aspect-preserving fit-into-224 plan
    (never upscales) is computed from the PARSED dims.  Even docs get PNG
    (29-byte header), odd get JPEG with an APP0 segment before the SOF0
    marker (41 bytes, exercises the segment walk)."""
    from .operators.multimodal import media_features, resize_plan

    d = _docs(spark, sf_dir).select("doc_id")
    w = (F.col("doc_id") % 1920 + 16).cast("int")
    h = (F.col("doc_id") % 1080 + 16).cast("int")
    png_hex = _png_header_hex(w, h)

    def hex4(c):
        return F.lpad(F.hex(c), 4, "0")

    jpeg_hex = F.concat(
        F.lit(
            "FFD8"                                    # SOI
            "FFE000104A46494600010100000100010000"    # APP0 (len 16, JFIF)
            "FFC0001108"                              # SOF0 (len 17, prec 8)
        ),
        hex4(h), hex4(w),
        F.lit("03012200021101031101" "FFD9"),         # 3 components + EOI
    )
    blob = F.when(F.col("doc_id") % 2 == 0, F.unhex(png_hex)).otherwise(
        F.unhex(jpeg_hex)
    )
    media = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image").alias("media_type"),
        blob.alias("blob"),
    )
    return resize_plan(media_features(media), passthrough=("n_bytes",))


# ----------------------------------------------- parity long-tail (batch 4)
def q_elements_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: element texts -> plain text joined with blank lines (blank
    elements skipped)."""
    from .functions.text_fns import join_paragraphs

    texts = F.array(_w(1, 2), F.lit("   "), _w(3, 8), F.lit(""), _w(9, 10))
    return _docs_words(spark, sf_dir).select(
        "doc_id", join_paragraphs(texts).alias("plain_text")
    )


def q_ocr_rect_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: degenerate OCR-rect guard — zero-width/height regions dropped."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("rect_seq")
    )
    l = (F.col("doc_id") % 100).cast("double")
    t = (F.col("doc_id") % 50).cast("double")
    # rect 1 is degenerate (zero width); rect 2 zero height for doc%3==0
    r = F.when(F.col("rect_seq") == 1, l).otherwise(l + 200.0)
    b = F.when(
        (F.col("rect_seq") == 2) & (F.col("doc_id") % 3 == 0), t
    ).otherwise(t + 100.0)
    rects = d.select(
        "doc_id", F.col("rect_seq").cast("int").alias("rect_seq"),
        l.alias("l"), t.alias("t"), r.alias("r"), b.alias("b"),
    )
    return rects.filter((F.col("r") - F.col("l") > 0) & (F.col("b") - F.col("t") > 0))


def q_table_cluster_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: keep only TABLE-labelled layout clusters (crop targets)."""
    from .operators.layout import parse_layout_clusters

    pages = _synth_pages(spark, sf_dir, "layout_json")
    clusters = parse_layout_clusters(pages)
    return clusters.filter(F.col("label") == "table").select(
        "doc_id", "page_no", "cluster_id",
        F.round("l", 6).alias("l"), F.round("t", 6).alias("t"),
        F.round("r", 6).alias("r"), F.round("b", 6).alias("b"),
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming watermarked windowed agg: tumbling
    1-hour windows per event_type (same plan runs in both modes —
    streaming/windowed.py; the stream test asserts stream == this)."""
    from .streaming.windowed import windowed_event_counts

    return windowed_event_counts(load_table(spark, sf_dir, "events"))


def q_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState per-user accumulator:
    final (n_events, total_value) per user."""
    ev = load_table(spark, sf_dir, "events")
    # Accumulate in DECIMAL: double sums are partition-order-dependent and
    # can flip the 4-dp rounding vs the oracle at larger scale factors.
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("total_value"),
    )


# Deliberately curated and ORDERED: the grading driver oracle-checks the
# first 50 entries, so the registry holds exactly <= 50 — one row per
# operator family, merged where operators share an input granularity (each
# merged column remains independently value-hashed by the oracle).
QUERIES = {
    # flagship extraction paths
    "extract_interleaved_spans": q_extract_interleaved_spans,
    "extract_from_interleaved": q_extract_from_interleaved,
    # text-structuring (T-series)
    "text_cleanup": q_text_cleanup,
    "json_repair_exprs": q_json_repair_exprs,
    "html_elements": q_html_elements,
    "elements_to_text": q_elements_to_text,
    # geometry / layout (G-series)
    "paragraph_cells": q_paragraph_cells,
    "bbox_rescale": q_bbox_rescale,
    "otsl_skeleton": q_otsl_skeleton,
    "reading_order": q_reading_order,
    "confidence_agg": q_confidence_agg,
    "element_cells": q_element_cells,
    "layout_clusters": q_layout_clusters,
    "table_cells": q_table_cells,
    "picture_classify": q_picture_classify,
    "code_formula_enrich": q_code_formula_enrich,
    "cluster_assign": q_cluster_assign,
    "cell_dedupe": q_cell_dedupe,
    "ocr_rect_filter": q_ocr_rect_filter,
    "table_cluster_filter": q_table_cluster_filter,
    # lineage / resume (S6)
    "checkpoint_resume": q_checkpoint_resume,
    # training-data pipeline: per-doc signals
    "doc_stats": q_doc_stats,
    "doc_fingerprints": q_doc_fingerprints,
    "lang_id": q_lang_id,
    "quality_filter_rules": q_quality_filter_rules,
    "pii_mask": q_pii_mask,
    "sample_stratified": q_sample_stratified,
    "doc_chunks": q_doc_chunks,
    "pack_sequences": q_pack_sequences,
    "decontaminate": q_decontaminate,
    # dedup family
    "dedup_exact": q_dedup_exact,
    "minhash_signature": q_minhash_signature,
    "minhash_fast": q_minhash_fast,
    "lsh_dup_pairs": q_lsh_dup_pairs,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "dup_components": q_dup_components,
    "dedup_survivors": q_dedup_survivors,
    # similarity / ANN family
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "embedding_near_dup": q_embedding_near_dup,
    "knn_bruteforce": q_knn_bruteforce,
    "knn_batch": q_knn_batch,
    "ivf_kmeans": q_ivf_kmeans,
    # multimodal family
    "media_features": q_media_features,
    "media_decode_resize": q_media_decode_resize,
    "frame_sample": q_frame_sample,
    # events / streaming batch twins
    "events_sessions": q_events_sessions,
    "windowed_event_counts": q_windowed_event_counts,
    "user_running_totals": q_user_running_totals,
}

assert len(QUERIES) <= 50, f"driver checks only 50 queries; got {len(QUERIES)}"
