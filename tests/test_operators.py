"""Focused Spark-level tests for the batch-2/3 operators (the DuckDB oracle
covers them at corpus scale; these pin the tricky behaviors with tiny,
readable inputs so `python -m pytest -x -q` alone is a meaningful gate)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.operators.cluster_assign import assign_cells_to_clusters
from docling_ocr_qwen3vl_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from docling_ocr_qwen3vl_spark.operators.element_cells import elements_to_cells
from docling_ocr_qwen3vl_spark.operators.enrichment import (
    classify_pictures,
    enrich_code_formula,
)
from docling_ocr_qwen3vl_spark.operators.similarity import bucketed_near_duplicates
from docling_ocr_qwen3vl_spark.operators.tables import parse_table_cells


def test_element_cells_index_across_regions(spark):
    # two OCR regions on one page: indices must be cumulative over EMITTED
    # cells in (region, element) order; blanks skipped (G3, model.py:97,103)
    rows = [
        Row(doc_id="d", page_no=0, rect_seq=0, seq=0, text="a",
            x1=0, y1=0, x2=500, y2=500, rect_l=0.0, rect_t=0.0, rect_r=100.0, rect_b=200.0),
        Row(doc_id="d", page_no=0, rect_seq=0, seq=1, text="  ",
            x1=None, y1=None, x2=None, y2=None, rect_l=0.0, rect_t=0.0, rect_r=100.0, rect_b=200.0),
        Row(doc_id="d", page_no=0, rect_seq=1, seq=0, text="b",
            x1=None, y1=None, x2=None, y2=None, rect_l=100.0, rect_t=0.0, rect_r=300.0, rect_b=200.0),
    ]
    out = {r.cell_text: r for r in elements_to_cells(spark.createDataFrame(rows)).collect()}
    assert out["a"].cell_index == 0 and out["b"].cell_index == 1
    # bbox rescale: 0-1000 -> region; no-bbox -> whole region
    assert (out["a"].l, out["a"].t, out["a"].r, out["a"].b) == (0.0, 0.0, 50.0, 100.0)
    assert (out["b"].l, out["b"].r) == (100.0, 300.0)


def test_cluster_assign_tiebreak_and_orphan(spark):
    clusters = spark.createDataFrame([
        Row(doc_id="d", page_no=0, cluster_id=0, label="text", l=0.0, t=0.0, r=400.0, b=1000.0),
        Row(doc_id="d", page_no=0, cluster_id=1, label="table", l=350.0, t=0.0, r=800.0, b=1000.0),
    ])
    cells = spark.createDataFrame([
        Row(doc_id="d", page_no=0, cell_index=0, cell_text="both",
            l=310.0, t=0.0, r=390.0, b=100.0),  # inside c0 fully, c1 partially
        Row(doc_id="d", page_no=0, cell_index=1, cell_text="lost",
            l=900.0, t=0.0, r=950.0, b=100.0),
    ])
    out = {r.cell_index: r for r in assign_cells_to_clusters(cells, clusters).collect()}
    assert out[0].cluster_id == 0 and not out[0].is_orphan  # max-overlap wins
    assert out[1].is_orphan and out[1].cluster_id == -2 and out[1].label == "text"


def test_table_operator_dual_names_and_null_table(spark):
    pages = spark.createDataFrame([
        Row(doc_id="a", page_no=0, payload=(
            '{"rows":2,"cols":2,"cells":['
            '{"row":0,"col":0,"text":"H","rs":1,"cs":1,"hdr":true,"x1":0,"y1":0,"x2":500,"y2":100},'
            '{"row":1,"col":0,"text":"x","row_span":1,"col_span":2,"is_header":false,"bbox":[0,100,1000,200]}]}'
        )),
        Row(doc_id="b", page_no=0, payload='{"rows":0,"cols":2,"cells":[]}'),
        Row(doc_id="c", page_no=0, payload='{"rows":1,"cols":3,"cells":[]}'),
    ])
    rows = parse_table_cells(pages).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert "b" not in by_doc  # rows=0 -> null table
    a = sorted(by_doc["a"], key=lambda r: r.cell_row)
    assert a[0].col_header is True and a[0].end_col == 1
    assert a[1].col_span == 2 and a[1].end_col == 2 and (a[1].cx2, a[1].cy2) == (1000.0, 200.0)
    assert a[0].otsl == "cell l cell nl cell l cell"
    c = by_doc["c"][0]  # cell-less table still emits the table row
    assert c.cell_row is None and c.otsl == "cell l cell l cell"


def test_enrichment_operators(spark):
    pics = spark.createDataFrame([
        Row(doc_id=1, payload='x {"classes":[{"confidence":0.3}]} y'),
        Row(doc_id=2, payload='{"classes":[]}'),
        Row(doc_id=3, payload="garbage"),
    ])
    got = {r.doc_id: r.classes for r in classify_pictures(pics).collect()}
    assert [c.asDict() for c in got[1]] == [{"class_name": "other", "confidence": 0.3}]
    assert got[2] is None and got[3] is None

    code = spark.createDataFrame([
        Row(doc_id=1, elem_kind="code", text="old",
            payload='{"is_code":true,"language":"Shell","code":"ls"}'),
        Row(doc_id=2, elem_kind="formula", text="old",
            payload='{"is_formula":true,"latex":"x^2"}'),
        Row(doc_id=3, elem_kind="code", text="old", payload='{"is_code":false}'),
    ])
    out = {r.doc_id: r for r in enrich_code_formula(code).collect()}
    assert (out[1].out_text, out[1].language) == ("ls", "bash")
    assert (out[2].out_text, out[2].language) == ("x^2", None)
    assert (out[3].out_text, out[3].language) == ("old", None)


def test_ivf_multi_probe_recall_is_monotone(spark):
    """More probes can only widen each query's candidate set, so recall
    vs the exact top-k is monotone in n_probe; probing ALL cells equals
    brute force exactly."""
    import numpy as np

    from docling_ocr_qwen3vl_spark.operators.similarity import ivf_knn

    rng = np.random.RandomState(3)
    vecs = np.round(rng.uniform(-1, 1, (80, 8)), 4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)], ["vec_id", "v"]
    ).select("vec_id", F.col("v").cast("array<double>").alias("v"))
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)

    def neighbours(n_probe):
        out = {}
        for r in ivf_knn(corpus, queries, k=3, n_probe=n_probe).collect():
            out.setdefault(r.q_id, set()).add(r.n_id)
        return out

    # exact top-3 via numpy
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    exact = {
        q: {int(n) for n in sorted(
            range(10, 80), key=lambda n: (-cos(vecs[q], vecs[n]), n))[:3]}
        for q in range(10)
    }

    def recall(found):
        return sum(len(found.get(q, set()) & exact[q]) for q in exact)

    r1, r2, r_all = (recall(neighbours(p)) for p in (1, 2, 8))
    assert r1 <= r2 <= r_all
    assert r_all == 30                      # probing every cell == brute force
    assert neighbours(8) == exact


def test_dup_components_chain_and_singletons(spark):
    from docling_ocr_qwen3vl_spark.operators.dedup import dup_components

    ids = spark.createDataFrame([Row(doc_id=i) for i in range(8)])
    # chain 0-1-2-3 (diameter 3 -> needs several propagation rounds),
    # pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame([
        Row(doc_a=1, doc_b=0), Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3),
        Row(doc_a=5, doc_b=6),
    ])
    got = {r.doc_id: r.component for r in dup_components(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_kmeans_refined_cells_matches_numpy_reference(spark):
    import numpy as np

    from docling_ocr_qwen3vl_spark.operators.similarity import (
        KMEANS_SCALE,
        _init_centroids,
        kmeans_refined_cells,
    )

    rng = np.random.RandomState(7)
    dim, n, cells, iters = 16, 60, 4, 2
    vecs = np.round(rng.uniform(-1, 1, (n, dim)), 4)

    # independent numpy implementation of the same exact-arithmetic spec
    vq = np.floor(vecs * KMEANS_SCALE).astype(np.int64)
    C = np.array(_init_centroids(cells, dim))
    for _ in range(iters):
        d = ((vq[:, None, :].astype(float) - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(cells):
            members = vq[assign == j]
            if len(members):
                C[j] = members.sum(axis=0) / len(members)
    d = ((vq[:, None, :].astype(float) - C[None, :, :]) ** 2).sum(axis=2)
    want = d.argmin(axis=1)

    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], ["vec_id", "v"]
    ).select("vec_id", F.col("v").cast("array<double>").alias("v"))
    got = {
        r.vec_id: r.cell
        for r in kmeans_refined_cells(emb, n_cells=cells, iterations=iters).collect()
    }
    assert got == {i: int(want[i]) for i in range(n)}
    # the refinement must actually move assignments vs the raw init grid
    init_assign = (
        ((vq[:, None, :].astype(float) - np.array(_init_centroids(cells, dim))[None, :, :]) ** 2)
        .sum(axis=2).argmin(axis=1)
    )
    assert (init_assign != want).any()


def test_media_header_parsers_pure_bytes():
    from docling_ocr_qwen3vl_spark.operators.multimodal import (
        parse_jpeg_dims,
        parse_media_dims,
        parse_png_dims,
    )

    png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    assert parse_png_dims(png) == (640, 480)
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
            + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
            + b"\x03" + bytes(9) + b"\xff\xd9")
    assert parse_jpeg_dims(jpeg) == (640, 480)
    assert parse_media_dims(png) == (640, 480)
    assert parse_media_dims(jpeg) == (640, 480)
    # negatives: garbage, truncation, zero dims, utf-8 text
    assert parse_media_dims(b"just text bytes") is None
    assert parse_media_dims(png[:20]) is None
    assert parse_media_dims(jpeg[:24]) is None
    assert parse_media_dims(b"") is None
    zero = png[:16] + (0).to_bytes(4, "big") + png[20:]
    assert parse_media_dims(zero) is None
    # progressive JPEG (SOF2) also carries dims
    sof2 = jpeg.replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_jpeg_dims(sof2) == (640, 480)


def test_cell_dedupe_drops_overlaps_keeps_earlier(spark):
    from docling_ocr_qwen3vl_spark.operators.cell_dedupe import dedupe_cells

    def c(doc, page, idx, text, l, t, r, b):
        return Row(doc_id=doc, page_no=page, cell_index=idx, cell_text=text,
                   l=float(l), t=float(t), r=float(r), b=float(b))

    cells = spark.createDataFrame([
        c("d", 0, 0, "keep-first", 0, 0, 100, 100),
        c("d", 0, 1, "exact-dup", 0, 0, 100, 100),        # IoU 1 vs 0 -> drop
        c("d", 0, 2, "chained", 0, 40, 100, 140),         # IoU 0.43 vs 0, 0.43 vs 1
        c("d", 0, 3, "far", 500, 500, 600, 600),          # disjoint -> keep
        c("d", 1, 0, "other-page", 0, 0, 100, 100),       # page key isolates
        c("d", 1, 1, "page1-dup", 1, 1, 101, 101),        # drop within page 1
        c("e", 0, 0, "other-doc", 0, 0, 100, 100),        # doc key isolates
    ])
    kept = {(r.doc_id, r.page_no, r.cell_index): r.cell_text
            for r in dedupe_cells(cells).collect()}
    assert ("d", 0, 1) not in kept
    assert ("d", 1, 1) not in kept
    assert kept[("d", 0, 0)] == "keep-first"
    assert kept[("d", 0, 2)] == "chained"          # below threshold -> kept
    assert kept[("d", 0, 3)] == "far"
    assert kept[("d", 1, 0)] == "other-page"
    assert kept[("e", 0, 0)] == "other-doc"
    # "any earlier" semantics: a cell duplicating a DROPPED earlier cell
    # is still dropped (decision depends only on the input)
    chain = spark.createDataFrame([
        c("x", 0, 0, "a", 0, 0, 100, 100),
        c("x", 0, 1, "b", 2, 2, 102, 102),     # dup of 0 -> dropped
        c("x", 0, 2, "cc", 4, 4, 104, 104),    # dup of 1 (and of 0) -> dropped
    ])
    assert [r.cell_index for r in dedupe_cells(chain).collect()] == [0]


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " tail words"),   # near-dup of 1
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40))),
    ])
    pairs_df = lsh_candidate_pairs(minhash_signature(docs))
    pairs = {(r.doc_a, r.doc_b) for r in pairs_df.collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # the MinHash kernel runs ONCE with no cache: the final AQE plan (read
    # after the action) plans the join's second side as a ReusedExchange
    # of the first side's band repartition
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("ArrowEvalPython") == 1
    assert "ReusedExchange" in final
    assert "InMemoryTableScan" not in final


def test_simhash_and_jaccard_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base, lang="en"),
        Row(doc_id=2, text=base + " tail words", lang="en"),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40)), lang="en"),
    ])
    sp = {(r.doc_a, r.doc_b) for r in
          simhash_near_pairs(simhash(docs)).collect()}
    assert (1, 2) in sp
    jp = {(r.doc_a, r.doc_b): r.jaccard for r in
          ngram_jaccard_pairs(docs, block_cols=("lang",), threshold=0.5).collect()}
    assert (1, 2) in jp and jp[(1, 2)] > 0.9
    assert all(3 not in k for k in jp)


def test_minhash_kernel_state_copy_matches_naive_and_scales_k(spark):
    import hashlib

    from docling_ocr_qwen3vl_spark.operators.dedup import _minhash_kernel

    text = "the quick brown fox jumps over the lazy dog again and again"
    ws = text.split()
    for k, n_bands in ((8, 2), (64, 8)):
        got = _minhash_kernel(text, k, 3, n_bands)
        naive = []
        shingles = [" ".join(ws[i:i + 3]).encode() for i in range(len(ws) - 2)]
        for j in range(k):
            salt = f"#{j}".encode()
            naive.append(min(int(hashlib.md5(s + salt).hexdigest()[:15], 16)
                             for s in shingles))
        assert list(got[:k]) == naive, (k, n_bands)
        rows = k // n_bands
        for b in range(n_bands):
            want = hashlib.md5(
                ",".join(map(str, naive[b * rows:(b + 1) * rows])).encode()
            ).hexdigest()
            assert got[k + b] == want
    # k=64 end-to-end: 8 band columns, LSH still finds the planted pair
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " tail words"),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40))),
    ])
    sigs = minhash_signature(docs, k=64, n_bands=8)
    assert [c for c in sigs.columns if c.startswith("band")] == [
        f"band{b}" for b in range(8)
    ]
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs and all(3 not in p for p in pairs)


def test_simhash_pairs_recall_when_diff_bits_in_top_block(spark):
    """Pairs whose differing bits all sit in the TOP 20 bits were silently
    dropped by the old single-block join; pigeonhole banding must find every
    pair with hamming <= 8 regardless of where the bits differ."""
    base = 0x0ABCDEF12345678  # arbitrary 60-bit signature
    cases = [
        base ^ (0b111 << 50),   # 3 diffs inside bits 50-52 (old top-20 block)
        base ^ (0xFF << 52),    # 8 diffs, all in the top 8 bits
        base ^ (0b101 << 29),   # diffs straddling a 6-bit block boundary
        base ^ ((1 << 59) | 1), # extremes: top bit + bottom bit
    ]
    rows = [Row(doc_id=0, simhash=base)] + [
        Row(doc_id=i + 1, simhash=s) for i, s in enumerate(cases)
    ]
    sigs = spark.createDataFrame(rows)
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(sigs).collect()}
    assert got[(0, 1)] == 3
    assert got[(0, 2)] == 8
    assert got[(0, 3)] == 2
    assert got[(0, 4)] == 2
    # far pair (hamming > 8) must NOT appear even when a block collides
    far = spark.createDataFrame(
        [Row(doc_id=0, simhash=base), Row(doc_id=9, simhash=base ^ ((1 << 30) - 2))]
    )
    assert simhash_near_pairs(far).count() == 0


def test_ngram_jaccard_finds_unequal_length_near_dups(spark):
    """The old default blocked on exact n_chars equality, so near-dups of
    unequal length were never scored; the log2-size bucket + neighbour
    probe must find every pair with jaccard >= threshold."""
    a = " ".join(f"w{i}" for i in range(20))                       # 18 shingles
    b = a + " " + " ".join(f"x{i}" for i in range(14))             # 32 shingles
    docs = spark.createDataFrame([
        Row(doc_id=1, text=a, lang="en", n_chars=len(a)),
        Row(doc_id=2, text=b, lang="en", n_chars=len(b)),          # n_chars differs!
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(20)), lang="en",
            n_chars=77),
    ])
    jp = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) in jp and abs(jp[(1, 2)] - 18 / 32) < 1e-6
    assert all(3 not in k for k in jp)
    # pair counted exactly once despite the probe fan-out
    assert len(jp) == 1


def test_dedup_operators_survive_short_docs(spark):
    # Spark 4 runs ANSI mode by default: element_at past the array end would
    # abort the whole job.  Shingling must degrade to one shorter shingle.
    docs = spark.createDataFrame([
        Row(doc_id=1, text="two words", lang="en"),
        Row(doc_id=2, text="two words", lang="en"),
        Row(doc_id=3, text="solo", lang="en"),
        Row(doc_id=4, text="   ", lang="en"),
        Row(doc_id=5, text=" ".join(f"w{i}" for i in range(12)), lang="en"),
    ])
    sigs = minhash_signature(docs).collect()           # must not raise
    assert len(sigs) == 5
    sp = simhash(docs).collect()                        # must not raise
    assert len(sp) == 5
    jp = {(r.doc_a, r.doc_b): r.jaccard for r in
          ngram_jaccard_pairs(docs, block_cols=("lang",), threshold=0.5).collect()}
    assert jp[(1, 2)] == 1.0                            # identical short docs pair up


def test_embedding_near_dup_bucket_collision(spark):
    emb = spark.createDataFrame(
        [Row(vec_id=1, v=[1.0, 0.0, 0.0, 0.0]),
         Row(vec_id=2, v=[1.0, 0.001, 0.0, 0.0]),
         Row(vec_id=3, v=[-1.0, 0.5, -0.5, 0.2])]
    ).select("vec_id", F.col("v").cast("array<double>").alias("v"))
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in
             bucketed_near_duplicates(emb, threshold=0.95).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert all(3 not in k for k in pairs)


def test_review_fix_regressions(spark):
    """Round-2 self-review fixes, each pinned."""
    import dataclasses

    from docling_ocr_qwen3vl_spark.config import Qwen3VlOcrOptions
    from docling_ocr_qwen3vl_spark.operators.cell_dedupe import dedupe_cells
    from docling_ocr_qwen3vl_spark.operators.dedup import (
        near_duplicate_components,
    )
    from docling_ocr_qwen3vl_spark.operators.multimodal import parse_jpeg_dims
    from docling_ocr_qwen3vl_spark.operators.packing import (
        chunk_documents,
        pack_sequences,
    )

    # 1. empty/whitespace docs emit ZERO chunks (sequence(0,-1) descended)
    docs = spark.createDataFrame([
        Row(doc_id=1, text=""), Row(doc_id=2, text="   "),
        Row(doc_id=3, text="a b c d"),
    ])
    chunks = chunk_documents(docs).collect()
    assert {r.doc_id for r in chunks} == {3}
    assert all(r.chunk_id >= 0 for r in chunks)

    # 2. zero-token doc on an exact pack boundary does not span it
    packed = {r.doc_id: r for r in pack_sequences(
        spark.createDataFrame([
            Row(doc_id=0, text=" ".join("w" for _ in range(16))),
            Row(doc_id=1, text=""),                       # lands at offset 0
            Row(doc_id=2, text="tail words here"),
        ]), seq_len=16, group_width=100).collect()}
    assert packed[1].pack_offset == 0 and packed[1].n_tokens == 0
    assert packed[1].spans_boundary is False

    # 3. coincident zero-area duplicate cells still dedupe (IoU was 0/0)
    cells = spark.createDataFrame([
        Row(doc_id="d", page_no=0, cell_index=0, cell_text="a",
            l=5.0, t=5.0, r=5.0, b=9.0),
        Row(doc_id="d", page_no=0, cell_index=1, cell_text="dup",
            l=5.0, t=5.0, r=5.0, b=9.0),
        Row(doc_id="d", page_no=0, cell_index=2, cell_text="other",
            l=7.0, t=5.0, r=7.0, b=9.0),                  # degenerate, distinct
    ])
    kept = sorted(r.cell_index for r in dedupe_cells(cells).collect())
    assert kept == [0, 2]

    # 4. early EOI before any SOF -> no garbage dimensions
    assert parse_jpeg_dims(b"\xff\xd8\xff\xd9" + b"\xff\xc0\x00\x11" + bytes(40)) is None

    # 5. legacy positional repo-id call form + no caller-options mutation
    from docling_ocr_qwen3vl_spark.inference.decoder import TorchQwenDecoder
    import pytest as _pytest
    with _pytest.raises(ImportError):
        TorchQwenDecoder("/c/models--own--rep")
    shared = Qwen3VlOcrOptions(attn_implementation="flash_attention_2")
    before = dataclasses.asdict(shared)
    with _pytest.raises(ImportError):
        TorchQwenDecoder(shared, model_repo_id="/c/models--a--b")
    assert dataclasses.asdict(shared) == before

    # 6. ExtractConfig minhash knobs flow through the wired sweep
    from docling_ocr_qwen3vl_spark.config import ExtractConfig
    base = " ".join(f"w{i}" for i in range(40))
    corpus = spark.createDataFrame([
        Row(doc_id=1, text=base), Row(doc_id=2, text=base + " tail words"),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40))),
    ])
    comps = {r.doc_id: r.component for r in near_duplicate_components(
        corpus, ExtractConfig(minhash_k=16, minhash_bands=4)).collect()}
    assert comps[1] == comps[2] == 1 and comps[3] == 3


def test_decoder_backend_config_reaches_worker(spark, sf_dir):
    """extract()/decode_pages must consult ExtractConfig.decoder_backend —
    a bogus backend fails the decode stage (previously the config knob was
    silently ignored and the deterministic stub always ran)."""
    import pandas as pd
    import pytest

    from docling_ocr_qwen3vl_spark.operators.page_decode import _make_decode_batches

    fn = _make_decode_batches("no-such-backend", None)
    batch = pd.DataFrame(
        {"doc_id": ["1"], "page_no": [0], "payload_kind": ["plain_text"],
         "payload": ["hello"]}
    )
    with pytest.raises(ValueError, match="unknown decoder backend"):
        list(fn(iter([batch])))
    # and the deterministic backend still decodes through the same closure
    ok = _make_decode_batches("deterministic", None)
    out = pd.concat(list(ok(iter([batch]))))
    assert list(out["text"]) == ["hello"]


def test_ivf_knn_fast_kernel_matches_expression_kernel(spark):
    """fast=True (numpy cell assignment + per-cell cogroup matmul top-k)
    must return exactly the expression kernels' results — same cells, same
    neighbours, same ranks (the fast path is the 100 TB kernel; the
    expression path is the oracle-pinned reference)."""
    import numpy as np

    from docling_ocr_qwen3vl_spark.operators.similarity import ivf_knn

    rng = np.random.RandomState(11)
    vecs = np.round(rng.uniform(-1, 1, (120, 16)), 4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)], ["vec_id", "v"]
    ).select("vec_id", F.col("v").cast("array<double>").alias("v"))
    corpus = emb.filter(F.col("vec_id") >= 12)
    queries = emb.filter(F.col("vec_id") < 12)
    for n_probe in (1, 2):
        expr_out = {(r.q_id, r.n_id, r.rank)
                    for r in ivf_knn(corpus, queries, k=5, n_probe=n_probe).collect()}
        fast_out = {(r.q_id, r.n_id, r.rank)
                    for r in ivf_knn(corpus, queries, k=5, n_probe=n_probe,
                                     fast=True).collect()}
        assert fast_out == expr_out


def test_lsh_bucket_fast_kernel_matches_expression_kernel(spark):
    """assign_buckets_fast / bucketed_near_duplicates(fast=True) must agree
    with the expression kernels — same buckets, same near-dup pairs."""
    import numpy as np

    from docling_ocr_qwen3vl_spark.operators.similarity import (
        assign_buckets,
        assign_buckets_fast,
        bucketed_near_duplicates,
    )

    rng = np.random.RandomState(5)
    vecs = np.round(rng.uniform(-1, 1, (60, 12)), 4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)], ["vec_id", "v"]
    ).select("vec_id", F.col("v").cast("array<double>").alias("v"))
    both = emb.unionByName(
        emb.select((F.col("vec_id") + 1000).alias("vec_id"), "v")  # planted dups
    )
    slow_b = {(r.vec_id, r.bucket) for r in assign_buckets(both).collect()}
    fast_b = {(r.vec_id, r.bucket) for r in assign_buckets_fast(both).collect()}
    assert fast_b == slow_b
    slow_p = {(r.vec_a, r.vec_b) for r in bucketed_near_duplicates(both).collect()}
    fast_p = {(r.vec_a, r.vec_b)
              for r in bucketed_near_duplicates(both, fast=True).collect()}
    assert fast_p == slow_p and len(fast_p) >= 60  # planted copies found


def test_kmeans_over_bound_corpus_fails_loudly(spark):
    """The 2^53 exactness precondition is a guard, not prose: a corpus
    whose per-cell quantized sums exceed 2^53 must raise ArithmeticError
    (the designed failure) instead of silently degrading the cross-engine
    bit-reproducibility claim."""
    import pytest as _pytest

    from docling_ocr_qwen3vl_spark.operators.similarity import kmeans_refined_cells

    # one vector at 1e12 quantizes to ~1e18 per component — a single-row
    # cell sum already past 2^53 (~9.0e15)
    emb = spark.createDataFrame(
        [(0, [1.0e12] * 4), (1, [0.5] * 4)], ["vec_id", "v"]
    ).select("vec_id", F.col("v").cast("array<double>").alias("v"))
    with _pytest.raises(ArithmeticError, match="2\\^53"):
        kmeans_refined_cells(emb, n_cells=2, iterations=1, dim=4)


def test_spread_for_kernel_adaptive(spark):
    """The signature kernels repartition a NARROW input (a one-file
    micro-batch arrives with 1-3 splits, capping the Arrow kernel at that
    width) but must pass a wide input through untouched — at 100 TB the
    scan has thousands of splits and an unconditional repartition would
    shuffle the full text for nothing."""
    from docling_ocr_qwen3vl_spark.operators.partitioning import spread_for_kernel

    width = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert narrow.rdd.getNumPartitions() < width
    assert spread_for_kernel(narrow).rdd.getNumPartitions() == width
    wide = spark.range(100).repartition(width * 2)
    assert spread_for_kernel(wide) is wide  # untouched, no extra plan node
    # a streaming frame passes through (no RDD conversion exists for it)
    stream = spark.readStream.format("rate").load()
    assert spread_for_kernel(stream) is stream
