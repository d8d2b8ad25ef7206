"""Extra measurement harness for the optimization round (bench.py is FROZEN
for the driver's measurement; everything exploratory lives here).

Sub-commands:

  python bench_extra.py queries [names...]   noop-isolated per-query timing
                                             (same warm-then-min protocol as
                                             bench.py) + formatted plans into
                                             plans/r06/<name>_$SPARK_GRAFT_PLAN_TAG.txt
  python bench_extra.py sweep                dedup-sweep stage breakdown
                                             (signatures / pairs / components)
  python bench_extra.py ann                  ann-sweep component timings

Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "")
PLAN_DIR = os.path.join(REPO_ROOT, "plans", "r06")

BENCH_QUERIES = (
    "extract_interleaved_spans",
    "paragraph_cells",
    "html_elements",
    "dedup_exact",
    "minhash_signature",
    "minhash_fast",
    "simhash",
    "doc_stats",
    "knn_bruteforce",
    "lsh_dup_pairs",
)


def _session():
    from docling_ocr_qwen3vl_spark.plans.session import build_session

    spark = build_session(
        app_name="bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _dump_plan(name: str, df) -> None:
    if not PLAN_TAG:
        return
    os.makedirs(PLAN_DIR, exist_ok=True)
    with open(os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt"), "w") as f:
        f.write(explain_str(df))


def _ivf_knn_fast_df(spark):
    from pyspark.sql import functions as F

    from docling_ocr_qwen3vl_spark.operators.similarity import ivf_knn

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return ivf_knn(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10),
        n_probe=2, fast=True,
    )


def cmd_queries(names) -> None:
    from docling_ocr_qwen3vl_spark.queries import QUERIES

    spark = _session()
    reps = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "3"))
    sel = names or list(BENCH_QUERIES) + ["ivf_knn_fast"]
    out = {}
    for name in sel:
        sc = spark.sparkContext
        if name == "ivf_knn_fast":
            df = _ivf_knn_fast_df(spark)
        else:
            df = QUERIES[name](spark, SF_DIR)
        _dump_plan(name, df)
        sc.setJobDescription(f"{name}: warm")
        _noop(df)
        times = []
        for _ in range(reps):
            sc.setJobDescription(f"{name}: timed")
            t0 = time.time()
            _noop(df)
            times.append(round(time.time() - t0, 3))
        out[name] = {"secs": times, "min": min(times)}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps({k: v["min"] for k, v in out.items()}))
    spark.stop()


def cmd_sweep() -> None:
    """run_dedup_sweep's pairs stage, broken into measurable stages."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from docling_ocr_qwen3vl_spark.config import ExtractConfig
    from docling_ocr_qwen3vl_spark.operators.dedup import (
        dup_components,
        lsh_candidate_pairs,
        minhash_signature_fast,
    )

    spark = _session()
    sc = spark.sparkContext
    rep = int(os.environ.get("SPARK_GRAFT_DEDUP_REP", "128"))
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    corpus_dir = tempfile.mkdtemp(prefix="dedup_extra_")
    replicated = (
        docs.select("doc_id", "text")
        .crossJoin(spark.range(rep).select(F.col("id").alias("rep_id")))
        .select(
            (F.col("doc_id") * rep + F.col("rep_id")).alias("doc_id"),
            F.regexp_replace(
                F.col("text"),
                F.lit(" "),
                F.concat(F.lit(" r"), F.col("rep_id").cast("string"), F.lit(" ")),
            ).alias("text"),
        )
    )
    mutants = replicated.select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
    )
    replicated.unionByName(mutants).write.mode("overwrite").parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    n_docs = corpus.count()
    cfg = ExtractConfig(minhash_k=64, minhash_bands=8)
    stats: dict = {}
    try:
        # stage 1: signature kernel alone (slim projection, noop sink)
        sigs = minhash_signature_fast(corpus, k=cfg.minhash_k, n_bands=cfg.minhash_bands)
        sc.setJobDescription("sweep: signatures noop")
        t0 = time.time()
        _noop(sigs.select("doc_id", *[f"band{b}" for b in range(8)]))
        sig_sec = time.time() - t0

        # stage 2: full pairs stage exactly as run_dedup_sweep does it
        sc.setJobDescription("sweep: pairs")
        t0 = time.time()
        pairs = lsh_candidate_pairs(
            minhash_signature_fast(corpus, k=cfg.minhash_k, n_bands=cfg.minhash_bands)
        ).localCheckpoint(eager=True)
        n_pairs = pairs.count()
        pairs_sec = time.time() - t0

        # stage 3: components
        sc.setJobDescription("sweep: components")
        t0 = time.time()
        n_components = (
            dup_components(corpus.select("doc_id"), pairs, stats_out=stats)
            .select("component")
            .distinct()
            .count()
        )
        comp_sec = time.time() - t0
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    print("RESULT " + json.dumps({
        "n_docs": n_docs,
        "signatures_noop_sec": round(sig_sec, 2),
        "pairs_stage_sec": round(pairs_sec, 2),
        "n_pairs": n_pairs,
        "components_sec": round(comp_sec, 2),
        "rounds": stats.get("rounds"),
    }))
    spark.stop()


def cmd_ann() -> None:
    """ann-sweep component timings at reduced rep for iteration speed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bench import hash_perturbed
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        N_IVF_CELLS,
        ivf_knn,
        pq_adc_topk,
        pq_encode,
    )

    spark = _session()
    rep = int(os.environ.get("SPARK_GRAFT_ANN_REP", "128"))
    n_queries = 256
    k = 10
    base = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    dim = len(base.select("embedding").first()[0])
    corpus_dir = tempfile.mkdtemp(prefix="ann_extra_")
    try:
        replicated = base.crossJoin(
            spark.range(rep).select(F.col("id").alias("rep_id"))
        ).repartition(CPUS)
        hash_perturbed(
            replicated,
            (F.col("vec_id") * rep + F.col("rep_id")).cast("long"),
            eps=0.01,
        ).write.mode("overwrite").parquet(corpus_dir)
        corpus = spark.read.parquet(corpus_dir)
        n_vectors = corpus.count()
        queries = hash_perturbed(
            base.filter(F.col("vec_id") < n_queries),
            (F.col("vec_id") * rep + F.lit(rep) + F.lit(10_000_000_000)).cast("long"),
            eps=0.30,
        ).localCheckpoint(eager=True)
        queries.count()
        res = {"n_vectors": n_vectors}

        def timed(label, fn, n=2):
            best = None
            for _ in range(n):
                t0 = time.time()
                fn()
                sec = time.time() - t0
                best = sec if best is None else min(best, sec)
            res[label] = round(best, 2)
            print(json.dumps({label: res[label]}), flush=True)

        timed("ivf_probe2_sec", lambda: ivf_knn(
            corpus, queries, k=k, n_probe=2, fast=True
        ).localCheckpoint(eager=True).count())
        timed("exhaustive_sec", lambda: ivf_knn(
            corpus, queries, k=k, n_probe=N_IVF_CELLS, fast=True
        ).localCheckpoint(eager=True).count())
        timed("pq_encode_sec", lambda: _noop(
            pq_encode(corpus, dim=dim, fast=True)
        ))
        timed("pq_adc_sec", lambda: pq_adc_topk(
            corpus, queries, k=k, dim=dim, fast_scan=True
        ).localCheckpoint(eager=True).count())
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    print("RESULT " + json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "sweep":
        cmd_sweep()
    elif cmd == "ann":
        cmd_ann()
    else:
        raise SystemExit(f"unknown sub-command {cmd}")
