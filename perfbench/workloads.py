"""The four benchmark workloads.

Each workload writes its seeded input to parquet in ``prepare`` (before any
timing), then runs passes through the package's public functions.  A pass
returns its wall time plus what the untimed ``check`` needs; ``check``
returns the values that must match the oracle or the reference pass.
``trace`` runs the traced sweep and returns the workload's per-layer
metrics (``helpers.rollup_event_log`` supplies the event-log side).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
from time import perf_counter

import duckdb
import pyarrow.parquet as pq

import corpus
from helpers import self_times, sql_sum

MB = 1024 * 1024
SEP = "\x1f"
PYTHON_RUN = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"

# every per-layer metric a traced run reports; a layer the workload never
# calls reads 0 (BENCHMARK.json lists the same names)
LAYER_METRICS = {
    "sources.synthetic.self_s": "s",
    "sources.synthetic.pages_out": "count",
    "sources.synthetic.shuffle_write_mb": "MB",
    "operators.page_decode.self_s": "s",
    "operators.page_decode.elements_out": "count",
    "operators.page_decode.python_run_s": "s",
    "operators.page_decode.python_sent_mb": "MB",
    "operators.page_decode.python_returned_mb": "MB",
    "operators.page_decode.tasks": "count",
    "operators.spans.self_s": "s",
    "operators.spans.spans_out": "count",
    "operators.spans.shuffle_read_mb": "MB",
    "plans.checkpoint.self_s": "s",
    "plans.checkpoint.spark_jobs": "count",
    "plans.checkpoint.input_scans": "count",
    "plans.checkpoint.output_mb": "MB",
    "operators.dedup.signature_s": "s",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.rounds": "count",
    "operators.dedup.pairs_out": "count",
    "operators.dedup.components_out": "count",
    "operators.dedup.kernel_runs": "ratio",
    "operators.dedup.python_run_s": "s",
    "operators.dedup.shuffle_mb": "MB",
    "operators.dedup.cache_peak_mb": "MB",
    "streaming.incremental_dedup.add_batch_s": "s",
    "streaming.incremental_dedup.rows_in": "count",
    "streaming.incremental_dedup.survivors_out": "count",
    "streaming.incremental_dedup.store_dirs": "count",
    "streaming.incremental_dedup.store_mb": "MB",
    "streaming.incremental_dedup.spark_jobs_per_batch": "count",
    "plans.session.build_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed_noop(df, *aggs) -> list:
    """Run ``df`` into the noop sink with ``aggs`` observed on the way:
    the values come back without a second job."""
    from pyspark.sql import Observation

    obs = Observation()
    _noop(df.observe(obs, *aggs))
    return list(obs.get.values())


def _span_hash_aggs():
    """count + two 32-bit md5 slices summed: an order-insensitive value
    hash of (doc_id, offset, kind, text, media_ref), computed identically
    by ``_DUCK_SPAN_HASH``."""
    from pyspark.sql import functions as F

    row = F.md5(
        F.concat_ws(
            SEP, "doc_id", F.col("offset").cast("string"), "kind", "text", "media_ref"
        )
    )
    part = lambda i: F.conv(F.substring(row, i, 8), 16, 10).cast("long")  # noqa: E731
    return F.count(F.lit(1)), F.sum(part(1)), F.sum(part(9))


_DUCK_SPAN_HASH = f"""
SELECT count(*), sum(('0x' || substr(m, 1, 8))::BIGINT),
       sum(('0x' || substr(m, 9, 8))::BIGINT)
FROM (SELECT md5(concat_ws(chr({ord(SEP)}), doc_id, CAST("offset" AS VARCHAR),
                           kind, text, media_ref)) AS m
      FROM ({{source}}))
"""


def _duck(sql: str, threads: int) -> tuple:
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        return tuple(int(v) for v in con.execute(sql).fetchone())
    finally:
        con.close()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    n_docs = 0
    n_pages = 0

    def __init__(self, seed: int, work_dir: str, nproc: int):
        self.seed = seed
        self.work = work_dir
        self.nproc = nproc
        self.input_dir = os.path.join(work_dir, "input")
        # set-up runs the same plan on a small input of its own
        self.warm_dir = os.path.join(work_dir, "warm")

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tag: str, src: str | None = None) -> dict:
        """One pass over ``src`` (default: the workload input)."""
        raise NotImplementedError

    def check(self, spark, result: dict) -> tuple:
        """Untimed: the pass's output summary, compared with ``expected``."""
        raise NotImplementedError

    def plausible(self, summary: tuple) -> bool:
        """A sanity floor on a summary that has no oracle to match."""
        return True

    expected: tuple | None = None  # oracle values; None = the warm-up's


# ---------------------------------------------------------------- extraction


class Extract(Workload):
    """``extract_spans`` into the noop sink: the flagship plan."""

    name = "extract"
    docs = 20_000
    groups = 8  # hash groups of the checkpointed run

    def prepare(self) -> None:
        table = corpus.extract_documents(self.seed, self.docs)
        corpus.write_parquet(table, self.input_dir, self.nproc)
        corpus.write_parquet(table.slice(0, self.docs // 8), self.warm_dir, self.nproc)
        self.n_docs = table.num_rows
        ids = table.column("doc_id").to_numpy()
        self.n_pages = int((ids % 3 + 1).sum())
        self.expected = self.oracle()

    def oracle(self) -> tuple:
        """The DuckDB ``extract_interleaved_spans`` oracle on the same
        corpus, reduced to the span hash."""
        from docling_ocr_qwen3vl_spark.oracles import ORACLES

        src = ORACLES["extract_interleaved_spans"]
        docs = f"read_parquet('{self.input_dir}/*.parquet')"
        sql = _DUCK_SPAN_HASH.format(source=src.replace("FROM documents", f"FROM {docs}"))
        return _duck(sql, self.nproc)

    def run_pass(self, spark, tag: str, src: str | None = None) -> dict:
        from docling_ocr_qwen3vl_spark.plans.pipeline import extract_spans

        src = src or self.input_dir
        t0 = perf_counter()
        docs = spark.read.parquet(src)
        spans = extract_spans(spark, src, documents=docs)
        observed = _observed_noop(spans, *_span_hash_aggs())
        return {"seconds": perf_counter() - t0, "hash": tuple(observed)}

    def check(self, spark, result: dict) -> tuple:
        return result["hash"]

    def prefixes(self, spark):
        """(layer, plan) cumulative prefixes of the flagship plan."""
        from docling_ocr_qwen3vl_spark.operators.page_decode import decode_pages
        from docling_ocr_qwen3vl_spark.operators.spans import number_spans
        from docling_ocr_qwen3vl_spark.sources.synthetic import synth_raw_pages

        docs = spark.read.parquet(self.input_dir)
        raw = synth_raw_pages(spark, self.input_dir, documents=docs)
        decoded = decode_pages(raw)
        return [
            ("sources.synthetic", raw),
            ("operators.page_decode", decoded),
            ("operators.spans", number_spans(decoded)),
        ]

    def trace_extraction(self, spark, tracer, reps: int) -> tuple[dict, dict, list]:
        """Cumulative noop prefixes synth -> decode -> spans, then the timed
        pass itself, ``reps`` times interleaved.  Returns (per-layer
        metrics, {layer: [prefix seconds]}, traced timed-pass seconds)."""
        from pyspark.sql import functions as F

        times: dict[str, list] = {}
        counts: dict[str, int] = {}
        full = []
        for rep in range(reps):
            for layer, df in self.prefixes(spark):
                with tracer.span(f"{layer} prefix #{rep}", group=f"{layer}#{rep}"):
                    t0 = perf_counter()
                    (n,) = _observed_noop(df, F.count(F.lit(1)))
                    times.setdefault(layer, []).append(perf_counter() - t0)
                counts[layer] = n
            with tracer.span(f"{self.name} pass #{rep}", group=f"{self.name}#{rep}"):
                # the noop pass, also when extract_commit times another one
                result = Extract.run_pass(self, spark, f"trace{rep}")
            full.append(result["seconds"])
            if result["hash"] != self.expected:
                raise RuntimeError("traced extraction pass failed its check")
        cum = [(k, statistics.median(v)) for k, v in times.items()]
        own = self_times(cum)
        ev = tracer.rollup
        synth, decode, spans = (ev(f"{k}#0") for k, _ in cum)
        m = {
            "sources.synthetic.self_s": own["sources.synthetic"],
            "sources.synthetic.pages_out": counts["sources.synthetic"],
            "sources.synthetic.shuffle_write_mb": synth["shuffle_write_b"] / MB,
            "operators.page_decode.self_s": own["operators.page_decode"],
            "operators.page_decode.elements_out": counts["operators.page_decode"],
            "operators.page_decode.python_run_s": sql_sum(decode, "", PYTHON_RUN),
            "operators.page_decode.python_sent_mb": sql_sum(decode, "", PYTHON_SENT) / MB,
            "operators.page_decode.python_returned_mb": sql_sum(decode, "", PYTHON_RETURNED) / MB,
            # tasks that ran a Python worker: one Arrow round trip each
            "operators.page_decode.tasks": decode["metric_tasks"].get(PYTHON_RUN, 0),
            "operators.spans.self_s": own["operators.spans"],
            "operators.spans.spans_out": counts["operators.spans"],
            "operators.spans.shuffle_read_mb": (
                spans["shuffle_read_b"] - decode["shuffle_read_b"]
            ) / MB,
        }
        return m, times, full

    def trace(self, spark, tracer, reps: int) -> tuple[dict, list]:
        """(per-layer metrics, traced pass seconds).  The checkpoint layer
        is traced here too, over the same input: ``extract`` is the noop
        pass its self time is measured against."""
        m, times, full = self.trace_extraction(spark, tracer, reps)
        # one checkpointed run: it costs ~10 noop passes
        self.trace_checkpoint(spark, tracer, 1, m, times)
        return m, full

    def commit_pass(self, spark, tag: str, src: str | None = None) -> dict:
        """One ``run_checkpointed_extract`` over ``src``: per-group parquet
        output + lineage, the ``scripts/run_extract.py`` path."""
        from docling_ocr_qwen3vl_spark.plans.checkpoint import (
            CheckpointedRun,
            run_checkpointed_extract,
        )

        base = os.path.join(self.work, f"commit-{tag}")
        run = CheckpointedRun(
            run_id=f"bench-{tag}",
            out_path=os.path.join(base, "spans"),
            lineage_path=os.path.join(base, "lineage"),
            n_groups=self.groups,
        )
        src = src or self.input_dir
        t0 = perf_counter()
        docs = spark.read.parquet(src)
        processed = run_checkpointed_extract(spark, src, run, documents=docs)
        return {"seconds": perf_counter() - t0, "base": base, "run": run,
                "processed": processed}

    def check_commit(self, spark, result: dict) -> tuple:
        """The span hash of the committed parquet, read back by DuckDB, plus
        the lineage's group count and span total (which must equal the
        hash's row count)."""
        run = result["run"]
        try:
            got = _duck(
                _DUCK_SPAN_HASH.format(
                    source=f"SELECT * FROM read_parquet('{run.out_path}/*/*.parquet')"
                ),
                self.nproc,
            )
            lineage = pq.read_table(run.lineage_path).to_pydict()
            ok = (
                result["processed"] == self.groups
                and sorted(lineage["partition_id"]) == list(range(self.groups))
                and sum(lineage["n_spans"]) == got[0]
            )
            return got if ok else ("lineage mismatch",) + got
        finally:
            shutil.rmtree(result["base"], ignore_errors=True)

    def trace_checkpoint(self, spark, tracer, reps: int, m: dict, times: dict) -> list:
        """``reps`` checked checkpointed runs under job groups; adds the
        ``plans.checkpoint`` metrics to ``m`` and returns the run seconds."""
        commits = []
        for rep in range(reps):
            with tracer.span(f"plans.checkpoint run #{rep}", group=f"plans.checkpoint#{rep}"):
                result = self.commit_pass(spark, f"trace{rep}")
            commits.append(result["seconds"])
            if self.check_commit(spark, result) != self.expected:
                raise RuntimeError("traced checkpointed run failed its check")
        ck = tracer.rollup("plans.checkpoint#0")
        scans = [s for s in ck["scans"] if os.path.basename(self.input_dir) in s]
        m.update({
            # the checkpointed run minus a noop pass over the same input
            "plans.checkpoint.self_s": statistics.median(commits)
            - statistics.median(times["operators.spans"]),
            "plans.checkpoint.spark_jobs": ck["jobs"],
            "plans.checkpoint.input_scans": len(scans),
            "plans.checkpoint.output_mb": ck["output_b"] / MB,
        })
        return commits


class ExtractCommit(Extract):
    """``run_checkpointed_extract`` as the timed pass."""

    name = "extract_commit"
    docs = 16_000

    run_pass = Extract.commit_pass
    check = Extract.check_commit

    def trace(self, spark, tracer, reps: int) -> tuple[dict, list]:
        m, times, _ = self.trace_extraction(spark, tracer, reps)
        return m, self.trace_checkpoint(spark, tracer, reps, m, times)


# --------------------------------------------------------------------- dedup

KERNEL_ROWS = "number of output rows"
DEDUP_K, DEDUP_BANDS = 64, 8
MIN_RECALL = 0.95  # planted near-dups caught, below which a pass fails


def _dedup_counts(spark, comps) -> tuple:
    """(components, mutant survivors, planted pairs caught) of a labels
    frame (doc_id, component); one representative survives per component."""
    from pyspark.sql import functions as F

    base = corpus.MUTANT_ID_BASE
    doc, comp = F.col("doc_id"), F.col("component")
    n_comps, n_mut = comps.agg(
        F.countDistinct(comp),
        F.sum(F.when((doc == comp) & (doc >= base), 1).otherwise(0)),
    ).first()
    orig = comps.filter(doc < base).select(doc.alias("o"), comp.alias("co"))
    mut = comps.filter(doc >= base).select((doc - base).alias("o"), comp.alias("cm"))
    (caught,) = orig.join(mut, "o").agg(
        F.sum(F.when(F.col("co") == F.col("cm"), 1).otherwise(0))
    ).first()
    return int(n_comps), int(n_mut or 0), int(caught or 0)


class Dedup(Workload):
    """fast MinHash -> melted LSH self-join -> connected components."""

    name = "dedup"
    originals = 5_000

    def prepare(self) -> None:
        table = corpus.dedup_documents(self.seed, self.originals)
        corpus.write_parquet(table, self.input_dir, self.nproc)
        small = corpus.dedup_documents(self.seed, self.originals // 8)
        corpus.write_parquet(small, self.warm_dir, self.nproc)
        self.n_docs = table.num_rows
        self.n_pages = self.n_docs  # each document is one text page

    def stages(self, spark, stats: dict, src: str | None = None):
        from docling_ocr_qwen3vl_spark.operators.dedup import (
            dup_components,
            lsh_candidate_pairs,
            minhash_signature_fast,
        )
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        docs = spark.read.parquet(src or self.input_dir)
        sigs = minhash_signature_fast(docs, k=DEDUP_K, n_bands=DEDUP_BANDS)
        obs = Observation()
        pairs = lsh_candidate_pairs(sigs).observe(obs, F.count(F.lit(1)))

        def components():
            return dup_components(docs.select("doc_id"), pairs, stats_out=stats)

        return sigs, pairs, obs, components

    def run_pass(self, spark, tag: str, src: str | None = None, cache_probe=None) -> dict:
        from docling_ocr_qwen3vl_spark.operators.caching import scoped_caches

        stats: dict = {}
        t0 = perf_counter()
        with scoped_caches():
            _, _, obs, components = self.stages(spark, stats, src)
            comps = components()
            seconds = perf_counter() - t0
            if cache_probe is not None:
                cache_probe()
        (n_pairs,) = obs.get.values()
        return {"seconds": seconds, "comps": comps, "pairs": int(n_pairs),
                "rounds": stats.get("rounds")}

    def check(self, spark, result: dict) -> tuple:
        return (result["pairs"], result["rounds"]) + _dedup_counts(
            spark, result["comps"]
        )

    def recall(self, summary: tuple) -> float:
        return summary[-1] / self.originals

    def plausible(self, summary: tuple) -> bool:
        return self.recall(summary) >= MIN_RECALL

    def trace(self, spark, tracer, reps: int) -> tuple[dict, list]:
        """(per-layer metrics, traced pass seconds).  The streaming layer is
        traced here too, on micro-batch files from the same seed."""
        m, full = self.trace_batch(spark, tracer, reps)
        stream = StreamDedup(self.seed, os.path.join(self.work, "stream"), self.nproc)
        stream.prepare()
        streamed, _ = stream.trace(spark, tracer, reps)
        m.update({k: v for k, v in streamed.items() if k.startswith("streaming.")})
        return m, full

    def trace_batch(self, spark, tracer, reps: int) -> tuple[dict, list]:
        """Cumulative noop prefixes signature -> pairs, then the full pass
        (components), ``reps`` times interleaved."""
        from docling_ocr_qwen3vl_spark.operators.caching import scoped_caches

        times: dict[str, list] = {}
        full = []
        for rep in range(reps):
            for layer in ("signature", "pairs"):
                with scoped_caches(), tracer.span(
                    f"operators.dedup.{layer} prefix #{rep}",
                    group=f"operators.dedup.{layer}#{rep}",
                ):
                    t0 = perf_counter()
                    sigs, pairs, _, _ = self.stages(spark, {})
                    _noop(sigs if layer == "signature" else pairs)
                    times.setdefault(layer, []).append(perf_counter() - t0)
            with tracer.span(f"operators.dedup pass #{rep}", group=f"operators.dedup#{rep}"):
                result = self.run_pass(spark, f"trace{rep}", cache_probe=tracer.sample_cache)
            full.append(result["seconds"])
            summary = self.check(spark, result)
            if summary != self.expected:
                raise RuntimeError("traced dedup pass failed its check")
        cum = [(k, statistics.median(v)) for k, v in times.items()]
        cum.append(("components", statistics.median(full)))
        own = self_times(cum)
        g = tracer.rollup("operators.dedup#0")
        m = {
            "operators.dedup.signature_s": own["signature"],
            "operators.dedup.pairs_s": own["pairs"],
            "operators.dedup.components_s": own["components"],
            "operators.dedup.rounds": summary[1],
            "operators.dedup.pairs_out": summary[0],
            "operators.dedup.components_out": summary[2],
            "operators.dedup.kernel_runs": sql_sum(g, "ArrowEvalPython", KERNEL_ROWS)
            / self.n_docs,
            "operators.dedup.python_run_s": sql_sum(g, "", PYTHON_RUN),
            "operators.dedup.shuffle_mb": g["shuffle_write_b"] / MB,
            "operators.dedup.cache_peak_mb": tracer.cache_peak / MB,
        }
        return m, full


class StreamDedup(Dedup):
    """``start_incremental_dedup_stream``, availableNow, one file per
    trigger, store compaction every 2 batches."""

    name = "stream_dedup"
    batches = 4
    per_batch = 2_500
    compact_every = 2

    def _write_batches(self, path: str, n_batches: int, per_batch: int) -> int:
        os.makedirs(path, exist_ok=True)
        rows = 0
        for b, table in enumerate(corpus.stream_batches(self.seed, n_batches, per_batch)):
            name = os.path.join(path, f"b{b:03d}.parquet")
            pq.write_table(table, name)
            # the file source orders its first listing by mtime: pin it
            os.utime(name, (1_700_000_000 + b, 1_700_000_000 + b))
            rows += table.num_rows
        return rows

    def prepare(self) -> None:
        self.n_docs = self._write_batches(self.input_dir, self.batches, self.per_batch)
        self._write_batches(self.warm_dir, 2, self.per_batch // 8)
        self.n_pages = self.n_docs
        self.originals = self.batches * self.per_batch
        self.planted = (self.batches - 1) * self.per_batch

    def run_pass(self, spark, tag: str, src: str | None = None, cache_probe=None) -> dict:
        from docling_ocr_qwen3vl_spark.config import ExtractConfig
        from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
            start_incremental_dedup_stream,
        )

        base = os.path.join(self.work, f"stream-{tag}")
        dirs = {k: os.path.join(base, k) for k in ("out", "store", "ckpt")}
        t0 = perf_counter()
        query = start_incremental_dedup_stream(
            spark,
            input_dir=src or self.input_dir,
            survivors_dir=dirs["out"],
            store_dir=dirs["store"],
            checkpoint_dir=dirs["ckpt"],
            config=ExtractConfig(minhash_k=DEDUP_K, minhash_bands=DEDUP_BANDS),
            max_files_per_trigger=1,
            compact_every=self.compact_every,
        )
        if not query.awaitTermination(150):
            query.stop()
            raise RuntimeError("streaming dedup pass did not finish in 150 s")
        seconds = perf_counter() - t0
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return {
            "seconds": seconds,
            "base": base,
            "dirs": dirs,
            "run_id": str(query.runId),
            "batch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            "add_batch_s": [p["durationMs"]["addBatch"] / 1e3 for p in progress],
            "rows_in": sum(p["numInputRows"] for p in progress),
        }

    def check(self, spark, result: dict) -> tuple:
        """(batches, rows in, survivors, mutant survivors, store dirs)."""
        try:
            survivors = pq.read_table(result["dirs"]["out"], columns=["doc_id"])
            ids = survivors.column("doc_id").to_numpy()
            store = result["dirs"]["store"]
            result["store_b"] = _dir_bytes(store)
            return (
                len(result["batch_s"]),
                result["rows_in"],
                len(ids),
                int((ids >= corpus.MUTANT_ID_BASE).sum()),
                len(glob.glob(os.path.join(store, "batch_id=*"))),
            )
        finally:
            shutil.rmtree(result["base"], ignore_errors=True)

    def recall(self, summary: tuple) -> float:
        return 1 - summary[3] / self.planted

    def trace(self, spark, tracer, reps: int) -> tuple[dict, list]:
        full, results = [], []
        for rep in range(reps):
            with tracer.span(f"streaming.incremental_dedup pass #{rep}"):
                result = self.run_pass(spark, f"trace{rep}")
            full.append(result["seconds"])
            summary = self.check(spark, result)
            if self.expected is None:
                self.expected = summary
            if summary != self.expected:
                raise RuntimeError("traced streaming pass failed its check")
            results.append(result)
        # the stream runs every micro-batch under its own job group: its runId
        g = tracer.rollup(results[0]["run_id"])
        n_batches, rows_in, n_surv, _, store_dirs = summary
        m = {
            "operators.dedup.kernel_runs": sql_sum(g, "ArrowEvalPython", KERNEL_ROWS)
            / rows_in,
            "operators.dedup.python_run_s": sql_sum(g, "", PYTHON_RUN),
            "operators.dedup.shuffle_mb": g["shuffle_write_b"] / MB,
            "operators.dedup.cache_peak_mb": tracer.cache_peak / MB,
            # the last pass's: the first streaming query of a session is cold
            "streaming.incremental_dedup.add_batch_s": statistics.median(
                results[-1]["add_batch_s"]
            ),
            "streaming.incremental_dedup.rows_in": rows_in,
            "streaming.incremental_dedup.survivors_out": n_surv,
            "streaming.incremental_dedup.store_dirs": store_dirs,
            "streaming.incremental_dedup.store_mb": results[-1]["store_b"] / MB,
            "streaming.incremental_dedup.spark_jobs_per_batch": g["jobs"] / n_batches,
        }
        return m, full


WORKLOADS = {w.name: w for w in (Extract, ExtractCommit, Dedup, StreamDedup)}
