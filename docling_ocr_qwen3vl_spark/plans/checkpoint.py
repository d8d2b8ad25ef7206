"""S6: checkpointed lineage + resume (north_rule requirement).

The reference records only wall-clock per stage (TimeRecorder, model.py:67)
and per-page confidence scores; at 10^12-document scale a killed run must
resume without re-inferencing completed work, so this engine adds what the
reference lacks: a LINEAGE TABLE of committed doc_id ranges + metrics,
appended after each wave of groups commits, and a filter resume.

Protocol (SURVEY.md §2.1 S6, §7 step 8):

  lineage(run_id, partition_id, doc_id_min, doc_id_max, n_docs, n_spans,
          wall_ms, committed_at)

  * the driver splits the input doc_id domain into hash groups
    (``group_col``) and processes the uncommitted ones in WAVES: one plan
    and one ``partitionBy("group")`` write with dynamic partition
    overwrite, then the wave's lineage rows in one append (output first,
    lineage last -> a crash between the two re-runs the wave: idempotent,
    as each ``group=N`` directory is a deterministic overwrite).
    ``wall_ms`` is the wave's time.  The first wave is one group; each
    later one is sized from the last one's rate to take ``WAVE_SECONDS``,
    the most work a driver kill can lose (groups of a few minutes, as
    DEPLOY.md sizes them, stay one per wave).
  * resume = a FILTER of the input on the committed groups of the SAME
    logical run (group membership is a pure hash of doc_id: no join).
  * speculative/retried TASKS never write lineage — only the driver does,
    after a wave's Spark job completes (SURVEY.md §7 hard part (d)).

In production both tables are Iceberg (one snapshot append per wave); the
sandbox uses parquet directories with one subdirectory per group, which
has the same overwrite-idempotency property.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, doc_id_min string, doc_id_max string, "
    "n_docs long, n_spans long, wall_ms long, committed_at string"
)
# target wall time of one wave: the most work a driver kill can lose
WAVE_SECONDS = 60


@dataclass
class CheckpointedRun:
    run_id: str
    out_path: str
    lineage_path: str
    n_groups: int = 8


def group_col(n_groups: int):
    """Hash-group of a doc_id: md5-derived, engine-portable (the DuckDB
    oracle computes the identical value), uniform across groups."""
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
    return F.pmod(h.cast("long"), F.lit(n_groups)).cast("int")


def read_lineage(spark: SparkSession, lineage_path: str, run_id: str) -> DataFrame | None:
    """The run's lineage rows; None before the first commit.  Existence is
    asked of the path's Hadoop FileSystem, so ``s3a://`` and ``file://``
    paths resume too; a lineage that exists but cannot be read raises."""
    path = spark._jvm.org.apache.hadoop.fs.Path(lineage_path)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return None
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    return lineage.filter(F.col("run_id") == run_id)


def completed_groups(spark: SparkSession, run: CheckpointedRun) -> dict[int, int]:
    """Committed group -> its durable ``n_spans``, from one lineage read.
    One row per ``partition_id``: front ends sharing a root may both commit
    the same group."""
    lineage = read_lineage(spark, run.lineage_path, run.run_id)
    if lineage is None:
        return {}
    rows = lineage.dropDuplicates(["partition_id"]).select("partition_id", "n_spans")
    return {r.partition_id: r.n_spans for r in rows.collect()}


def resume_filter(docs: DataFrame, done: set[int], n_groups: int) -> DataFrame:
    """Input minus committed groups.  Group membership is a pure hash of
    doc_id, so this is a FILTER (no join, no shuffle) — the cheapest
    possible resume predicate; a range-based lineage would broadcast-anti-
    join instead."""
    if not done:
        return docs
    return docs.filter(~group_col(n_groups).isin(*sorted(done)))


def _append_lineage(spark: SparkSession, run: CheckpointedRun, rows: list) -> None:
    """The lineage commit of one wave: all its rows in one append, from
    the driver only, after the wave's output write succeeded."""
    spark.createDataFrame(rows, schema=LINEAGE_SCHEMA).write.mode("append").parquet(
        run.lineage_path
    )


def run_checkpointed_extract(
    spark: SparkSession,
    sf_dir: str,
    run: CheckpointedRun,
    documents: DataFrame | None = None,
    max_groups: int | None = None,
    config=None,
) -> int:
    """Process the uncommitted groups wave by wave with lineage commits.

    Returns the number of groups processed in THIS invocation.
    ``max_groups`` bounds this invocation (the async job surface advances
    a run incrementally with it — see plans/jobs.py); ``config``
    (ExtractConfig) selects the decode backend and its knobs (the
    spark-submit path: scripts/run_extract.py flags -> worker decoder).
    A group without documents gets no ``group=N`` directory and a lineage
    row with ``n_docs = n_spans = 0`` and null ``doc_id_min/max``.
    """
    from ..plans.pipeline import extract_spans
    from ..sources.tables import load_table

    if documents is None:
        documents = load_table(spark, sf_dir, "documents")

    done = completed_groups(spark, run)
    todo = [g for g in range(run.n_groups) if g not in done][:max_groups]
    group = group_col(run.n_groups)
    start, size = 0, 1
    while start < len(todo):
        wave = todo[start : start + size]
        t0 = time.monotonic()
        spans = extract_spans(
            spark, sf_dir, documents=documents.filter(group.isin(*wave)), config=config
        ).withColumn("group", group)
        # output first: dynamic overwrite replaces exactly the wave's
        # group=N directories, so re-running a wave is idempotent.  The
        # per-group stats ride on the write as observed metrics, so
        # nothing is read back.  (doc_id, offset) is unique (row_number),
        # so count is the span count and the offset-0 rows are the docs.
        observed = Observation()
        doc_id = F.col("doc_id").cast("long")
        in_g = {g: F.col("group") == g for g in wave}
        stats = [agg for g in wave for agg in (
            F.count_if(in_g[g]).alias(f"spans{g}"),
            F.count_if(in_g[g] & (F.col("offset") == 0)).alias(f"docs{g}"),
            F.min(F.when(in_g[g], doc_id)).cast("string").alias(f"min{g}"),
            F.max(F.when(in_g[g], doc_id)).cast("string").alias(f"max{g}"),
        )]
        spans.observe(observed, *stats).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("group").parquet(run.out_path)
        seconds = time.monotonic() - t0
        got = observed.get
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%S")
        # lineage LAST, from the driver only
        _append_lineage(spark, run, [
            (run.run_id, g, got[f"min{g}"], got[f"max{g}"], got[f"docs{g}"],
             got[f"spans{g}"], int(seconds * 1000), committed_at)
            for g in wave
        ])
        start += len(wave)
        size = max(1, int(WAVE_SECONDS * len(wave) / seconds))
    return start
