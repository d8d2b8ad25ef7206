"""S6: per-partition checkpointed lineage + resume (north_rule requirement).

The reference records only wall-clock per stage (TimeRecorder, model.py:67)
and per-page confidence scores; at 10^12-document scale a killed run must
resume without re-inferencing completed work, so this engine adds what the
reference lacks: a LINEAGE TABLE of committed doc_id ranges + metrics,
appended atomically after each partition-group commits, and an anti-join
resume filter.

Protocol (SURVEY.md §2.1 S6, §7 step 8):

  lineage(run_id, partition_id, doc_id_min, doc_id_max, n_docs, n_spans,
          wall_ms, committed_at)

  * the driver splits the input doc_id domain into hash groups
    (``pmod(xxhash64(doc_id), n_groups)``), processes one group at a time,
    and appends the group's output AND its lineage row only after the
    output write succeeds (write output first, lineage last -> a crash
    between the two re-processes one group: idempotent because the output
    write for a group is a deterministic overwrite of that group's
    partition directory).
  * resume = left-anti join of the input against committed groups of the
    SAME logical run — the lineage side is tiny (one row per group), so it
    broadcasts; no shuffle of the input.
  * speculative/retried TASKS never write lineage — only the driver does,
    after a group's Spark job completes (SURVEY.md §7 hard part (d)).

In production both tables are Iceberg (atomic snapshot appends); the
sandbox uses parquet directories with one subdirectory per group, which has
the same overwrite-idempotency property.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_COLUMNS = (
    "run_id",
    "partition_id",
    "doc_id_min",
    "doc_id_max",
    "n_docs",
    "n_spans",
    "wall_ms",
    "committed_at",
)


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
    if not os.path.isdir(lineage_path):
        return None
    try:
        lineage = spark.read.parquet(lineage_path)
    except Exception:
        return None
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


def run_checkpointed_extract(
    spark: SparkSession,
    sf_dir: str,
    run: CheckpointedRun,
    documents: DataFrame | None = None,
    fail_after_group: int | None = None,
    max_groups: int | None = None,
    config=None,
) -> int:
    """Process the corpus group-by-group with lineage commits.

    Returns the number of groups processed in THIS invocation.
    ``fail_after_group`` injects a crash (for the resume test);
    ``max_groups`` bounds this invocation (the async job surface advances
    a run incrementally with it — see plans/jobs.py); ``config``
    (ExtractConfig) selects the decode backend and its knobs — this is the
    path a spark-submit GPU deployment configures itself through
    (scripts/run_extract.py flags -> ExtractConfig -> worker decoder).
    """
    from ..plans.pipeline import extract_spans
    from ..sources.tables import load_table

    if documents is None:
        documents = load_table(spark, sf_dir, "documents")

    done = completed_groups(spark, run)
    processed = 0
    for group in range(run.n_groups):
        if group in done:
            continue
        t0 = time.time()
        group_docs = documents.filter(group_col(run.n_groups) == group)
        spans = extract_spans(spark, sf_dir, documents=group_docs, config=config)
        # output first (deterministic per-group dir -> overwrite idempotent);
        # the stats ride on the write as observed metrics, so neither the
        # plan nor the written parquet is read a second time.  (doc_id,
        # offset) is unique (row_number), so count(*) is the span count and
        # the offset-0 rows are the documents.
        observed = Observation()
        group_path = os.path.join(run.out_path, f"group={group}")
        spans.observe(
            observed,
            F.count(F.lit(1)).alias("n_spans"),
            F.count_if(F.col("offset") == 0).alias("n_docs"),
            F.min(F.col("doc_id").cast("long")).alias("dmin"),
            F.max(F.col("doc_id").cast("long")).alias("dmax"),
        ).write.mode("overwrite").parquet(group_path)
        stats = observed.get
        # lineage LAST, from the driver only
        spark.createDataFrame(
            [
                (
                    run.run_id,
                    group,
                    str(stats["dmin"]),
                    str(stats["dmax"]),
                    int(stats["n_docs"]),
                    int(stats["n_spans"]),
                    int((time.time() - t0) * 1000),
                    time.strftime("%Y-%m-%dT%H:%M:%S"),
                )
            ],
            schema="run_id string, partition_id int, doc_id_min string, "
            "doc_id_max string, n_docs long, n_spans long, wall_ms long, "
            "committed_at string",
        ).write.mode("append").parquet(run.lineage_path)
        processed += 1
        if fail_after_group is not None and group >= fail_after_group:
            raise RuntimeError(f"injected crash after group {group}")
        if max_groups is not None and processed >= max_groups:
            break
    return processed
