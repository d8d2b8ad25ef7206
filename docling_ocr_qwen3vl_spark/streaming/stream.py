"""Structured-Streaming surface for incremental extraction.

The reference is strictly batch (page-at-a-time generators; SURVEY.md §2.5
"streaming ops: none"), and the north-rule asks for RESUMABLE BATCH, which
``plans/checkpoint.py`` provides.  This module is the additive streaming
surface a continuously-fed corpus needs: new document files land in a
directory (or Kafka topic on a real cluster), and each micro-batch runs the
IDENTICAL batch pipeline via ``foreachBatch`` — one code path, two
execution modes, exactly-once via Spark's own streaming checkpoint.

``foreachBatch`` (not a streaming-native plan) is deliberate: the decode
stage is a mapInPandas whose per-page work is stateless, so there is no
watermark/stateful-operator requirement — the batch plan IS the streaming
plan, and reusing it keeps span semantics bit-identical between modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.pipeline import extract_spans

DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

EMBEDDINGS_STREAM_SCHEMA = "vec_id bigint, embedding array<float>"


def _stream_parquet(
    spark: SparkSession, schema: str, input_dir: str, max_files_per_trigger: int
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def start_foreach_batch_stream(
    source: DataFrame,
    process_batch,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The ONE exactly-once wiring every streaming surface shares:
    foreachBatch over ``source`` with Spark's streaming checkpoint;
    ``process_batch(batch_df, batch_id)`` owns the idempotent sink (see
    write_batch_idempotent).  Shared so the trigger/checkpoint contract
    cannot drift between the document, interleaved, and dedup streams."""
    writer = source.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_documents(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of document parquet drops."""
    return _stream_parquet(spark, DOCUMENTS_SCHEMA, input_dir, max_files_per_trigger)


def stream_embeddings(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of embedding parquet drops (vec_id, embedding)."""
    return _stream_parquet(
        spark, EMBEDDINGS_STREAM_SCHEMA, input_dir, max_files_per_trigger
    )


def write_batch_idempotent(spans: DataFrame, output_dir: str, batch_id: int) -> None:
    """Idempotent micro-batch sink: each batch owns the partition directory
    ``batch_id=<id>`` and OVERWRITES it.

    ``foreachBatch`` alone is only at-least-once — a batch that fails after
    a partial/complete write is retried with the SAME batch_id, and a blind
    ``mode('append')`` would duplicate its rows.  Overwriting the batch's
    own deterministic directory makes the retry a no-op-equivalent, which
    upgrades the sink to exactly-once (same argument as a wave's dynamic
    ``group=N`` overwrite in ``plans/checkpoint.py``).  In production the
    sink is an Iceberg ``overwritePartitions`` on the same key."""
    spans.write.mode("overwrite").parquet(
        os.path.join(output_dir, f"batch_id={batch_id}")
    )


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental extraction: each micro-batch of newly-arrived documents
    runs the batch span pipeline; exactly-once end-to-end via Spark's
    streaming checkpoint (replay) + the idempotent per-batch-partition
    overwrite sink (dedupe on retry)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = extract_spans(spark, sf_dir="", documents=batch_df)
        write_batch_idempotent(spans, output_dir, batch_id)

    return start_foreach_batch_stream(
        stream_documents(spark, input_dir), process_batch, checkpoint_dir,
        available_now,
    )


INTERLEAVED_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def stream_interleaved(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of the input_hint's canonical table shape:
    (doc_id, spans[]) interleaved text+media documents."""
    return _stream_parquet(spark, INTERLEAVED_SCHEMA, input_dir, max_files_per_trigger)


def start_interleaved_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental extraction over the interleaved INPUT shape (the
    north-rule input_hint): each micro-batch of newly-arrived
    (doc_id, spans[]) documents runs the same batch plan
    ``extract_spans_from_interleaved`` uses — media spans keep their
    pre-resolved identities, raw payload spans decode — with the identical
    exactly-once contract as start_extraction_stream."""
    from ..plans.pipeline import extract_spans_from_interleaved

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = extract_spans_from_interleaved(spark, batch_df)
        write_batch_idempotent(spans, output_dir, batch_id)

    return start_foreach_batch_stream(
        stream_interleaved(spark, input_dir), process_batch, checkpoint_dir,
        available_now,
    )
