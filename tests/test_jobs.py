"""S4 async job surface: submit -> poll(pending) -> advance -> poll(started)
-> ... -> poll(success), with status visible from a reloaded handle and the
result equal to the one-shot extraction."""

from docling_ocr_qwen3vl_spark.plans.jobs import (
    PENDING,
    STARTED,
    SUCCESS,
    advance_job,
    load_job,
    poll_job,
    submit_job,
)
from docling_ocr_qwen3vl_spark.plans.pipeline import extract_spans


def test_submit_advance_poll_lifecycle(spark, sf_dir, tmp_path):
    job = submit_job(sf_dir, str(tmp_path), n_groups=4)
    assert poll_job(spark, job)["task_status"] == PENDING

    assert advance_job(spark, job, max_groups=1) == 1
    st = poll_job(spark, job)
    assert st["task_status"] == STARTED
    assert st["groups_done"] == 1 and st["result_path"] is None

    # another "frontend" session reloads the handle by task_id and sees
    # the same status (lineage is the shared source of truth)
    reloaded = load_job(str(tmp_path), job.task_id)
    assert poll_job(spark, reloaded)["groups_done"] == 1

    assert advance_job(spark, reloaded, max_groups=3) == 3
    st = poll_job(spark, job)
    assert st["task_status"] == SUCCESS
    assert st["groups_done"] == 4 and st["result_path"]

    # advancing a finished job is a no-op (idempotent)
    assert advance_job(spark, job) == 0

    got = sorted(
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in spark.read.parquet(st["result_path"]).collect()
    )
    want = sorted(
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in extract_spans(spark, sf_dir).collect()
    )
    assert got == want


def test_job_honours_its_extract_config(spark, sf_dir, tmp_path):
    """The job spec carries its ExtractConfig: a job submitted with
    ``do_tables=False`` and advanced from a reloaded handle writes no span
    of a table page, while the default extraction has some."""
    from pyspark.sql import functions as F

    from docling_ocr_qwen3vl_spark import ExtractConfig

    def table_spans(df):
        # media://{doc}/{page}/{seq}: a table page is the kind-cycle's 4th
        # slot, (doc_id + page_no) % 4 == 3 (sources/synthetic.py)
        parts = F.split(F.col("media_ref"), "/")
        page_kind = (parts[2].cast("long") + parts[3].cast("long")) % 4
        return df.filter((F.col("kind") == "media_ref") & (page_kind == 3)).count()

    job = submit_job(sf_dir, str(tmp_path), n_groups=2,
                     config=ExtractConfig(do_tables=False))
    reloaded = load_job(str(tmp_path), job.task_id)
    assert reloaded.config == ExtractConfig(do_tables=False)
    assert advance_job(spark, reloaded, max_groups=2) == 2
    written = spark.read.parquet(poll_job(spark, job)["result_path"])
    assert written.count() > 0 and table_spans(written) == 0
    assert table_spans(extract_spans(spark, sf_dir)) > 0
