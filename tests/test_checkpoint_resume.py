"""S6 resume protocol: a killed run resumes without re-processing and the
final table equals the single-shot result (north_rule requirement)."""

import os

import pytest
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark import ExtractConfig, extract
from docling_ocr_qwen3vl_spark.plans.checkpoint import (
    CheckpointedRun,
    completed_groups,
    run_checkpointed_extract,
)
from docling_ocr_qwen3vl_spark.plans.pipeline import extract_spans


def _collect_sorted(df):
    return sorted(
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref) for r in df.collect()
    )


def test_kill_and_resume_produces_identical_table(spark, sf_dir, tmp_path):
    run = CheckpointedRun(
        run_id="run-test",
        out_path=str(tmp_path / "spans"),
        lineage_path=str(tmp_path / "lineage"),
        n_groups=4,
    )

    # first attempt crashes after committing two groups
    with pytest.raises(RuntimeError, match="injected crash"):
        run_checkpointed_extract(spark, sf_dir, run, fail_after_group=1)
    done_after_crash = completed_groups(spark, run)
    assert len(done_after_crash) == 2

    # resume: only the remaining groups run
    processed = run_checkpointed_extract(spark, sf_dir, run)
    assert processed == run.n_groups - len(done_after_crash)

    # lineage: one row per group, no duplicates (no re-processing)
    lineage = spark.read.parquet(run.lineage_path)
    per_group = {r.partition_id: r for r in lineage.collect()}
    assert sorted(per_group) == list(range(run.n_groups))
    assert lineage.count() == run.n_groups
    # each lineage row's stats are those of its group's written output
    for group, row in per_group.items():
        want = (
            spark.read.parquet(os.path.join(run.out_path, f"group={group}"))
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.countDistinct("doc_id", "offset").alias("n_spans"),
                F.min(F.col("doc_id").cast("long")).alias("dmin"),
                F.max(F.col("doc_id").cast("long")).alias("dmax"),
            )
            .first()
        )
        assert want.n_spans > 0
        assert (row.n_docs, row.n_spans, row.doc_id_min, row.doc_id_max) == (
            want.n_docs, want.n_spans, str(want.dmin), str(want.dmax)
        )

    # final table identical to a single-shot run
    resumed = spark.read.parquet(run.out_path)
    single = extract_spans(spark, sf_dir)
    assert _collect_sorted(resumed) == _collect_sorted(single)

    # idempotence: running again processes nothing
    assert run_checkpointed_extract(spark, sf_dir, run) == 0


def test_checkpointed_run_honours_stage_enables(spark, sf_dir, tmp_path):
    """The checkpointed run is the one extraction plan: with layout and
    tables off it writes exactly the rows ``extract`` returns under the
    same config, and fewer than a full run."""
    from docling_ocr_qwen3vl_spark.sources.tables import load_table

    cfg = ExtractConfig(do_layout=False, do_tables=False)
    run = CheckpointedRun(
        run_id="run-slim",
        out_path=str(tmp_path / "spans"),
        lineage_path=str(tmp_path / "lineage"),
        n_groups=2,
    )
    docs = load_table(spark, sf_dir, "documents")
    assert run_checkpointed_extract(spark, sf_dir, run, documents=docs, config=cfg) == 2
    written = _collect_sorted(spark.read.parquet(run.out_path))
    assert written == _collect_sorted(extract(spark, docs, cfg))
    assert 0 < len(written) < extract(spark, docs).count()
