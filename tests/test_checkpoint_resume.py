"""S6 resume protocol: a killed run resumes without re-processing and the
final table equals the single-shot result (north_rule requirement)."""

import os

import pytest
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark import ExtractConfig, extract
from docling_ocr_qwen3vl_spark.plans import checkpoint
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


def _run(tmp_path, name, n_groups=4, lineage_path=None):
    return CheckpointedRun(
        run_id=f"run-{name}",
        out_path=str(tmp_path / name / "spans"),
        lineage_path=lineage_path or str(tmp_path / name / "lineage"),
        n_groups=n_groups,
    )


def _lineage_stats(spark, run):
    """partition_id -> (doc_id_min, doc_id_max, n_docs, n_spans); asserts
    one lineage row per group."""
    rows = spark.read.parquet(run.lineage_path).collect()
    stats = {r.partition_id: (r.doc_id_min, r.doc_id_max, r.n_docs, r.n_spans) for r in rows}
    assert len(rows) == len(stats) == run.n_groups
    return stats


def test_kill_and_resume_produces_identical_table(spark, sf_dir, tmp_path):
    run = _run(tmp_path, "test")

    # first attempt is stopped after committing two groups
    assert run_checkpointed_extract(spark, sf_dir, run, max_groups=2) == 2
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


def test_crash_before_lineage_append_reruns_the_wave(spark, sf_dir, tmp_path, monkeypatch):
    """A crash after a wave's output write but before its lineage append
    leaves the output and no commit: the re-run redoes that wave, and the
    result equals the single-shot run with one lineage row per group."""
    run = _run(tmp_path, "crash")
    append = checkpoint._append_lineage
    calls = []

    def crash_first(*args):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("injected crash before the lineage append")
        return append(*args)

    monkeypatch.setattr(checkpoint, "_append_lineage", crash_first)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_checkpointed_extract(spark, sf_dir, run)
    assert completed_groups(spark, run) == {}
    assert any(d.startswith("group=") for d in os.listdir(run.out_path))

    assert run_checkpointed_extract(spark, sf_dir, run) == run.n_groups
    _lineage_stats(spark, run)
    assert _collect_sorted(spark.read.parquet(run.out_path)) == _collect_sorted(
        extract_spans(spark, sf_dir)
    )


def test_one_group_waves_match_the_default_waves(spark, sf_dir, tmp_path, monkeypatch):
    """With WAVE_SECONDS = 0 every wave is one group (one lineage append
    each); the output and lineage stats equal the default run's."""
    default = _run(tmp_path, "default")
    assert run_checkpointed_extract(spark, sf_dir, default) == default.n_groups

    single = _run(tmp_path, "single")
    appends = []
    append = checkpoint._append_lineage

    def counting(spark_, run_, rows):
        appends.append(len(rows))
        return append(spark_, run_, rows)

    monkeypatch.setattr(checkpoint, "WAVE_SECONDS", 0)
    monkeypatch.setattr(checkpoint, "_append_lineage", counting)
    assert run_checkpointed_extract(spark, sf_dir, single) == single.n_groups
    assert appends == [1] * single.n_groups
    assert _lineage_stats(spark, single) == _lineage_stats(spark, default)
    assert _collect_sorted(spark.read.parquet(single.out_path)) == _collect_sorted(
        spark.read.parquet(default.out_path)
    )


def test_checkpointed_run_job_count(spark, sf_dir, tmp_path, monkeypatch):
    """8 groups in two waves (1, then 7): one plan and one write per wave,
    so the whole run takes at most 12 Spark jobs."""
    monkeypatch.setattr(checkpoint, "WAVE_SECONDS", 10**9)
    run = _run(tmp_path, "jobs", n_groups=8)
    sc = spark.sparkContext
    group = "checkpointed_run_job_count"
    sc.setJobGroup(group, group)
    try:
        assert run_checkpointed_extract(spark, sf_dir, run) == 8
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 12


def test_resume_from_a_file_uri_lineage(spark, sf_dir, tmp_path):
    """A ``file://`` lineage path resumes: the second call processes only
    the remaining groups and leaves one lineage row per group."""
    run = _run(tmp_path, "uri", lineage_path=(tmp_path / "uri-lineage").as_uri())
    assert run.lineage_path.startswith("file://")
    assert run_checkpointed_extract(spark, sf_dir, run, max_groups=2) == 2
    assert run_checkpointed_extract(spark, sf_dir, run) == run.n_groups - 2
    _lineage_stats(spark, run)


def test_empty_groups_commit_null_ranges(spark, tmp_path):
    """3 docs over 8 groups: 8 lineage rows; each empty group has null
    doc_id bounds, zero counts and no output directory."""
    docs = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda", "en", "s", 60),
         (12, "one two three four five six seven eight nine ten eleven twelve", "en", "s", 60),
         (25, "red green blue cyan magenta yellow black white grey pink brown", "fr", "s", 60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    run = _run(tmp_path, "sparse", n_groups=8)
    assert run_checkpointed_extract(spark, "", run, documents=docs) == 8
    stats = _lineage_stats(spark, run)
    written = spark.read.parquet(run.out_path)
    full = {r.group for r in written.select("group").distinct().collect()}
    assert 1 <= len(full) <= 3
    for g, (lo, hi, n_docs, n_spans) in stats.items():
        if g in full:
            assert lo is not None and n_docs > 0 and n_spans > 0
        else:
            assert (lo, hi, n_docs, n_spans) == (None, None, 0, 0)
    dirs = {d for d in os.listdir(run.out_path) if d.startswith("group=")}
    assert dirs == {f"group={g}" for g in full}
    assert _collect_sorted(written) == _collect_sorted(
        extract_spans(spark, "", documents=docs)
    )


def test_checkpointed_run_honours_stage_enables(spark, sf_dir, tmp_path):
    """The checkpointed run is the one extraction plan: with layout and
    tables off it writes exactly the rows ``extract`` returns under the
    same config, and fewer than a full run."""
    from docling_ocr_qwen3vl_spark.sources.tables import load_table

    cfg = ExtractConfig(do_layout=False, do_tables=False)
    run = _run(tmp_path, "slim", n_groups=2)
    docs = load_table(spark, sf_dir, "documents")
    assert run_checkpointed_extract(spark, sf_dir, run, documents=docs, config=cfg) == 2
    written = _collect_sorted(spark.read.parquet(run.out_path))
    assert written == _collect_sorted(extract(spark, docs, cfg))
    assert 0 < len(written) < extract(spark, docs).count()
