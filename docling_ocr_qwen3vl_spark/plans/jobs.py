"""S4: async job surface — the batch analog of the reference's serve API.

The reference exposes extraction through docling-serve's HTTP protocol
(scripts/test_docling_serve_default.py: POST source -> ``task_id``, poll
``/v1/status/poll/{task_id}`` -> ``task_status`` in pending/started/
success/failure, then fetch the result).  An engine submits Spark jobs
instead of HTTP requests, but the CONTRACT — submit returns a handle,
status is pollable while work proceeds, results are fetchable by id —
maps 1:1 onto the checkpointed run:

  submit_job   -> allocates task_id + paths, writes the job spec
  advance_job  -> processes up to max_groups uncommitted hash groups
                  (a scheduler/cron calls this; one write per wave)
  poll_job     -> task_status derived from the lineage table (the same
                  rows a kill/resume uses), with per-group progress
  result_path  -> the committed parquet output

Status therefore survives driver restarts and is visible to ANY session
reading the lineage table — which is what an HTTP frontend on a cluster
would serve.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession

from ..config import ExtractConfig
from .checkpoint import CheckpointedRun, completed_groups, run_checkpointed_extract

PENDING = "pending"
STARTED = "started"
SUCCESS = "success"


@dataclass
class ExtractJob:
    task_id: str
    sf_dir: str
    root: str
    n_groups: int
    config: ExtractConfig

    @property
    def run(self) -> CheckpointedRun:
        return CheckpointedRun(
            run_id=self.task_id,
            out_path=os.path.join(self.root, self.task_id, "out"),
            lineage_path=os.path.join(self.root, self.task_id, "lineage"),
            n_groups=self.n_groups,
        )

    @property
    def spec_path(self) -> str:
        return os.path.join(self.root, self.task_id, "job.json")


def submit_job(sf_dir: str, root: str, n_groups: int = 8, config=None) -> ExtractJob:
    """Allocate a task_id and persist the job spec and its config (no Spark
    work yet — submission is instant, like the HTTP endpoint's 200 + task_id)."""
    if n_groups < 1:
        # a zero-group job could never reach SUCCESS (completed_groups
        # stays empty) and would spin any scheduler polling it forever
        raise ValueError(f"n_groups must be >= 1, got {n_groups}")
    job = ExtractJob(task_id=uuid.uuid4().hex[:12], sf_dir=sf_dir, root=root,
                     n_groups=n_groups, config=config or ExtractConfig())
    os.makedirs(os.path.dirname(job.spec_path), exist_ok=True)
    # write-then-rename: a submit killed mid-write must never leave a
    # truncated job.json for pollers/restart-resume to trip over
    tmp_path = job.spec_path + ".tmp"
    with open(tmp_path, "w") as fh:
        json.dump(asdict(job), fh)
    os.replace(tmp_path, job.spec_path)
    return job


def load_job(root: str, task_id: str) -> ExtractJob:
    with open(os.path.join(root, task_id, "job.json")) as fh:
        spec = json.load(fh)
    return ExtractJob(task_id=spec["task_id"], sf_dir=spec["sf_dir"], root=root,
                      n_groups=spec["n_groups"],
                      config=ExtractConfig(**spec.get("config", {})))


def advance_job(spark: SparkSession, job: ExtractJob, max_groups: int = 1) -> int:
    """Process up to ``max_groups`` uncommitted groups; idempotent and
    crash-safe (delegates to the checkpointed run, with the job's config)."""
    return run_checkpointed_extract(
        spark, job.sf_dir, job.run, max_groups=max_groups, config=job.config
    )


def poll_job(spark: SparkSession, job: ExtractJob) -> dict:
    """task_status + progress from ONE lineage read (docling-serve's
    pending/started/success vocabulary); ``n_spans`` totals the committed
    groups' spans."""
    done = completed_groups(spark, job.run)
    if not done:
        status = PENDING
    elif len(done) >= job.n_groups:
        status = SUCCESS
    else:
        status = STARTED
    return {
        "task_id": job.task_id,
        "task_status": status,
        "groups_done": len(done),
        "n_groups": job.n_groups,
        "n_spans": sum(done.values()),
        "result_path": job.run.out_path if status == SUCCESS else None,
    }
