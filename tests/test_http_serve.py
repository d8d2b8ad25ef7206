"""End-to-end drive of the HTTP serving front end (S4) with stdlib urllib:
submit -> poll to success -> fetch result, over a real Spark session, and
the protocol error paths (unknown task, result-before-finish, bad body).
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest


@pytest.fixture()
def serve(spark, tmp_path):
    from docling_ocr_qwen3vl_spark.serving.server import make_server

    server, ctx = make_server(spark, str(tmp_path / "jobs"))
    ctx.start()
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()
    ctx.stop()


def _get(url: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _post(url: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_health(serve):
    assert _get(f"{serve}/health") == (200, {"status": "ok"})


def test_submit_poll_fetch_roundtrip(serve, spark, sf_dir):
    code, sub = _post(
        f"{serve}/v1/convert/source/async",
        {"sources": [{"kind": "sf_dir", "path": sf_dir}],
         "options": {"n_groups": 4}},
    )
    assert code == 200 and sub["task_status"] == "pending"
    task_id = sub["task_id"]

    deadline = time.time() + 300
    while True:
        code, status = _get(f"{serve}/v1/status/poll/{task_id}")
        assert code == 200
        assert status["task_status"] in ("pending", "started", "success")
        if status["task_status"] == "success":
            break
        assert time.time() < deadline, status
        time.sleep(1)
    assert status["groups_done"] == status["n_groups"] == 4

    code, result = _get(f"{serve}/v1/result/{task_id}")
    assert code == 200
    # the served spans ARE the engine's extraction output for the corpus —
    # but a fetch is PAGINATED (never corpus-proportional): n_spans is the
    # total, spans is one bounded page, out_path points bulk readers at the
    # parquet directly
    from docling_ocr_qwen3vl_spark.plans.pipeline import extract_spans

    expected = extract_spans(spark, sf_dir).count()
    assert result["n_spans"] == expected
    assert result["returned"] == len(result["spans"]) <= result["limit"]
    assert result["out_path"]
    first = result["spans"][0]
    assert set(first) == {"doc_id", "offset", "kind", "text", "media_ref"}

    # drain the full result through KEYSET pages and recover every span
    # exactly once: each response hands back next_cursor; a short page
    # (next_cursor null) means drained
    page_size, got, cursor, pages = 500, [], None, 0
    while True:
        url = f"{serve}/v1/result/{task_id}?limit={page_size}"
        if cursor:
            url += f"&cursor={cursor}"
        code, page = _get(url)
        assert code == 200 and page["returned"] == len(page["spans"])
        assert page["returned"] <= page_size
        got.extend((s["doc_id"], s["offset"]) for s in page["spans"])
        cursor, pages = page["next_cursor"], pages + 1
        if cursor is None:
            break
    assert pages > 1  # the drain actually exercised multi-page cursors
    assert len(got) == expected == len(set(got))
    assert got == sorted(got)  # stable global (doc_id, offset) order

    # a cursor past the last row yields an empty page, not an error
    from docling_ocr_qwen3vl_spark.serving.server import encode_cursor

    last_doc, last_off = got[-1]
    past_end = encode_cursor(last_doc, last_off)
    code, page = _get(
        f"{serve}/v1/result/{task_id}?cursor={past_end}&limit=10"
    )
    assert code == 200 and page["returned"] == 0
    assert page["next_cursor"] is None and page["n_spans"] == expected

    # bad paging params -> 400, not a handler crash; OFFSET pagination is
    # gone (O(offset) skip per page) and must be rejected loudly
    for q in ("offset=0", "offset=-1", "limit=0", "limit=999999",
              "limit=abc", "cursor=!!!"):
        code, _ = _get(f"{serve}/v1/result/{task_id}?{q}")
        assert code == 400

    # crafted cursors that ARE valid base64url JSON but not a scalar
    # (doc_id, offset) pair — or whose doc_id type mismatches the result
    # schema — must also be a 400, never a post-guard Spark crash that
    # drops the connection
    import base64 as _b64

    def craft(payload):
        return _b64.urlsafe_b64encode(
            json.dumps(payload).encode()
        ).decode().rstrip("=")

    for payload in ([[1, 2], 3], {"doc_id": 1}, [1], [1, 2, 3],
                    [None, 0], [True, 0], [1, [2]]):
        code, body = _get(
            f"{serve}/v1/result/{task_id}?cursor={craft(payload)}"
        )
        assert code == 400, payload
        assert "cursor" in body["error"] or "paging" in body["error"]
    # a scalar string doc_id is a VALID cursor against this task's string
    # doc_id column (only a numeric result schema would 400 it)
    code, _ = _get(f"{serve}/v1/result/{task_id}?cursor={craft(['abc', 0])}")
    assert code == 200


def test_result_page_plan_has_no_offset_and_no_global_sort(spark, tmp_path):
    """The keyset page plan must be a pushdown-able range filter + top-K:
    no Offset operator (O(offset) skip) and no global Sort/Exchange (whole
    -result re-sort) anywhere in the physical plan."""
    from docling_ocr_qwen3vl_spark.serving.server import (
        decode_cursor,
        encode_cursor,
        result_page,
    )
    from pyspark.sql import functions as F

    out_path = str(tmp_path / "spans")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("int").alias("offset"),
        F.lit("text").alias("kind"),
        F.lit("x").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("group"),
    ).write.parquet(out_path)
    out = spark.read.parquet(out_path)

    cursor = decode_cursor(encode_cursor(42, 3))
    page = result_page(out, cursor, 10)
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Offset" not in plan
    assert "Exchange" not in plan  # top-K merges partial heaps, no shuffle
    # the cursor predicate reaches the scan (row-group pruning on doc_id)
    assert "PushedFilters: [" in plan and "doc_id" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]
    # and the page itself is correct: strictly after (42, 3)
    rows = [(r.doc_id, r.offset) for r in page.collect()]
    assert rows == sorted(rows) and len(rows) == 10
    assert all((d, o) > (42, 3) for d, o in rows)
    assert "group" not in page.columns


def test_protocol_errors(serve, sf_dir):
    # unknown task id (well-formed but never submitted)
    code, body = _get(f"{serve}/v1/status/poll/{'0' * 12}")
    assert code == 404
    # unknown endpoint
    code, _ = _get(f"{serve}/v1/nonsense")
    assert code == 404
    # malformed submit body
    code, body = _post(f"{serve}/v1/convert/source/async", {"sources": []})
    assert code == 400
    code, body = _post(
        f"{serve}/v1/convert/source/async",
        {"sources": [{"kind": "http", "url": "http://x"}]},
    )
    assert code == 400 and "sf_dir" in body["error"]
    # wrong-SHAPE bodies must 400, never kill the handler thread
    for bad in ([], "x", {"sources": ["x"]}, {"sources": {"kind": "sf_dir"}}):
        code, _ = _post(f"{serve}/v1/convert/source/async", bad)
        assert code == 400, bad
    # n_groups outside [1, MAX] (0 would spin the worker forever)
    for n in (0, -1, "abc", 10**9):
        code, _ = _post(
            f"{serve}/v1/convert/source/async",
            {"sources": [{"kind": "sf_dir", "path": sf_dir}],
             "options": {"n_groups": n}},
        )
        assert code == 400, n
    # the server still works after all of that
    assert _get(f"{serve}/health")[0] == 200


def test_restart_resume_picks_up_inflight_jobs(spark, sf_dir, tmp_path):
    """Kill-and-restart: a new ServeContext on the same root re-enqueues the
    unfinished job and completes it without a client resubmission."""
    from docling_ocr_qwen3vl_spark.plans.jobs import advance_job, submit_job
    from docling_ocr_qwen3vl_spark.serving.server import make_server

    root = str(tmp_path / "jobs")
    job = submit_job(sf_dir, root, n_groups=4)
    advance_job(spark, job, max_groups=2)  # partially done, then "killed"

    server, ctx = make_server(spark, root)
    ctx.start()
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        deadline = time.time() + 300
        while True:
            code, status = _get(f"{base}/v1/status/poll/{job.task_id}")
            assert code == 200
            if status["task_status"] == "success":
                break
            assert time.time() < deadline, status
            time.sleep(1)
    finally:
        server.shutdown()
        ctx.stop()


def test_result_before_finish_conflicts(serve, spark, sf_dir, tmp_path):
    # submit directly (bypassing the worker queue) so the job stays pending
    from docling_ocr_qwen3vl_spark.plans.jobs import submit_job

    job = submit_job(sf_dir, str(tmp_path / "jobs"), n_groups=8)
    code, body = _get(f"{serve}/v1/result/{job.task_id}")
    assert code == 409 and body["task_status"] == "pending"


def test_result_page_reads_the_lineage_once(spark, sf_dir, tmp_path, monkeypatch):
    """One /v1/result request reads the lineage table once: the status and
    the span total come from the same read."""
    from docling_ocr_qwen3vl_spark.plans import checkpoint
    from docling_ocr_qwen3vl_spark.plans.jobs import advance_job, submit_job
    from docling_ocr_qwen3vl_spark.serving import server as server_mod

    root = str(tmp_path / "jobs")
    job = submit_job(sf_dir, root, n_groups=1)
    advance_job(spark, job, max_groups=1)

    calls = []
    read_lineage = checkpoint.read_lineage

    def counting(*args, **kwargs):
        calls.append(args)
        return read_lineage(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "read_lineage", counting)
    monkeypatch.setattr(server_mod, "read_lineage", counting, raising=False)
    # no ctx.start(): no worker thread polls the lineage beside the request
    server, _ = server_mod.make_server(spark, root)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}"
        code, result = _get(f"{base}/v1/result/{job.task_id}?limit=5")
    finally:
        server.shutdown()
    assert code == 200 and result["returned"] == 5
    assert result["n_spans"] == spark.read.parquet(job.run.out_path).count()
    assert len(calls) == 1
