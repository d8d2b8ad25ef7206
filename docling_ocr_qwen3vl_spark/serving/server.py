"""S4: HTTP serving front end over the async job surface (stdlib only).

The reference is driven through docling-serve's HTTP protocol
(scripts/test_docling_serve_hybrid_pic.py:36-90):

  GET  /health                        -> {"status": "ok"}
  POST /v1/convert/source/async       -> {"task_id": ...}     (202-style)
  GET  /v1/status/poll/{task_id}      -> {"task_status": pending|started|
                                          success|failure, ...}
  GET  /v1/result/{task_id}           -> one PAGE of the extraction result
       (?cursor=&limit=, default/max page caps) + total count + parquet
       path for bulk readers — never a corpus-proportional body.
       KEYSET pagination: each response carries next_cursor (an opaque
       token encoding the last row's (doc_id, offset)); the next request
       passes it back.  The page plan is then a pushdown-able range
       filter + top-K — O(page) per request — where an OFFSET page would
       re-sort the whole result and skip O(offset) rows every fetch.

This module serves the SAME protocol over ``plans/jobs.py``: submission
allocates a lineage-backed checkpointed run; a single background worker
thread runs ALL extraction work, advancing each job one group per tick (a
one-group wave: one idempotent write); handler threads only submit specs and
run read-only lineage/output queries (concurrent job submission is
thread-safe on a SparkSession).  Status lives in the lineage table, so a
killed server resumes exactly where it stopped and any number of front
ends can serve the same job root.

Request body: {"sources": [{"kind": "sf_dir", "path": "/data/sfX"}],
"options": {"n_groups": 8}} — the engine's sources are parquet/Iceberg
table dirs, not PDF URLs; everything else mirrors the reference protocol.
"""

from __future__ import annotations

import json
import os
import queue
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.jobs import PENDING, SUCCESS, ExtractJob, advance_job, load_job, poll_job, submit_job

_TASK_RE = re.compile(r"^/v1/(status/poll|result)/([0-9a-f]{12})$")


MAX_ADVANCE_ATTEMPT_FAILURES = 3
MAX_GROUPS = 4096
# /v1/result paging: default page size, and the hard per-request cap — the
# one knob that keeps a result fetch bounded regardless of corpus size
DEFAULT_RESULT_LIMIT = 1000
MAX_RESULT_LIMIT = 10_000


def encode_cursor(doc_id, offset) -> str:
    """Opaque keyset cursor: base64url of the last row's (doc_id, offset).
    Opaque so clients cannot depend on its shape, and URL-safe so doc_ids
    with reserved characters never need escaping."""
    import base64

    raw = json.dumps([doc_id, offset]).encode()
    return base64.urlsafe_b64encode(raw).decode().rstrip("=")


def decode_cursor(token: str) -> tuple:
    """Inverse of encode_cursor, VALIDATING the shape: a crafted token that
    is valid base64url JSON but not a scalar (doc_id, offset) pair must
    fail HERE (-> the handler's 400 path), not later inside the Spark
    filter where a non-scalar literal raises outside the param-parsing
    guard and kills the request without a response."""
    import base64

    pad = "=" * (-len(token) % 4)
    decoded = json.loads(base64.urlsafe_b64decode(token + pad))
    if (
        not isinstance(decoded, list)
        or len(decoded) != 2
        or not isinstance(decoded[0], (str, int, float))
        or isinstance(decoded[0], bool)
        or not isinstance(decoded[1], (str, int, float))
        or isinstance(decoded[1], bool)
    ):
        raise ValueError("malformed cursor")
    doc_id, offset = decoded
    return doc_id, int(offset)


def result_page(out, after: tuple | None, limit: int):
    """One result page as a DataFrame: rows strictly after the keyset
    cursor in global (doc_id, offset) order.  The cursor filter is a
    pushdown-able range predicate and orderBy+limit compiles to a top-K
    (TakeOrderedAndProject) — O(page) work per request with no OFFSET skip
    and no global sort, which is what keeps page N as cheap as page 0."""
    # 'group' is checkpoint bookkeeping (the resume key), not a span field
    page = out.drop("group")
    if after is not None:
        last_doc, last_off = after
        page = page.filter(
            (F.col("doc_id") > F.lit(last_doc))
            | (
                (F.col("doc_id") == F.lit(last_doc))
                & (F.col("offset") > F.lit(last_off))
            )
        )
    return page.orderBy("doc_id", "offset").limit(limit)


class ServeContext:
    """Shared state: the Spark session (extraction work on the worker
    thread; read-only polls from handler threads), the job root, and the
    advance queue feeding the single worker."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.tasks: queue.Queue[str] = queue.Queue()
        self.failures: dict[str, str] = {}
        self._attempt_failures: dict[str, int] = {}
        self._stop = threading.Event()
        self.worker = threading.Thread(target=self._work, daemon=True)

    def start(self) -> None:
        self._resume_inflight()
        self.worker.start()

    def _resume_inflight(self) -> None:
        """Restart-resume: re-enqueue every job spec under the root whose
        lineage says it has not finished — this is what makes a killed
        server pick up exactly where it stopped."""
        if not os.path.isdir(self.root):
            return
        for task_id in sorted(os.listdir(self.root)):
            try:
                job = load_job(self.root, task_id)
            except (FileNotFoundError, NotADirectoryError, KeyError,
                    TypeError, ValueError, json.JSONDecodeError):
                continue  # stray files / corrupt specs must not block startup
            try:
                done = poll_job(self.spark, job)["task_status"] == SUCCESS
            except Exception:
                # a corrupt lineage table must fail only ITS task (the
                # worker will surface it), never block the whole server
                done = False
            if not done:
                self.tasks.put(task_id)

    def stop(self) -> None:
        self._stop.set()
        self.tasks.put("")  # wake the worker
        self.worker.join(timeout=30)

    def _work(self) -> None:
        """Drain the queue; each iteration advances ONE group of one job so
        a long job cannot starve later submissions (round-robin re-enqueue).
        Transient advance failures retry (the checkpointed run is
        idempotent); only MAX_ADVANCE_ATTEMPT_FAILURES consecutive errors
        mark the task failed."""
        while not self._stop.is_set():
            task_id = self.tasks.get()
            if self._stop.is_set() or not task_id:
                continue
            try:
                job = load_job(self.root, task_id)
                advance_job(self.spark, job, max_groups=1)
                self._attempt_failures.pop(task_id, None)
                if poll_job(self.spark, job)["task_status"] != SUCCESS:
                    self.tasks.put(task_id)
            except Exception as exc:
                n = self._attempt_failures.get(task_id, 0) + 1
                self._attempt_failures[task_id] = n
                if n < MAX_ADVANCE_ATTEMPT_FAILURES:
                    self.tasks.put(task_id)  # idempotent: safe to retry
                else:
                    self.failures[task_id] = f"{type(exc).__name__}: {exc}"


class _Handler(BaseHTTPRequestHandler):
    ctx: ServeContext  # set by make_server

    # -- plumbing ---------------------------------------------------------
    def _json(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet: tests/servers own the log
        pass

    def _job(self, task_id: str) -> ExtractJob | None:
        try:
            return load_job(self.ctx.root, task_id)
        except (FileNotFoundError, NotADirectoryError, KeyError,
                TypeError, ValueError, json.JSONDecodeError):
            # missing OR corrupt/truncated spec both read as "unknown task"
            # rather than killing the handler thread
            return None

    # -- protocol ---------------------------------------------------------
    def do_GET(self) -> None:
        if self.path == "/health":
            self._json(200, {"status": "ok"})
            return
        split = urlsplit(self.path)
        m = _TASK_RE.match(split.path)
        if not m:
            self._json(404, {"error": "unknown endpoint"})
            return
        endpoint, task_id = m.groups()
        job = self._job(task_id)
        if job is None:
            self._json(404, {"error": f"unknown task_id {task_id}"})
            return
        status = poll_job(self.ctx.spark, job)
        # the durable lineage status WINS over process-local failure state:
        # another front end sharing the root may have finished the job
        if status["task_status"] != SUCCESS and task_id in self.ctx.failures:
            self._json(
                200,
                {
                    "task_id": task_id,
                    "task_status": "failure",
                    "error_message": self.ctx.failures[task_id],
                },
            )
            return
        if endpoint == "status/poll":
            self._json(200, status)
            return
        # /v1/result — KEYSET-PAGINATED: a result fetch must never
        # materialize a corpus-proportional span set on the driver (or in
        # one HTTP body), and a client draining N pages must pay O(page)
        # per request, not O(offset).  Clients page with ?cursor=&limit=
        # over the global (doc_id, offset) order: the cursor filter is a
        # parquet-pushdown-able range predicate (row groups before the
        # cursor prune on doc_id min/max) and orderBy+limit compiles to a
        # top-K (TakeOrderedAndProject), never a global sort.  n_spans
        # carries the total so a client knows when it has drained the
        # result, and out_path lets bulk consumers scan the parquet
        # directly instead of paging over HTTP.
        if status["task_status"] != SUCCESS:
            self._json(409, {"error": "task not finished", **status})
            return
        try:
            params = parse_qs(split.query)
            if "offset" in params:
                raise ValueError(
                    "offset pagination is not supported; pass the "
                    "next_cursor from the previous page as ?cursor="
                )
            page_limit = int(params.get("limit", [str(DEFAULT_RESULT_LIMIT)])[0])
            if not 1 <= page_limit <= MAX_RESULT_LIMIT:
                raise ValueError(f"limit must be in [1, {MAX_RESULT_LIMIT}]")
            cursor = params.get("cursor", [None])[0]
            after = decode_cursor(cursor) if cursor else None
        except (ValueError, TypeError, KeyError) as exc:
            self._json(400, {"error": f"bad paging params: {exc}"})
            return
        out = self.ctx.spark.read.parquet(job.run.out_path)
        if after is not None:
            # the cursor's doc_id must match the result column's type class:
            # under ANSI a non-numeric string literal compared to a numeric
            # column raises at execution (another post-guard crash), and a
            # numeric cursor against a string column would page wrongly
            numeric = dict(out.dtypes).get("doc_id", "string") not in (
                "string", "varchar",
            )
            if numeric and not isinstance(after[0], (int, float)):
                self._json(
                    400, {"error": "bad paging params: cursor doc_id type "
                          "does not match the result schema"},
                )
                return
            if not numeric:
                after = (str(after[0]), after[1])
        rows = result_page(out, after, page_limit).collect()
        # a short page proves the result is drained; a full page may have
        # more, so hand back the cursor for the next fetch
        next_cursor = (
            encode_cursor(rows[-1]["doc_id"], rows[-1]["offset"])
            if len(rows) == page_limit
            else None
        )
        self._json(
            200,
            {
                "task_id": task_id,
                "n_spans": status["n_spans"],
                "limit": page_limit,
                "returned": len(rows),
                "next_cursor": next_cursor,
                "out_path": job.run.out_path,
                "spans": [row.asDict() for row in rows],
            },
        )

    def do_POST(self) -> None:
        if self.path != "/v1/convert/source/async":
            self._json(404, {"error": "unknown endpoint"})
            return
        try:
            length = int(self.headers.get("Content-Length", "0"))
            body = json.loads(self.rfile.read(length) or b"{}")
            source = body["sources"][0]
            if source.get("kind") != "sf_dir":
                raise ValueError("sources[0].kind must be 'sf_dir'")
            sf_dir = source["path"]
            options = body.get("options") or {}
            n_groups = int(options.get("n_groups", 8))
            if not 1 <= n_groups <= MAX_GROUPS:
                raise ValueError(f"n_groups must be in [1, {MAX_GROUPS}]")
        except (
            KeyError,
            IndexError,
            ValueError,
            TypeError,
            AttributeError,
            json.JSONDecodeError,
        ) as exc:
            # wrong-SHAPE bodies (non-dict root, non-dict source, bad
            # numeric types) must 400, not kill the handler thread
            self._json(400, {"error": str(exc)})
            return
        job = submit_job(sf_dir, self.ctx.root, n_groups=n_groups)
        self.ctx.tasks.put(job.task_id)
        self._json(
            200, {"task_id": job.task_id, "task_status": PENDING}
        )


def make_server(
    spark: SparkSession, root: str, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, ServeContext]:
    """Build (but do not start) the server + worker; port 0 = ephemeral.
    Call ``ctx.start()`` then ``server.serve_forever()`` (or run it in a
    thread); shut down with ``server.shutdown(); ctx.stop()``."""
    ctx = ServeContext(spark, root)
    handler = type("Handler", (_Handler,), {"ctx": ctx})
    server = ThreadingHTTPServer((host, port), handler)
    return server, ctx
