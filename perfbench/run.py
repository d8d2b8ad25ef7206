"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 15 --trace 0

Run from the repository root.  Generates the workload's seeded input,
sets up ``local[nproc]`` three times, each with a pass over a small input
(the first launches the JVM; the median set-up is ``setup_s``), runs two
untimed warm-up passes and then timed passes back to back for ``--seconds``,
checks every pass, and prints a table, a full JSON report line and, last,
the result line.  ``--trace 1`` adds the traced run (event log, job groups,
cumulative-prefix self times) after the timed one and reports the
per-layer metrics instead.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback
from contextlib import contextmanager
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from helpers import read_event_log, rollup_event_log, summarize  # noqa: E402
from probes import (  # noqa: E402
    PeakSampler,
    become_subreaper,
    cpu_ticks,
    host_burn_s,
    reap_descendants,
    tree_memory_bytes,
)

PACKAGE = "docling_ocr_qwen3vl_spark"
RUN_DIR = ".perfbench_run"  # under the checkout root; a run removes its work-* dir
MB = 1024 * 1024
TRACE_REPS = 2
SETUP_REPS = 3
WARMUP_PASSES = 2  # after one, passes still sped up by 10-20% as the JIT settled
HEAP = "2g"
# every end-to-end metric a run reports (BENCHMARK.json lists the same names)
E2E_UNITS = {"setup_s": "s", "docs_per_s": "1/s", "peak_rss_mb": "MB"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Env:
    """Paths and process environment of one run, all under the checkout."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.out = os.path.join(root, RUN_DIR)
        self.work = os.path.join(self.out, f"work-{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "eventlog")
        self.stem = os.path.join(self.out, f"{workload}-seed{seed}-trace{int(trace)}")
        for d in (self.tmp, self.events):
            os.makedirs(d, exist_ok=True)
        # workers import the package from the checkout, whatever their cwd
        paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        sys.path.insert(0, root)


def start_session(env: Env, app: str, extra: dict | None = None):
    """``build_session`` on ``local[nproc]`` with nproc shuffle partitions.
    Returns (session, build seconds)."""
    from docling_ocr_qwen3vl_spark.plans.session import build_session

    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # not build_session's 8g default: a pinned, pre-touched heap.  With
        # the default, G1 grows the heap when it likes, and peak_rss_mb
        # spread 0.11 (extract) and 0.28 (dedup) over five seeds.  Pinned,
        # the JVM's share of peak_rss_mb is fixed and the metric moves with
        # Python-worker and native memory only.
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env.tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
        **(extra or {}),
    }
    t0 = perf_counter()
    spark = build_session(
        app_name=app, master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    build_s = perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, build_s


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Stop the active context and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Tracer:
    """Spans (name, start, end, parent, group) kept in memory, the job
    group + description set around each call, and the event-log rollup."""

    def __init__(self, spark, event_dir: str):
        self.sc = spark.sparkContext
        self.event_dir = event_dir
        self.t0 = perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._cache_max = 0.0
        self._rollup: dict | None = None
        self.cache_sampler = PeakSampler(self._storage_bytes, interval=0.25)

    def _storage_bytes(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return float(sum(i.memSize() + i.diskSize() for i in infos))

    def sample_cache(self) -> None:
        self._cache_max = max(self._cache_max, self._storage_bytes())

    @property
    def cache_peak(self) -> float:
        return max(self._cache_max, self.cache_sampler.peak)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if group is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(name)
        start = perf_counter() - self.t0
        try:
            yield
        finally:
            end = perf_counter() - self.t0
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._rollup = None
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "group": group}
            )

    def rollup(self, group: str) -> dict:
        """The event-log totals of ``group`` so far.  Waits for the listener
        bus to drain; the event log is flushed at every job end."""
        if self._rollup is None:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            (path,) = [os.path.join(self.event_dir, f) for f in os.listdir(self.event_dir)]
            self._rollup = rollup_event_log(read_event_log(path))
        empty = {"jobs": 0, "tasks": 0, "run_s": 0.0, "shuffle_write_b": 0.0,
                 "shuffle_read_b": 0.0, "output_b": 0.0, "input_b": 0.0,
                 "scans": [], "sql": {}, "metric_tasks": {}}
        return self._rollup.get(group, empty)


def warm_up(spark, wl, tag: str) -> None:
    """One untimed, checked pass over the workload input.  The first one
    fixes ``wl.expected`` when the workload has no oracle."""
    summary = wl.check(spark, wl.run_pass(spark, tag))
    if wl.expected is None:
        wl.expected = summary  # counts must repeat on every later pass
    if summary != wl.expected or not wl.plausible(summary):
        raise RuntimeError(f"{tag} pass failed its check: {summary} != {wl.expected}")


def set_up(env: Env, wl) -> tuple:
    """``SETUP_REPS`` set-ups, each ``build_session`` on a fresh SparkContext
    plus one pass of the workload's plan over its small warm-up input
    (codegen, Python workers).  Only the first launches the JVM: a JVM
    launch and its cold first pass take 15-25 s on 4 cores, and one per
    set-up does not fit the time cap.  Returns (the last session, set-up
    seconds, build_session seconds)."""
    spark, setups, builds = None, [], []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = perf_counter()
        spark, build_s = start_session(env, f"perfbench-{wl.name}")
        wl.check(spark, wl.run_pass(spark, f"setup{rep}", wl.warm_dir))
        setups.append(perf_counter() - t0)
        builds.append(build_s)
    return spark, setups, builds


def timed_run(env: Env, wl, seconds: float) -> dict:
    """Set-up, untimed warm-up passes, then passes back to back for
    ``seconds``; every pass is checked against the expected summary."""
    spark, setups, builds = set_up(env, wl)
    for i in range(WARMUP_PASSES):
        warm_up(spark, wl, f"warmup{i}")
    pid = jvm_pid()
    passes, failed = [], 0
    steal0, total0 = cpu_ticks()
    with PeakSampler(lambda: tree_memory_bytes(pid)) as rss:
        t_start = perf_counter()
        while True:
            try:
                result = wl.run_pass(spark, f"p{len(passes)}")
                summary = wl.check(spark, result)
                ok = summary == wl.expected and wl.plausible(summary)
                # keep the times only: a result's frames pin cached blocks
                timing = {"seconds": result["seconds"], "batch_s": result.get("batch_s", [])}
                result = None
            except Exception:
                traceback.print_exc()
                timing, ok = None, False
            passes.append(timing)
            failed += not ok
            if perf_counter() - t_start >= seconds:
                break
    steal1, total1 = cpu_ticks()
    good = [p for p in passes if p is not None]
    secs = [p["seconds"] for p in good] or [float("nan")]
    batch = [s for p in good for s in p["batch_s"]]
    median = statistics.median(secs)
    return {
        "spark": spark,
        "setup_runs_s": setups,
        "build_runs_s": builds,
        "setup_s": statistics.median(setups),
        "build_s": statistics.median(builds),
        "expected": wl.expected,
        "pass_s": secs,
        "batch": summarize(batch) if batch else None,
        "attempted": len(passes),
        "failed": failed,
        "docs_per_s": wl.n_docs / median,
        "pages_per_s": wl.n_pages / median,
        "peak_rss_mb": rss.peak / MB,
        "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
    }


def traced_run(env: Env, wl, spark) -> dict:
    """Restart the context with the event log on, warm it up, and run the
    workload's traced sweep under job groups."""
    from workloads import LAYER_METRICS

    spark.stop()
    spark, _ = start_session(
        env,
        f"perfbench-{wl.name}-traced",
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + env.events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
        },
    )
    warm_up(spark, wl, "trace-warmup")
    tracer = Tracer(spark, env.events)
    with tracer.cache_sampler:
        with tracer.span(f"{wl.name} traced sweep"):
            layers, full = wl.trace(spark, tracer, TRACE_REPS)
    metrics = {k: 0.0 for k in LAYER_METRICS}
    metrics.update(layers)
    with open(env.stem + "-spans.json", "w", encoding="utf-8") as fh:
        json.dump(tracer.spans, fh, indent=1)
    return {"layers": metrics, "traced_docs_per_s": wl.n_docs / statistics.median(full)}


def print_table(title: str, rows: dict, units: dict) -> None:
    print(f"== {title}")
    for k, v in rows.items():
        print(f"  {k:<50} {v:>14.4f} {units[k]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    become_subreaper()
    env = Env(root, args.workload, args.seed, bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, os.path.join(env.work, "data"), nproc())
    try:
        t0 = perf_counter()
        wl.prepare()
        prepare_s = perf_counter() - t0
        burn_before = host_burn_s(nproc())
        run = timed_run(env, wl, args.seconds)
        e2e = {k: run[k] for k in E2E_UNITS}
        burn_after = host_burn_s(nproc())
        report = {
            "workload": wl.name, "seed": args.seed, "nproc": nproc(),
            "docs": wl.n_docs, "pages": wl.n_pages, "prepare_s": prepare_s,
            "host_burn_s": [burn_before, burn_after], "steal_frac": run["steal_frac"],
            "setup_runs_s": run["setup_runs_s"], "build_runs_s": run["build_runs_s"],
            "pass_s": run["pass_s"],
            "expected": list(run["expected"]),
            "failed_frac": run["failed"] / run["attempted"],
            **e2e,
        }
        if wl.n_pages != wl.n_docs:
            report["pages_per_s"] = run["pages_per_s"]
        if run["batch"] is not None:  # stream_dedup: micro-batch trigger times
            report["batch_s.p50"] = run["batch"]["p50"]
            report["batch"] = run["batch"]
        if hasattr(wl, "recall"):
            report["planted_recall"] = wl.recall(run["expected"])
        print_table(f"{wl.name} seed={args.seed} local[{nproc()}]", e2e, E2E_UNITS)
        print(f"  host_burn_s {burn_before:.3f}/{burn_after:.3f}  steal {run['steal_frac']:.3f}"
              f"  passes {len(run['pass_s'])}  failed_frac {report['failed_frac']:.3f}"
              + (f"  planted_recall {report['planted_recall']:.4f}"
                 if "planted_recall" in report else ""))
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        if args.trace:
            traced = traced_run(env, wl, run["spark"])
            traced["layers"]["plans.session.build_s"] = run["build_s"]
            report["layers"] = traced["layers"]
            report["traced_docs_per_s"] = traced["traced_docs_per_s"]
            report["trace_overhead_docs_per_s"] = traced["traced_docs_per_s"] - run["docs_per_s"]
            print_table("per-layer (traced run)", traced["layers"], LAYER_METRICS)
            print(f"  tracing overhead: traced - untraced docs_per_s = "
                  f"{report['trace_overhead_docs_per_s']:+.1f}")
            metrics = {k: {"value": v, "unit": LAYER_METRICS[k]}
                       for k, v in traced["layers"].items()}
        with open(env.stem + ".json", "w", encoding="utf-8") as fh:
            json.dump(report, fh, indent=1)
        print(json.dumps(report))
        result = {
            "correct": run["failed"] == 0,
            "attempted": run["attempted"],
            "failed": run["failed"],
            "metrics": metrics,
        }
    finally:
        stop_jvm()
        reap_descendants()
        shutil.rmtree(env.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
