"""Pure helpers of the benchmark: statistics, self-time subtraction and the
event-log rollup.  No Spark import here, so the tests run without a JVM."""

from __future__ import annotations

import json
import math
from collections import defaultdict
from collections.abc import Iterable

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
NO_GROUP = "(none)"


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 100]."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: Iterable[float]) -> dict:
    """p50 / p90 / min / max with the sample count ``n``."""
    xs = [float(v) for v in values]
    return {
        "p50": percentile(xs, 50),
        "p90": percentile(xs, 90),
        "min": min(xs),
        "max": max(xs),
        "n": len(xs),
    }


def self_times(cumulative: list[tuple[str, float]]) -> dict[str, float]:
    """Cumulative prefix costs -> per-layer self costs.

    ``cumulative`` lists (layer, cost of the plan up to and including that
    layer) in plan order; a layer's self cost is its prefix minus the one
    before it.  The difference is kept as measured, so a layer cheaper than
    the noise can read slightly negative."""
    out, prev = {}, 0.0
    for name, total in cumulative:
        out[name] = total - prev
        prev = total
    return out


def _metric_value(kind: str, raw) -> float:
    value = float(raw)
    if kind == "nsTiming":
        return value / 1e9
    if kind == "timing":
        return value / 1e3
    return value


def _walk_plan(node: dict, acc_meta: dict, scans: list) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", ()):
        acc_meta[m["accumulatorId"]] = (name, m["name"], m.get("metricType", "sum"))
    if name.startswith("Scan "):
        scans.append(node.get("metadata", {}).get("Location", ""))
    for child in node.get("children", ()):
        _walk_plan(child, acc_meta, scans)


def rollup_event_log(events: Iterable[dict]) -> dict[str, dict]:
    """Spark listener events -> per-job-group totals.

    Per group: ``jobs``, ``tasks``, ``run_s`` (executor run time),
    ``shuffle_write_b``, ``shuffle_read_b``, ``output_b``, ``input_b``,
    ``scans`` (scan-node locations of the group's SQL executions, the last
    plan version of each), ``sql`` — SQL metrics summed over tasks, keyed
    ``"<node name>/<metric name>"``; timings in seconds, sizes in bytes —
    and ``metric_tasks``, the number of tasks that updated each metric name.
    Jobs without a group roll up under ``NO_GROUP``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_scans: dict[int, list] = {}
    acc_meta: dict[int, tuple] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "tasks": 0, "run_s": 0.0, "shuffle_write_b": 0.0,
            "shuffle_read_b": 0.0, "output_b": 0.0, "input_b": 0.0,
            "scans": [], "sql": defaultdict(float), "metric_tasks": defaultdict(int),
        }
    )
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or NO_GROUP
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind in (SQL_START, SQL_AQE_UPDATE):
            scans: list = []
            _walk_plan(ev["sparkPlanInfo"], acc_meta, scans)
            exec_scans[int(ev["executionId"])] = scans
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], NO_GROUP)]
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g["output_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            g["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            updated = set()
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                meta = acc_meta.get(acc.get("ID"))
                if meta is None or "Update" not in acc:
                    continue
                node, metric, mtype = meta
                g["sql"][f"{node}/{metric}"] += _metric_value(mtype, acc["Update"])
                updated.add(metric)
            for metric in updated:
                g["metric_tasks"][metric] += 1
    for exec_id, scans in exec_scans.items():
        groups[exec_group.get(exec_id, NO_GROUP)]["scans"].extend(scans)
    return {
        k: {**v, "sql": dict(v["sql"]), "metric_tasks": dict(v["metric_tasks"])}
        for k, v in groups.items()
    }


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def sql_sum(group: dict, node_prefix: str, metric: str) -> float:
    """Sum of one SQL metric over the nodes whose name starts with
    ``node_prefix`` (``""`` matches every node)."""
    return sum(
        v for k, v in group.get("sql", {}).items()
        if k.startswith(node_prefix) and k.endswith("/" + metric)
    )
