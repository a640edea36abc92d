"""Per-layer tracing for the benchmark, all from outside the package.

Two sources, joined on wall-clock time:

* **Spans.** :class:`Tracer` wraps public functions of ``semtools_spark``
  (module attributes, so every caller that looks them up at call time is
  covered) and records ``(name, start, end)`` for each call, plus the
  spans the benchmark opens around its own calls.
* **Spark's event log.** :func:`eventlog_conf` turns it on for the traced
  session only: uncompressed and non-rolling, so it is one JSON-lines
  file. :func:`fold_eventlog` folds it offline into jobs, tasks and SQL
  operator metrics, and :func:`group_metrics` attributes jobs to groups —
  the pipeline's own ``semtools-stage-<name>-…`` job groups, or the
  benchmark spans that contain a job's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

#: SQL operator metrics kept per operator name (event-log accumulables)
SQL_METRICS = (
    "number of output rows",
    "time to run Python workers",
    "time to start Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Span recorder. ``wrap`` patches ``owner.attr`` with a timing wrapper;
    ``restore`` puts every original back. Nested calls of functions that
    share a ``family`` count once (the outermost call), so ``fs.s`` is not
    inflated by fs helpers that call each other."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._patched: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))

    def wrap(self, owner, attr: str, name: str, family: str | None = None):
        orig = getattr(owner, attr)
        fam = family or name
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            depth = tracer._depth.get(fam, 0)
            tracer._depth[fam] = depth + 1
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._depth[fam] = depth
                if depth == 0:
                    tracer.spans.append((name, t0, time.time()))

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def totals(self, within: tuple[float, float]) -> dict:
        """{span name: {"calls", "s"}} over the spans inside ``within``."""
        out: dict[str, dict] = {}
        for name, t0, t1 in self.spans:
            if not (within[0] <= t0 and t1 <= within[1]):
                continue
            d = out.setdefault(name, {"calls": 0, "s": 0.0})
            d["calls"] += 1
            d["s"] += t1 - t0
        return out


def _plan_accumulators(node: dict, out: dict[int, tuple[str, str, float]]) -> None:
    """accumulator id → (operator, metric, scale to seconds or units)."""
    for m in node.get("metrics", ()):
        if m.get("name") in SQL_METRICS:
            scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(m.get("metricType"), 1.0)
            out[int(m["accumulatorId"])] = (node.get("nodeName", "?"), m["name"], scale)
    for child in node.get("children", ()):
        _plan_accumulators(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_eventlog(log_dir: str) -> dict:
    """Read the one finished event log under ``log_dir`` into
    ``{"jobs": {id: {...}}, "stage_job": {stage: job}, "tasks": [...]}``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    accs: dict[int, tuple[str, str, float]] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_accumulators(ev.get("sparkPlanInfo") or {}, accs)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sql: dict[str, float] = {}
                for a in info.get("Accumulables", ()):
                    key = accs.get(int(a.get("ID", -1)))
                    if key is not None:
                        k = f"{key[0]}|{key[1]}"
                        sql[k] = sql.get(k, 0.0) + _num(a.get("Update")) * key[2]
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "failed": bool(info.get("Failed")),
                        "duration_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "sql": sql,
                    }
                )
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_metrics(folded: dict, groups: dict[str, dict]) -> dict:
    """Spark metrics per group. A group spec holds ``intervals`` — jobs
    submitted inside those wall intervals belong to the group — and
    optionally ``job_group`` (only jobs the pipeline ran under
    ``semtools-stage-<job_group>-…``) with that stage's own ``wall_s``.
    ``driver_gap_s`` is the wall minus the union of the group's job
    intervals."""
    out = {}
    for group, spec in groups.items():
        iv = spec["intervals"]
        prefix = f"semtools-stage-{spec.get('job_group')}-"
        jids = {
            j for j, job in folded["jobs"].items()
            if any(t0 <= job["start"] <= t1 for t0, t1 in iv)
            and ("job_group" not in spec or (job["group"] or "").startswith(prefix))
        }
        wall = spec.get("wall_s", sum(t1 - t0 for t0, t1 in iv))
        tasks = [t for t in folded["tasks"] if folded["stage_job"].get(t["stage"]) in jids]
        jobs_s = _union_s(
            [
                (folded["jobs"][j]["start"], folded["jobs"][j]["end"])
                for j in jids
                if folded["jobs"][j]["end"] is not None
            ]
        )
        sql: dict[str, float] = {}
        for t in tasks:
            for k, v in t["sql"].items():
                sql[k] = sql.get(k, 0.0) + v
        out[group] = {
            "wall_s": wall,
            "jobs": len(jids),
            "jobs_s": jobs_s,
            "driver_gap_s": wall - jobs_s,
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "executor_run_s": sum(t["run_s"] for t in tasks),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "python_run_s": sql_sum(sql, "time to run Python workers"),
            "python_start_s": sql_sum(sql, "time to start Python workers"),
            "task_skew": _skew(tasks),
            "sql": sql,
        }
    return out


def sql_sum(sql: dict[str, float], metric: str, operator: str = "") -> float:
    """Sum of one SQL metric over the operators whose name starts with
    ``operator``."""
    return sum(
        v for k, v in sql.items()
        if k.startswith(operator) and k.rsplit("|", 1)[1] == metric
    )


def _skew(tasks: list[dict]) -> float:
    """Max over Spark stages of max/median task time (stages of ≥ 2 tasks)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        if not t["failed"]:
            by_stage.setdefault(t["stage"], []).append(t["duration_s"])
    ratios = [
        max(d) / statistics.median(d)
        for d in by_stage.values()
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    return max(ratios) if ratios else 1.0
