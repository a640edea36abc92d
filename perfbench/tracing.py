"""Per-layer numbers of a traced run: which package functions are wrapped,
and how the spans and the folded event log become one JSON per workload."""

from __future__ import annotations

import statistics

from eventlog import fold_eventlog, group_metrics, sql_sum

FS_FUNCTIONS = (
    "exists", "is_dir", "mkdirs", "delete", "rename", "listdir", "write_text",
    "create_exclusive", "read_text", "listing", "parquet_lineage",
)

#: per-layer metrics printed on stdout: Spark totals per timed iteration
STDOUT_SPARK = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "task_skew", "jobs_s",
    "driver_gap_s",
)
UNITS = {"jobs": "count", "tasks": "count", "task_skew": "ratio"}


def wrap_package(tracer) -> None:
    from semtools_spark import fs as hfs
    from semtools_spark import pipeline
    from semtools_spark.operators import kg, workspace

    for name in FS_FUNCTIONS:
        tracer.wrap(hfs, name, f"fs.{name}", family="fs")
    tracer.wrap(pipeline, "fingerprint", "pipeline.fingerprint")
    for attr in ("__init__", "commit", "committed"):
        tracer.wrap(
            pipeline.CheckpointManifest, attr, f"pipeline.manifest.{attr.strip('_')}",
            family="pipeline.manifest",
        )
    tracer.wrap(workspace, "merge_upsert", "workspace.merge")
    for fn in ("link_entities", "canonicalize_mentions", "connected_components"):
        tracer.wrap(kg, fn, f"kg.{fn}")


def _med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def fold(workload: str, log_dir: str, tracer, window, its, untraced) -> dict:
    """One JSON-able dict of per-layer numbers for the traced iterations."""
    folded = fold_eventlog(log_dir)
    spans = [s for s in tracer.spans if window[0] <= s[1] and s[2] <= window[1]]
    by_name: dict[str, list[tuple[float, float]]] = {}
    for name, t0, t1 in spans:
        by_name.setdefault(name, []).append((t0, t1))
    n = max(1, len(its))

    groups = {
        name: {"intervals": iv}
        for name, iv in by_name.items()
        if not name.startswith("fs.")
    }
    reports = [it.extra["report"]["stages"] for it in its if "report" in it.extra]
    for stage in reports[0] if reports else ():
        groups[f"kg.{stage}"] = {
            "intervals": [window],
            "job_group": stage,
            "wall_s": sum(r[stage].get("wall_s", 0.0) for r in reports),
        }
    spark = group_metrics(folded, groups)

    calls = tracer.totals(within=window)
    fs_calls = sum(v["calls"] for k, v in calls.items() if k.startswith("fs."))
    fs_s = sum(v["s"] for k, v in calls.items() if k.startswith("fs."))
    traced_wall = _med(it.wall_s for it in its)
    layers: dict = {
        "iterations": len(its),
        "iter.wall_s": traced_wall,
        "fs.calls": fs_calls / n,
        "fs.s": fs_s / n,
        "functions": {k: {"calls": v["calls"] / n, "s": v["s"] / n} for k, v in sorted(calls.items())},
        "spark": spark,
    }

    def per_iter(key: str) -> float:
        return calls.get(key, {"s": 0.0})["s"] / n

    if untraced:
        # the untraced run of the same seed, if it ran in this checkout
        plain_wall = _med(untraced)
        layers["untraced.iter.wall_s"] = plain_wall
        layers["trace.overhead_s"] = traced_wall - plain_wall
        layers["trace.overhead_ratio"] = traced_wall / plain_wall
    if workload == "crawl_kg":
        manifest_s = sum(per_iter(f"pipeline.manifest.{a}") for a in ("init", "commit", "committed"))
        stage_walls = {s: sum(r[s]["wall_s"] for r in reports) / n for s in reports[0]}
        run = spark["pipeline.run"]
        in_stages = sum(stage_walls.values())
        between = per_iter("pipeline.fingerprint") + manifest_s
        wall = run["wall_s"] / n
        stage_jobs = sum(spark[f"kg.{s}"]["jobs_s"] for s in stage_walls) / n
        gap = run["driver_gap_s"] / n
        layers.update(
            {
                "pipeline.fingerprint_s": per_iter("pipeline.fingerprint"),
                "pipeline.lineage_s": per_iter("fs.parquet_lineage"),
                "pipeline.manifest_s": manifest_s,
                "kg_resume_s": _med(t1 - t0 for t0, t1 in by_name["pipeline.resume"]),
                "stages": {
                    s: {"wall_s": stage_walls[s], "rows": reports[-1][s]["rows"]} for s in stage_walls
                },
                # pipeline layer: stage walls (the pipeline's own timers)
                # plus the wrapped bookkeeping between stages, against the
                # benchmark's wall of the whole call
                "reconcile.pipeline": {
                    "wall_s": wall,
                    "stage_walls_s": in_stages,
                    "between_stages_s": between,
                    "error": abs(wall - in_stages - between) / wall,
                },
                # Spark layer: the stages' job time plus the driver gap of
                # the whole call (wall minus the union of its job intervals)
                "reconcile.spark": {
                    "wall_s": wall,
                    "stage_jobs_s": stage_jobs,
                    "driver_gap_s": gap,
                    "error": abs(wall - stage_jobs - gap) / wall,
                },
            }
        )
    elif workload == "workspace_churn":
        sync = spark.get("workspace.sync", {})
        search = spark.get("workspace.search", {})
        edited = sum(it.extra["edited"] for it in its)
        returned = sum(it.extra["returned"] for it in its)
        layers.update(
            {
                "workspace.merge_s": per_iter("workspace.merge"),
                "workspace.merge_calls": calls.get("workspace.merge", {"calls": 0})["calls"] / n,
                # lines that went through the embedding UDF per edited line
                # (each edit changes exactly one line)
                "workspace.lines_reembedded": sql_sum(
                    sync.get("sql", {}), "number of output rows", "ArrowEvalPython"
                ) / max(1, edited),
                # rows read by the search scans per result row returned
                "workspace.search.rows_scanned": sql_sum(
                    search.get("sql", {}), "number of output rows", "Scan"
                ) / max(1, returned),
            }
        )
    elif workload == "cc_chains":
        cc = spark["kg.cc"]
        layers.update({"kg.cc.jobs": cc["jobs"] / n, "kg.cc.driver_gap_s": cc["driver_gap_s"] / n})
    return layers


def stdout_metrics(layers: dict) -> dict:
    it = layers["spark"]["iter"]
    n = max(1, layers["iterations"])
    out = {
        "iter.wall_s": (layers["iter.wall_s"], "s"),
        "fs.calls": (layers["fs.calls"], "count"),
        "fs.s": (layers["fs.s"], "s"),
    }
    for k in STDOUT_SPARK:
        v = it[k] if k == "task_skew" else it[k] / n
        unit = UNITS.get(k, "bytes" if k.endswith("_bytes") else "s")
        out[f"spark.{k}"] = (v, unit)
    return out
