"""Benchmark of the semtools_spark engine, run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_kg --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py and README.md): crawl_kg, entity_resolve,
cc_chains, workspace_churn. All run on local[nproc] in this one process.

A run sets up once (SparkSession, inputs, initial load), runs one untimed
warm-up iteration, then times ``max(1, round(seconds / ITER_S))``
iterations, ``ITER_S`` being the workload's nominal iteration wall.
``setup_s`` is the time from process start to the first timed iteration.
Outputs are checked outside the timed region; the last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` turns Spark's event log on and times the iterations with the
package's public functions wrapped (see ``Runner.run``). The per-layer
metrics in the JSON line come from those iterations; the full per-layer
fold is written to ``.perfbench_work/results/<workload>-seed<seed>-trace.json``.

``--record`` stores the warm-up checksums as the expected values for the
seed in perfbench/expected.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

_T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
TICK = os.sysconf("SC_CLK_TCK")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start / TICK


_AGE0 = _process_age_s()


def _since_start() -> float:
    """Seconds since process start: interpreter start and imports included."""
    return _AGE0 + time.perf_counter() - _T0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _descendants() -> list[tuple[int, list[str]]]:
    """(pid, /proc/<pid>/stat fields after the command name) of every
    descendant of this process: the Spark JVM and the Python workers it
    forks."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        stats[int(d)] = fields
    out, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def _stat_ticks(path: str) -> int:
    """utime + stime of one /proc/<pid>[/task/<tid>]/stat, in ticks."""
    try:
        with open(path) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(f[11]) + int(f[12])


def cpu_s(skip_tid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process (the
    driver), its live descendants (the Spark JVM and Python workers) and
    the children they have reaped, leaving out the ``skip_tid`` thread of
    this process (the memory sampler). Unlike wall time it does not count
    time spent waiting for a core."""
    kids = sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for _p, f in _descendants())
    own = _stat_ticks("/proc/self/stat")
    if skip_tid is not None:
        own -= _stat_ticks(f"/proc/self/task/{skip_tid}/stat")
    return (kids + own) / TICK


class MemSampler:
    """Peak summed PSS (MB) of this process's descendants, sampled from
    /proc. PSS splits pages shared between forked Python workers among
    them, where RSS would count them once per worker."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_kb() -> int:
        total = 0
        for pid, _f in _descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._pss_kb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        self.tid = self._thread.native_id
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._pss_kb())
        return False


def _prepare_env(root: str, work: str) -> None:
    """Workers must import the package from the checkout, and every
    temporary file must stay inside it (the JVM reads these at launch)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, root)


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }


class Runner:
    def __init__(self, args, work: str, results: str):
        from workloads import WORKLOADS

        self.args = args
        self.cls = WORKLOADS[args.workload]
        self.iterations = max(1, round(args.seconds / self.cls.ITER_S))
        self.work = work
        self.results = results
        self.spark = None
        self.mismatches: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0

    def _stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, extra_conf: dict | None = None, tracer=None):
        from semtools_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            cpus=os.cpu_count(),
            extra_conf={**_spark_conf(self.work), **(extra_conf or {})},
        )
        data = os.path.join(self.work, "data")
        os.makedirs(data)
        w = self.cls(self.spark, self.args.seed, data, tracer)
        w.setup()
        return w

    def _between(self):
        """Let the ContextCleaner free the last iteration's checkpoints and
        broadcasts, so repeated iterations do not drift."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def warmup(self, w):
        w.iteration(0)
        got = w.checksums(0)
        self.warm_sums = got
        w.last = 0
        want = _load_expected().get(self.args.workload, {}).get(str(self.args.seed))
        if self.args.record:
            _record(self.args.workload, self.args.seed, got)
        elif want is not None:
            # only seeds with recorded values; the reference checks cover
            # every seed
            self.mismatches["checksum_vs_recorded"] = got == want
        self._between()

    def timed(self, w, n: int, sampler: "MemSampler"):
        """Iterations 1..n. A fixed count rather than a deadline: every run
        then takes the same path through JVM warm-up, which keeps runs
        comparable."""
        its = []
        for i in range(1, n + 1):
            try:
                c0 = cpu_s(sampler.tid)
                with w.span("iter"):
                    it = w.iteration(i)
                it.cpu_s = cpu_s(sampler.tid) - c0
            except Exception:  # counted, not raised
                print(f"perfbench: iteration {i} failed", file=sys.stderr)
                traceback.print_exc()
                self.attempted += 1
                self.failed += 1
                w.release(i)
            else:
                self.attempted += it.ops
                its.append(it)
                w.release(w.last)
                w.last = i
            self._between()
        return its

    def check(self, w, its):
        if not its:
            self.mismatches["some_iteration_succeeded"] = False
            return
        if w.repeatable:
            self.mismatches["checksum_repeats"] = w.checksums(w.last) == self.warm_sums
        for name, ok in w.reference_checks(w.last).items():
            self.mismatches[name] = ok

    def run(self):
        """One cold set-up (session, inputs, initial load) and one untimed
        warm-up iteration, then the timed iterations. ``setup_s`` runs from
        process start to the first timed iteration, so it carries the JVM
        start, the imports and every first-call cost.

        With ``--trace 1`` the session has the event log on and the timed
        iterations run with the package's public functions wrapped; the
        per-layer numbers replace the end-to-end ones on stdout."""
        trace = bool(self.args.trace)
        log_dir = os.path.join(self.work, "eventlog")
        tracer = None
        extra = None
        if trace:
            import tracing
            from eventlog import Tracer, eventlog_conf

            tracer, extra = Tracer(), eventlog_conf(log_dir)
        w = self.setup(extra, tracer)
        _log(f"set-up done at {_since_start():.1f} s")
        self.warmup(w)
        setup_s = _since_start()
        _log(f"warm-up done at {setup_s:.1f} s; {self.iterations} timed iterations")
        if trace:
            tracing.wrap_package(tracer)
        try:
            with MemSampler() as mem:
                t0 = time.time()
                its = self.timed(w, self.iterations, mem)
                window = (t0, time.time())
        finally:
            if trace:
                tracer.restore()
        _log(f"timed iterations done at {_since_start():.1f} s")
        self.check(w, its)
        details = {
            **(w.details(its) if its else {}),
            "iterations": len(its),
            "setup_s": setup_s,
            "wall_s_all": [it.wall_s for it in its],
            "write_s_all": [it.write_s for it in its],
            "read_s_all": [it.read_s for it in its],
            "cpu_s_all": [it.cpu_s for it in its],
            # JVM heap growth makes this spread 10-20% between runs, too
            # wide for a gated metric; it is reported here only
            "peak_pss_mb": mem.peak_kb / 1024,
        }
        self._stop()
        if not its:
            return {}, details
        if trace:
            untraced = _load_result(self.results, self.args, "run").get("wall_s_all")
            layers = tracing.fold(self.cls.name, log_dir, tracer, window, its, untraced)
            details["layers"] = layers
            return tracing.stdout_metrics(layers), details
        metrics = {
            "setup_s": (setup_s, "s"),
            # work over the whole iteration: the write and the reads
            "throughput_per_s": (statistics.median(it.work / it.wall_s for it in its), "1/s"),
            "cpu_s": (statistics.median(it.cpu_s for it in its), "s"),
        }
        return metrics, details


def _stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _load_result(results: str, args, kind: str) -> dict:
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-{kind}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def _load_expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh)


def _record(workload: str, seed: int, sums: dict) -> None:
    data = _load_expected()
    data.setdefault(workload, {})[str(seed)] = sums
    with open(EXPECTED, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "semtools_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout with semtools_spark/", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    results = os.path.join(base, "results")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    _prepare_env(root, work)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    runner = Runner(args, work, results)
    try:
        metrics, details = runner.run()
    finally:
        runner._stop()
        _stop_jvm()
        shutil.rmtree(runner.work, ignore_errors=True)

    details["checks"] = runner.mismatches
    mismatches = sum(not ok for ok in runner.mismatches.values())
    details["output_mismatches"] = mismatches
    details["failed_ops"] = runner.failed / max(1, runner.attempted)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(runner.results, f"{args.workload}-seed{args.seed}-{kind}.json"), "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True, default=str)
    print(
        json.dumps(
            {
                "correct": mismatches == 0 and runner.failed == 0,
                "attempted": max(1, runner.attempted),
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
