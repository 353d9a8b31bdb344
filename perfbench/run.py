#!/usr/bin/env python3
"""Benchmark for the engine: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. A run

1. generates the workload's tables from ``--seed`` (``datagen.py``,
   untimed, cached under ``.perfbench_cache/``);
2. sets up: ``session.get_session``, ``registry.ensure_layouts`` and one
   warm-up pass over a fixture directory of its own, which collects
   every query's rows and forces it with the ``noop`` sink (``setup_s``);
3. runs timed passes in a closed loop (one client: each query is
   submitted after the previous one is forced with the ``noop`` sink)
   until ``--seconds`` have passed and at least two passes are done.
   Every pass reads a fixture directory the session has not seen, so
   path-keyed memos and caches never carry over between passes;
4. after timing, compares the rows collected in the warm-up pass with
   each query's DuckDB oracle over the same generated tables.

The last line of stdout is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run also writes Spark's event log, registers a streaming listener,
polls cached storage at query boundaries, samples the memory of the
driver JVM's process tree, and reports its pass time relative to
untraced runs as ``trace.overhead_frac``. Diagnostics go
to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

import numpy as np

from datagen import generate
from oracle import Collected, connect
from tracing import (
    MemorySampler,
    Window,
    WindowIndex,
    cached_storage,
    find_event_log,
    make_stream_listener,
    parse_event_log,
    process_tree,
)
from workloads import WORKLOADS, module_of

#: a run must end well inside three minutes, whatever happens
WATCHDOG_S = 175
DRIVER_MEM = "3g"
#: C1 only: HotSpot's C2 keeps recompiling Spark's planner for the
#: first half minute of queries, so pass times fall by a quarter over a
#: run and a run's figure depends on how far its JIT has got. C1
#: compiles within the warm-up pass, and the timed passes run flat.
DRIVER_JAVA_OPTS = "-XX:TieredStopAtLevel=1"
MIN_PASSES = 2
CACHE_DIR = ".perfbench_cache"
WORK_DIR = ".perfbench_work"
#: untraced runs whose pass times are kept for trace.overhead_frac
UNTRACED_KEEP = 64
#: the longest an untraced baseline run made by a traced run may take;
#: the rest of the watchdog's time is the traced run's
UNTRACED_CHILD_S = 95


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class QueryRun:
    query: str
    pass_idx: int
    build_s: float
    exec_s: float
    start_ms: float
    end_ms: float
    error: str | None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


# ---------------------------------------------------------------- inputs


def cached_fixture(root: str, seed: int) -> tuple[str, dict]:
    """Generated tables for ``seed``; generated on a miss. Only the few
    most recent fixtures are kept."""
    base = os.path.join(root, CACHE_DIR, "data")
    dst = os.path.join(base, f"seed{seed}")
    meta = os.path.join(dst, "sizes.json")
    if not os.path.exists(meta):
        shutil.rmtree(dst, ignore_errors=True)
        sizes = generate(dst, seed)
        with open(meta, "w") as fh:
            json.dump(sizes, fh)
    os.utime(dst)
    entries = sorted(
        (os.path.join(base, e) for e in os.listdir(base)), key=os.path.getmtime
    )
    for stale in entries[:-4]:
        shutil.rmtree(stale, ignore_errors=True)
    with open(meta) as fh:
        return dst, json.load(fh)


def link_fixture(src: str, dst: str) -> str:
    """A fresh fixture path holding the same files (hard links)."""
    os.makedirs(dst)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.link(os.path.join(src, f), os.path.join(dst, f))
    return dst


# ----------------------------------------------------------- environment


def pin_env(root: str, work: str) -> None:
    """Environment the engine reads, pinned so that every run of every
    commit sees the same one."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine (e.g. tokenizer UDFs) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM, including spark-submit's launcher: temp files inside
    # the work directory and no hsperfdata file under the system tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def redirect_scratch(new_root: str) -> str:
    """Point the engine's scratch-layout root at ``new_root``.

    The engine keeps pay-once layouts and query sink outputs under one
    absolute scratch root (``queries._shared._SCRATCH``, re-imported by
    each family module, plus the bucketed-layout default argument).
    Redirecting it into the run's work directory keeps every write
    inside the checkout and makes each run's set-up start from the
    same, empty, layout state. Returns the original root."""
    from etl_pyspark_spark.queries import _shared
    from etl_pyspark_spark.sources import bucketed

    old = _shared._SCRATCH
    for name, mod in list(sys.modules.items()):
        if name.startswith("etl_pyspark_spark") and getattr(mod, "_SCRATCH", None) == old:
            mod._SCRATCH = new_root
    fn = bucketed.ensure_bucketed_fixtures
    fn.__defaults__ = tuple(
        new_root + d[len(old):] if isinstance(d, str) and d.startswith(old) else d
        for d in fn.__defaults__
    )
    return old


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM behind it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_steal_s() -> float:
    """CPU time the hypervisor has given other guests while this one's
    CPUs had work, summed over CPUs: the host's load, which slows every
    layer alike."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def kill_tree(pid: int) -> None:
    for p in reversed(process_tree(pid)):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------ statistics


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def per_pass_pct(runs: list[QueryRun], q: float) -> float:
    """The ``q``-th percentile of query wall times within each pass,
    median over passes. Every pass holds the same queries, so the
    percentile weighs them the same way in every pass and run."""
    by_pass: dict[int, list[float]] = {}
    for r in runs:
        by_pass.setdefault(r.pass_idx, []).append(r.wall_s)
    return median([pct(walls, q) for walls in by_pass.values()])


# ----------------------------------------------------------------- bench


class Bench:
    def __init__(self, root: str, work: str, workload: str, seed: int,
                 seconds: int, trace: bool):
        self.root, self.work = root, work
        self.workload, self.queries = workload, WORKLOADS[workload]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.jvm_pid: int | None = None
        self.listener = None
        self.storage_max = (0, 0)

    def run_pass(self, spark, fixture: str, pass_idx: int,
                 results: dict | None = None) -> tuple[float, list[QueryRun]]:
        """Every query of the workload, in order, on one fixture directory.
        Queries are forced with the noop sink; when ``results`` is given,
        each is collected into it (name -> ``oracle.Collected``) first."""
        from etl_pyspark_spark.registry import QUERIES

        sc = spark.sparkContext
        runs = []
        t_pass = time.perf_counter()
        for name in self.queries:
            sc.setJobDescription(f"pass{pass_idx}:{name}")
            start_ms = time.time() * 1000.0
            t0 = time.perf_counter()
            t1 = None
            error = None
            try:
                df = QUERIES[name](spark, fixture)
                t1 = time.perf_counter()
                if results is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[name] = Collected(df)
                    # and the timed passes' sink, whose plans compile
                    # code of their own
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is counted, not fatal
                error = f"{type(exc).__name__}: {str(exc)[:300]}"
                log(f"{name} failed in pass {pass_idx}: {error}")
            t2 = time.perf_counter()
            t1 = t1 if t1 is not None else t2
            runs.append(QueryRun(name, pass_idx, t1 - t0, t2 - t1, start_ms,
                                 time.time() * 1000.0, error))
            if self.trace:
                n, b = cached_storage(spark)
                self.storage_max = (max(self.storage_max[0], n), max(self.storage_max[1], b))
        sc.setJobDescription(None)
        return time.perf_counter() - t_pass, runs

    def check(self, results: dict, fixture: str, scratch_old: str,
              scratch_new: str) -> dict[str, str]:
        """Oracle mismatches by query name, for rows collected on ``fixture``."""
        from etl_pyspark_spark.registry import ORACLES
        from tests.oracle_utils import compare

        con = connect(fixture, os.path.join(self.work, "tmp"))
        bad = {}
        try:
            for name in self.queries:
                if name not in results:
                    bad[name] = "failed in the warm-up pass"
                    continue
                sql = ORACLES.get(name)
                if sql is None:
                    continue  # rows-only query: collecting its rows is the check
                problems = compare(results[name], con,
                                   sql.replace(scratch_old, scratch_new))
                if problems:
                    bad[name] = "; ".join(problems)
                    log(f"{name} MISMATCH: {bad[name]}")
        finally:
            con.close()
        return bad

    def run(self) -> dict:
        src, sizes = cached_fixture(self.root, self.seed)
        log("inputs: " + ", ".join(
            f"{t} {s['rows']} rows/{s['bytes']} B" for t, s in sizes.items()))
        pin_env(self.root, self.work)
        sys.path.insert(1, self.root)
        from etl_pyspark_spark import registry
        from etl_pyspark_spark.session import get_session

        scratch = os.path.join(self.work, "scratch")
        scratch_old = redirect_scratch(scratch)
        fx_root = os.path.join(self.work, "fixtures")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTS,
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })

        warm_fx = link_fixture(src, os.path.join(fx_root, "warm"))
        t0 = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            t1 = time.perf_counter()
            registry.ensure_layouts(spark, warm_fx)
            t2 = time.perf_counter()
            checked: dict = {}
            self.run_pass(spark, warm_fx, -1, checked)
            t3 = time.perf_counter()
            log(f"setup {t3 - t0:.2f}s (session {t1 - t0:.2f}s, layouts "
                f"{t2 - t1:.2f}s, warm-up pass {t3 - t2:.2f}s)")
            self.storage_max = (0, 0)
            if self.trace:
                self.listener = make_stream_listener()
                spark.streams.addListener(self.listener)

            passes: list[float] = []
            runs: list[QueryRun] = []
            mem = MemorySampler(self.jvm_pid) if self.trace else contextlib.nullcontext()
            with mem:
                t_loop = time.perf_counter()
                while True:
                    i = len(passes)
                    fx = link_fixture(src, os.path.join(fx_root, f"pass{i}"))
                    steal0 = host_steal_s()
                    pass_s, pass_runs = self.run_pass(spark, fx, i)
                    passes.append(pass_s)
                    runs.extend(pass_runs)
                    log(f"pass {i}: {pass_s:.3f}s (host steal "
                        f"{host_steal_s() - steal0:.2f} CPU-s)")
                    if len(passes) >= MIN_PASSES and time.perf_counter() - t_loop >= self.seconds:
                        break
        finally:
            # stopping the context drains its listener bus, so every
            # streaming progress report has reached the listener
            spark.stop()
            stream_reports = self.listener.snapshot() if self.listener else []
            stop_jvm()
        mismatched = self.check(checked, warm_fx, scratch_old, scratch)

        attempted = len(runs)
        failed = sum(1 for r in runs if r.error or r.query in mismatched)
        log(f"{len(passes)} passes, {attempted} timed queries, {failed} failed"
            + (f"; mismatched: {sorted(mismatched)}" if mismatched else ""))
        for name in self.queries:
            log(f"  {name:<40} " + " ".join(
                f"{r.wall_s:.3f}" for r in runs if r.query == name))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
        }
        pass_s = median(passes)
        if not self.trace:
            record_untraced(self.root, self.workload, self.seed, passes)
            metrics = {
                "pass_s": (pass_s, "s"),
                "query_p50_s": (per_pass_pct(runs, 50), "s"),
                "query_p90_s": (per_pass_pct(runs, 90), "s"),
                "setup_s": (t3 - t0, "s"),
            }
        else:
            metrics = layer_metrics(
                runs, len(passes),
                parse_event_log(find_event_log(log_dir), windows_of(runs)),
                stream_reports, self.storage_max,
            )
            metrics["session.start_s"] = (t1 - t0, "s")
            metrics["sources.layout_build_s"] = (t2 - t1, "s")
            metrics["session.peak_rss_mb"] = (mem.peak_bytes / 2**20, "MB")
            log(f"peak memory {mem.peak_bytes / 2**20:.0f} MB in {mem.peak_procs} "
                f"processes, JVM {mem.peak_root_bytes / 2**20:.0f} MB")
            metrics["trace.overhead_frac"] = (pass_s / median(
                recorded_untraced(self.root, self.workload, self.seed)) - 1.0, "ratio")
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return result


def windows_of(runs: list[QueryRun]) -> list[Window]:
    return [Window(r.start_ms, r.end_ms, (r.pass_idx, r.query)) for r in runs]


def layer_metrics(runs, n_passes, counters, stream_reports, storage_max) -> dict:
    """Per-layer metrics, each summed over the timed passes and divided
    by their number (a per-pass figure), except ratios and maxima."""
    def per_pass(x: float) -> float:
        return x / n_passes

    def total(field: str, which=lambda q: True) -> float:
        return sum(c.sums.get(field, 0.0) for (p, q), c in counters.items() if which(q))

    m = {
        "queries.build_s": (per_pass(sum(r.build_s for r in runs)), "s"),
        "queries.exec_s": (per_pass(sum(r.exec_s for r in runs)), "s"),
        "queries.jobs": (per_pass(sum(c.jobs for c in counters.values())), "count"),
        "queries.stages": (per_pass(sum(c.stages for c in counters.values())), "count"),
        "queries.tasks": (per_pass(sum(c.tasks for c in counters.values())), "count"),
    }
    in_bytes = total("input_bytes")
    out_bytes = total("output_bytes")
    m.update({
        "sources.input_bytes": (per_pass(in_bytes), "B"),
        "sources.input_records": (per_pass(total("input_records")), "count"),
        "sources.output_bytes": (per_pass(out_bytes), "B"),
        "sources.output_files": (per_pass(total("output_files")), "count"),
        "sources.write_amplification": (out_bytes / in_bytes if in_bytes else 0.0, "ratio"),
        "operators.shuffle_write_bytes": (per_pass(total("shuffle_write_bytes")), "B"),
        "operators.shuffle_read_bytes": (per_pass(total("shuffle_read_bytes")), "B"),
        "operators.fetch_wait_s": (per_pass(total("fetch_wait_ms")) / 1e3, "s"),
        "operators.spill_bytes": (per_pass(total("spill_bytes")), "B"),
        "operators.task_skew": (median([
            max([c.task_skew() for (p, q), c in counters.items() if p == i] or [1.0])
            for i in range(n_passes)
        ]), "ratio"),
        "operators.executor_cpu_s": (per_pass(total("cpu_ns")) / 1e9, "s"),
        "operators.gc_s": (per_pass(total("gc_ms")) / 1e3, "s"),
    })
    for module in ("functions", "dedup", "similarity"):
        mine = lambda q, module=module: module_of(q) == module  # noqa: E731
        m[f"{module}.exec_s"] = (
            per_pass(sum(r.exec_s for r in runs if mine(r.query))), "s")
        m[f"{module}.python_bytes_sent"] = (per_pass(total("python_bytes_sent", mine)), "B")
        m[f"{module}.python_bytes_received"] = (
            per_pass(total("python_bytes_received", mine)), "B")
    m["checkpoint.cached_rdds"] = (storage_max[0], "count")
    m["checkpoint.cached_bytes"] = (storage_max[1], "B")

    # streaming: progress reports whose trigger started inside a timed query
    index = WindowIndex(windows_of(runs))
    timed = [r for r in stream_reports if index.find(r["ts_ms"])]
    last_state: dict[str, dict] = {}
    for r in timed:
        last_state[r["id"]] = r
    m.update({
        "streaming.batches": (per_pass(len(timed)), "count"),
        "streaming.input_rows": (per_pass(sum(r["rows"] for r in timed)), "count"),
        "streaming.trigger_s": (per_pass(sum(
            r["durations"].get("triggerExecution", 0) for r in timed)) / 1e3, "s"),
        "streaming.commit_s": (per_pass(sum(
            r["durations"].get("walCommit", 0) + r["durations"].get("commitOffsets", 0)
            for r in timed)) / 1e3, "s"),
        "streaming.state_rows": (per_pass(sum(
            r["state_rows"] for r in last_state.values())), "count"),
        "streaming.state_bytes": (per_pass(sum(
            r["state_bytes"] for r in last_state.values())), "B"),
    })
    return m


# ------------------------------------------------- untraced pass record


def source_digest(root: str) -> str:
    """Digest of the engine's and the benchmark's Python sources: the
    program a pass time was measured on."""
    files = []
    for top in ("etl_pyspark_spark", "perfbench"):
        for dirpath, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _untraced_key(root: str, workload: str, seed: int) -> str:
    return f"{source_digest(root)}/{workload}/{seed}"


def _untraced_path(root: str) -> str:
    return os.path.join(root, CACHE_DIR, "untraced_pass_s.json")


def _load_untraced(root: str) -> dict:
    try:
        with open(_untraced_path(root)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def record_untraced(root: str, workload: str, seed: int, passes: list[float]) -> None:
    """Keep the pass times of an untraced run, keyed by source digest,
    workload and seed (the latest run per key, the latest keys only)."""
    rec = _load_untraced(root)
    key = _untraced_key(root, workload, seed)
    rec.pop(key, None)
    rec[key] = passes
    with open(_untraced_path(root), "w") as fh:
        json.dump(dict(list(rec.items())[-UNTRACED_KEEP:]), fh)


def recorded_untraced(root: str, workload: str, seed: int) -> list[float]:
    """Pass times of the latest untraced run of the same sources,
    workload and seed; [] if there is none."""
    return _load_untraced(root).get(_untraced_key(root, workload, seed), [])


def run_untraced_child(args, root: str) -> None:
    """One untraced run of the same workload and seed in a child
    process, which records its pass times; stopped after
    ``UNTRACED_CHILD_S``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    child = subprocess.Popen(cmd, cwd=root, stdout=subprocess.DEVNULL,
                             start_new_session=True)
    try:
        child.wait(timeout=UNTRACED_CHILD_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGTERM)
        child.wait()


# ------------------------------------------------------------------ main


def new_work_dir(base: str) -> str:
    """A fresh work directory named after this process; directories left
    by runs whose process is gone are removed first."""
    os.makedirs(base, exist_ok=True)
    for entry in os.listdir(base):
        pid = entry.split("-")[1] if entry.count("-") >= 2 else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_pyspark_spark", "registry.py")):
        log("run from the repository root: etl_pyspark_spark/ not found")
        return 2

    t_start = time.monotonic()
    if args.trace and not recorded_untraced(root, args.workload, args.seed):
        log("no untraced run of these sources and this seed recorded; "
            "making one first")
        run_untraced_child(args, root)
        if not recorded_untraced(root, args.workload, args.seed):
            log(f"the untraced baseline run failed or took over {UNTRACED_CHILD_S}s; "
                "no trace.overhead_frac, no result")
            return 1

    work = new_work_dir(os.path.join(root, WORK_DIR))
    bench = Bench(root, work, args.workload, args.seed, args.seconds,
                  bool(args.trace))

    def abort(signum, frame):
        log(f"aborting on {signal.Signals(signum).name} (watchdog: {WATCHDOG_S}s)")
        if bench.jvm_pid:
            kill_tree(bench.jvm_pid)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, abort)
    signal.signal(signal.SIGTERM, abort)
    signal.alarm(max(1, int(WATCHDOG_S - (time.monotonic() - t_start))))
    try:
        result = bench.run()
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
