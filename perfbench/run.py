"""Benchmark for the query engine: one driver, one client, closed loop.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 5 --trace 0

One run generates the input tables, starts the engine's SparkSession on
``local[nproc]``, runs a cold pass and a measured pass over the workload's
queries (more measured passes while fewer than ``--seconds`` have been
measured), checks every query's output against its DuckDB oracle, and
prints one JSON object as the last line of standard output. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` switches on Spark's event
log and reports the per-layer metrics instead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime
import fnmatch
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
from spans import LAYER_FIELDS, Tracer, layer_metrics, read_event_log  # noqa: E402
from workloads import PACKAGE, QUERY_LAYERS, SCALE, WORKLOADS  # noqa: E402

RUN_DIR = ".perfbench_run"  # per-run roots, removed at the end of each run
OUT_DIR = ".perfbench_out"  # span files written by traced runs
SETUPS = 3  # set-ups per run; setup_s is their median
CHECK_PASS = 0  # this pass collects each result for the oracle check
MEASURED_PASSES = 1  # measured passes per run, at least
DRIVER_MEMORY = "4g"
LAYER_UNITS = {
    "build_s": "s",
    "driver_s": "s",
    "execute_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "gc_s": "s",
}
OTHER_METRICS = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "sources.register_s": "s",
    "session.persist_evictions": "count",
    "session.cached_mb": "MB",
    "sources.input_mb": "MB",
    "sources.scan_s": "s",
    "sources.output_mb": "MB",
    "spark.busy_frac": "ratio",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.batch_max_s": "s",
    "process.peak_rss_mb": "MB",
    "process.pass_cpu_s": "s",
    "tmp.mb_left": "MB",
    "trace.pass_s": "s",
}


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench: [{time.monotonic() - T0:7.2f}s] {msg}", flush=True)


def du_mb(path: str, skip: tuple[str, ...] = ()) -> float:
    """Size of the files under ``path``, leaving out the directories whose
    path relative to ``path`` matches one of the ``skip`` patterns."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        rel = os.path.relpath(dirpath, path)
        dirnames[:] = [
            d
            for d in dirnames
            if not any(
                fnmatch.fnmatch(os.path.normpath(os.path.join(rel, d)), pat)
                for pat in skip
            )
        ]
        for f in filenames:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / 2**20


def proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """Parent pid and user + system CPU ticks of every live process."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])
    return parent, ticks


def process_tree(root: int, parent: dict[int, int]) -> set[int]:
    """``root`` and its live descendants."""
    tree = {root}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= kids
        grew = bool(kids)
    return tree


def alive(pid: int) -> bool:
    """Whether ``pid`` is running (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root``, its live descendants and the
    children they have reaped, plus this process."""
    parent, ticks = proc_table()
    tree = process_tree(root, parent)
    own = os.times()
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK") + (
        own.user + own.system
    )


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat. Steal
    is time this VM's CPUs were runnable but the host ran something else."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def epoch_s(iso: str) -> float:
    """Seconds since the epoch of a streaming progress timestamp."""
    return datetime.datetime.fromisoformat(iso).timestamp()


def batch_listener(durations: list[tuple[float, float]]):
    """A StreamingQueryListener that appends (trigger time, batch seconds)
    for every micro-batch of every streaming query."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchTimes(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            durations.append((epoch_s(p.timestamp), p.batchDuration / 1e3))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchTimes()


class Run:
    def __init__(self, args: argparse.Namespace, root: str) -> None:
        self.args = args
        self.workload = args.workload
        self.queries = WORKLOADS[args.workload]
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.outputs: dict[str, object] = {}
        self.batches: list[tuple[float, float]] = []
        self.nproc = len(os.sched_getaffinity(0))

    # -- environment -------------------------------------------------------
    def _isolate(self) -> None:
        """Point every temp/scratch location the engine uses at this run's
        root, so no state survives from an earlier process."""
        tmp = os.path.join(self.root, "tmp")
        for sub in ("tmp", "local", "index", "ckpt", "eventlog"):
            os.makedirs(os.path.join(self.root, sub))
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.root, "local"),
            SPARK_GRAFT_INDEX_DIR=os.path.join(self.root, "index"),
            SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(self.root, "ckpt"),
            SPARK_GRAFT_CPUS=str(self.nproc),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        )
        import tempfile

        tempfile.tempdir = tmp
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://"
                    + os.path.join(self.root, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        # The JVM ignores TMPDIR: its temp files (streaming checkpoints
        # without a location, among others) follow java.io.tmpdir, and its
        # perf-data file is written under /tmp unless switched off.
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f"--conf {k}={v}" for k, v in conf.items())
            + f" --driver-java-options '{java_opts}' pyspark-shell"
        )

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        with self.tracer.span("setup") as sp:
            t0 = time.perf_counter()
            from parallel_mapreduce_spark import registry

            registry._load_all()
            self.import_s = time.perf_counter() - t0
            from parallel_mapreduce_spark.session import get_spark
            from parallel_mapreduce_spark.sources.tables import register_views

            self.QUERIES = registry.QUERIES
            starts, regs = [], []
            for i in range(SETUPS):
                if i:
                    self.spark.stop()
                with self.tracer.span("session_start", sp, attempt=i):
                    t0 = time.perf_counter()
                    self.spark = get_spark("perfbench")
                    starts.append(time.perf_counter() - t0)
                with self.tracer.span("register_views", sp, attempt=i):
                    t0 = time.perf_counter()
                    register_views(self.spark, self.data_dir)
                    regs.append(time.perf_counter() - t0)
        self.starts, self.regs = starts, regs
        self.start_s = statistics.median(starts)
        self.register_s = statistics.median(regs)
        self.setup_s = self.import_s + statistics.median(
            s + r for s, r in zip(starts, regs)
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid

    def config(self) -> dict:
        conf = self.sc.getConf()
        jvm = self.sc._jvm
        return {
            "workload": self.workload,
            "seed": self.args.seed,
            "nproc": self.nproc,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": self.sc.master,
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "spark.sql.shuffle.partitions": self.spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "loadavg_at_start": self.load_at_start,
            "scale": SCALE,
            "queries": list(self.queries),
        }

    # -- passes --------------------------------------------------------------
    def run_pass(self, idx: int) -> dict:
        """Run every query once, in a seed-permuted order. Return the sum of
        the query spans (build + execute), the time of each query, and the
        CPU time the engine's processes used during the pass. In the check
        pass the execute span collects the result for the oracle check; in
        every other pass it is a noop write."""
        order = list(self.queries)
        random.Random(self.args.seed * 1000 + idx).shuffle(order)
        total = 0.0
        times: dict[str, float] = {}
        cpu0 = tree_cpu_s(self.jvm_pid)
        steal0 = cpu_ticks()
        with self.tracer.span("pass", index=idx) as ps:
            for name in order:
                group = f"{self.workload}:{name}:{idx}"
                self.sc.setJobGroup(group, group)
                self.attempted += 1
                with self.tracer.span(
                    "query", ps, query=name, group=group, **{"pass": idx}
                ) as qs:
                    try:
                        with self.tracer.span("build", qs):
                            df = self.QUERIES[name].fn(self.spark, self.data_dir)
                        with self.tracer.span("execute", qs):
                            if idx == CHECK_PASS:
                                self.outputs[name] = df.toPandas()
                            else:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # a failed query is counted, not fatal
                        self.failed += 1
                        self.errors.append(f"{name} (pass {idx}): {exc!r}"[:500])
                total += qs["dur"]
                times[name] = qs["dur"]
                log(f"pass {idx} {name} {qs['dur']:.3f}s")
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        cpu_s = tree_cpu_s(self.jvm_pid) - cpu0
        steal1 = cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        return {"s": total, "queries": times, "cpu_s": cpu_s, "steal": steal}

    def check(self) -> None:
        con = oracle.connect(self.data_dir)
        try:
            for name in self.queries:
                got = self.outputs.get(name)
                if got is None:
                    continue
                want = con.sql(self.QUERIES[name].oracle).df()
                why = oracle.mismatch(got, want)
                if why is not None:
                    self.failed += 1
                    self.errors.append(f"{name}: oracle mismatch: {why}"[:500])
        finally:
            con.close()

    # -- main ----------------------------------------------------------------
    def run(self) -> dict:
        self.load_at_start = os.getloadavg()[0]
        self._isolate()
        datagen.write_tables(
            datagen.permute(datagen.make_tables(SCALE), self.args.seed),
            self.data_dir,
        )
        log("inputs written")
        try:
            return self._measure()
        finally:
            self._shutdown()

    def _measure(self) -> dict:
        self.setup()
        from parallel_mapreduce_spark.session import persist_evictions

        if self.args.trace:
            self.spark.streams.addListener(batch_listener(self.batches))
        log("config " + json.dumps(self.config()))
        log(
            f"setup import_s={self.import_s:.3f} session_start_s={self.starts}"
            f" register_s={self.regs}"
        )
        cold = self.run_pass(0)
        cold_s = cold["s"]
        first = 1
        measured: list[dict] = []
        evict0 = persist_evictions()
        while len(measured) < MEASURED_PASSES or (
            sum(p["s"] for p in measured) < self.args.seconds
        ):
            measured.append(self.run_pass(first + len(measured)))
            if len(measured) == 1:
                self.evictions = persist_evictions() - evict0
                self.cached_mb = self._cached_mb()
        self.peak_rss_mb = vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self")
        self.check()
        log("oracle check done")
        self._shutdown()
        # The engine's sink root (tmp/pmr_sinks_*) is removed by its own
        # atexit handler, which has not run yet; it is not a leak.
        self.tmp_mb_left = du_mb(
            self.root, skip=("data", "eventlog", "tmp/pmr_sinks_*")
        )
        for err in self.errors:
            log("FAILED " + err)
        log(
            f"cold_pass_s={cold_s:.3f}"
            f" measured passes={[round(p['s'], 3) for p in measured]}"
            f" cpu={[round(p['cpu_s'], 3) for p in measured]}"
            f" steal={[round(p['steal'], 3) for p in [cold] + measured]}"
            f" error_rate={self.failed}/{self.attempted}"
        )
        # A typical warm pass: each query's median over the measured
        # passes, summed, so one slow query in one pass moves it little.
        pass_s = sum(
            statistics.median(p["queries"][q] for p in measured)
            for q in self.queries
            if all(q in p["queries"] for p in measured)
        )
        self.pass_cpu_s = statistics.median(p["cpu_s"] for p in measured)
        if self.args.trace:
            metrics = self._trace_metrics(first, pass_s)
        else:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "cold_pass_s": (cold_s, "s"),
                "pass_s": (pass_s, "s"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }

    def _cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def _shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM and its
        Python worker daemons to exit."""
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        workers = process_tree(proc.pid, proc_table()[0]) - {proc.pid}
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # The daemons see the JVM's end on their stdin and exit; they are
        # no longer our children, so poll for them.
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = {p for p in workers if alive(p)}
            time.sleep(0.05)
        for pid in workers:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass

    def _trace_metrics(
        self, first: int, typical_pass_s: float
    ) -> dict[str, tuple[float, str]]:
        """Per-layer figures of the first measured pass (index ``first``)."""
        logs = [
            os.path.join(self.root, "eventlog", f)
            for f in os.listdir(os.path.join(self.root, "eventlog"))
        ]
        # The last set-up's application is the one that ran the passes.
        jobs = read_event_log(max(logs, key=os.path.getmtime))
        layer_of = {
            n: self.QUERIES[n].fn.__module__.removeprefix(PACKAGE)
            for n in self.queries
        }
        layers, pass_jobs = layer_metrics(self.tracer.spans, jobs, first, layer_of)
        first_pass_s = next(
            s["dur"]
            for s in self.tracer.spans
            if s["name"] == "pass" and s["attrs"]["index"] == first
        )
        cores = self.nproc
        # Micro-batches belong to the query span they were triggered in.
        passes = {
            s["id"]: s["attrs"]["index"]
            for s in self.tracer.spans
            if s["name"] == "pass"
        }
        query_spans = [
            (s["start"], s["end"], passes[s["parent"]])
            for s in self.tracer.spans
            if s["name"] == "query"
        ]
        batch_pass = [
            (next((p for lo, hi, p in query_spans if lo <= t <= hi), -1), d)
            for t, d in self.batches
        ]
        measured_batches = [d for p, d in batch_pass if p >= first]
        values = {
            "registry.import_s": self.import_s,
            "session.start_s": self.start_s,
            "sources.register_s": self.register_s,
            "session.persist_evictions": self.evictions,
            "session.cached_mb": self.cached_mb,
            "sources.input_mb": sum(j.input_b for j in pass_jobs) / 2**20,
            "sources.scan_s": sum(j.input_run_s for j in pass_jobs),
            "sources.output_mb": sum(j.output_b for j in pass_jobs) / 2**20,
            "spark.busy_frac": sum(j.run_s for j in pass_jobs)
            / (first_pass_s * cores),
            "spark.fetch_wait_s": sum(j.fetch_wait_s for j in pass_jobs),
            "spark.spill_mb": sum(j.spill_b for j in pass_jobs) / 2**20,
            "spark.failed_tasks": sum(j.failed for j in pass_jobs),
            "streaming.batches": sum(1 for p, _ in batch_pass if p == first),
            "streaming.batch_p50_s": statistics.median(measured_batches or [0.0]),
            "streaming.batch_max_s": max(measured_batches or [0.0]),
            "process.peak_rss_mb": self.peak_rss_mb,
            "process.pass_cpu_s": self.pass_cpu_s,
            "tmp.mb_left": self.tmp_mb_left,
            "trace.pass_s": typical_pass_s,
        }
        out = {
            f"{layer}.{f}": (layers.get(layer, {}).get(f, 0.0), LAYER_UNITS[f])
            for layer in QUERY_LAYERS
            for f in LAYER_FIELDS
        }
        out.update((k, (v, OTHER_METRICS[k])) for k, v in values.items())
        os.makedirs(os.path.join(REPO, OUT_DIR), exist_ok=True)
        self.tracer.dump(
            os.path.join(
                REPO, OUT_DIR, f"spans-{self.workload}-s{self.args.seed}.json"
            )
        )
        return out


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the run root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "parallel_mapreduce_spark")):
        print(
            "perfbench: the engine package parallel_mapreduce_spark/ is not"
            f" next to {HERE}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, REPO)
    root = os.path.join(
        REPO, RUN_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    cwd = os.getcwd()
    os.chdir(root)
    try:
        result = Run(args, root).run()
    finally:
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
