"""Shared plumbing for the layered benchmark: a hermetic work directory,
the Spark session, statistics, peak-RSS sampling, Spark job accounting
and the span tracer.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
The program under test writes some fixtures under a fixed directory
outside the checkout and discovers test corpora under a fixed root (the
defaults of its ``*_fixture_path`` functions and of
``functions.manifest._testdata_sf_dirs``); ``rebase_fixture_paths``
points both at the run's work directory before any query runs, without
editing the program.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import types
import urllib.request

# ---------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, int, int]:
    """Highest percentile that still has >= 10 samples beyond it.

    Returns ``(value, percentile, samples_beyond)``. With 20 or fewer
    samples no percentile above the median has ten samples beyond it,
    so the maximum is reported as p100 with the true count beyond (0).
    """
    xs = sorted(values)
    n = len(xs)
    if n <= 20:
        return float(xs[-1]), 100, 0
    pct = int(100 * (1 - 10 / n))
    rank = max(0, min(n - 1, -(-pct * n // 100) - 1))  # nearest-rank
    return float(xs[rank]), pct, n - 1 - rank


# ---------------------------------------------------------------------
# hermetic work directory
# ---------------------------------------------------------------------


class WorkDir:
    """``<checkout>/.perfbench/run-<pid>``; removed by ``close``."""

    def __init__(self, checkout: str) -> None:
        self.checkout = checkout
        self.base = os.path.join(checkout, ".perfbench")
        self.path = os.path.join(self.base, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "fixtures", "spark-local", "warehouse", "testdata"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def hermetic_env(work: WorkDir) -> None:
    """Point every temp-dir consumer at the work dir and let Spark's
    Python workers import the checkout's packages. Must run before
    pyspark or ``tempfile`` pick their defaults."""
    import tempfile

    os.environ["TMPDIR"] = os.path.join(work.path, "tmp")
    # JVMs write perf counters to a fixed temp dir (hsperfdata) unless
    # told not to; Spark's JVM gets the flag in start_spark
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # recompute from TMPDIR
    paths = [work.checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    if work.checkout not in sys.path:
        sys.path.insert(0, work.checkout)


def _rebased(value, mapping: dict[str, str]):
    if isinstance(value, str):
        for old, new in mapping.items():
            if value == old or value.startswith(old + "/"):
                return new + value[len(old):]
    return value


def _rebase_code(code: types.CodeType, mapping: dict[str, str]) -> types.CodeType:
    consts = tuple(
        _rebase_code(c, mapping) if isinstance(c, types.CodeType) else _rebased(c, mapping)
        for c in code.co_consts
    )
    return code.replace(co_consts=consts) if consts != code.co_consts else code


def rebase_fixture_paths(work: WorkDir) -> None:
    """Rewrite the program's fixed fixture and test-data paths (string
    constants, default arguments, module constants) to the work dir, in
    this process. Queries write their fixtures from this process, so
    this covers every write the suite makes."""
    import inspect

    import __spark_entry__  # noqa: F401  (imports every module the suite uses)
    import chunker_spark.ops  # noqa: F401
    from chunker_spark.cdc import envelopes
    from chunker_spark.functions import manifest

    fixture_root = inspect.signature(envelopes.canal_fixture_path).parameters["base"].default
    corpus_root = inspect.signature(manifest._testdata_sf_dirs).parameters["root"].default
    mapping = {
        fixture_root: os.path.join(work.path, "fixtures"),
        corpus_root: os.path.join(work.path, "testdata"),
    }
    mods = [
        m for name, m in list(sys.modules.items())
        if m is not None and (name == "__spark_entry__" or name.startswith("chunker_spark"))
    ]
    for mod in mods:
        for attr, val in list(vars(mod).items()):
            new = _rebased(val, mapping)
            if new is not val:
                setattr(mod, attr, new)
            fns = [val] if isinstance(val, types.FunctionType) else []
            if isinstance(val, type) and val.__module__ == mod.__name__:
                fns = [f for f in vars(val).values() if isinstance(f, types.FunctionType)]
            for fn in fns:
                if fn.__module__ != mod.__name__:
                    continue
                fn.__code__ = _rebase_code(fn.__code__, mapping)
                if fn.__defaults__:
                    fn.__defaults__ = tuple(_rebased(d, mapping) for d in fn.__defaults__)
                if fn.__kwdefaults__:
                    fn.__kwdefaults__ = {
                        k: _rebased(d, mapping) for k, d in fn.__kwdefaults__.items()
                    }


# ---------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------


def start_spark(work: WorkDir, cores: int, ui: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work.path, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-local{cores}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "true" if ui else "false")
        # traced runs read shuffle bytes per stage once at the end
        .config("spark.ui.retainedStages", "10000" if ui else "1000")
        .config("spark.ui.retainedJobs", "10000" if ui else "1000")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed 1 GiB heap: a growable heap makes peak RSS depend on
        # when the JVM decides to expand it
        .config("spark.driver.memory", "1g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work.path, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work.path, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_spark(spark, cores: int) -> None:
    """JVM codegen, one Python worker per core, one string-keyed shuffle
    (the warm-up bench.py uses)."""
    from pyspark.sql import functions as F

    spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").count()
    spark.range(0, 100_000).groupBy((F.col("id") % 97).cast("string").alias("k")).count().count()


def stop_gateway() -> None:
    """Stop the JVM that pyspark launched and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; still reap it below
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------
# peak RSS of this process tree (this Python process, the JVM and the
# Python workers)
# ---------------------------------------------------------------------


def _tree_rss_kb(root_pid: int) -> int:
    """Summed RSS of the tree. A child with its parent's exact virtual
    size is taken to share its parent's address space and left out: the
    JVM starts commands through vfork-style spawns, and until the child
    execs it reads as a second copy of the JVM's ~1.5 GB, so a sample
    that hit one read ~60% high. (Comparing RSS too would miss it: the
    two are read at different moments.)"""
    procs: dict[int, tuple[int, int, int]] = {}  # pid -> (ppid, vsize, rss pages)
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid, ppid = int(entry), int(fields[1])
        procs[pid] = (ppid, int(fields[20]), int(fields[21]))
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        ppid, vsize, rss = procs.get(pid, (0, 0, 0))
        parent = procs.get(ppid)
        if pid != root_pid and parent is not None and parent[1] == vsize:
            continue
        total += rss
    return total * os.sysconf("SC_PAGE_SIZE") // 1024


class RssSampler:
    """Samples the summed RSS of the process tree every ``interval`` s."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------------
# Spark job accounting
# ---------------------------------------------------------------------


_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class JobGroup:
    """Tags the Spark jobs launched inside the block with a job group and
    reads their jobs, stages and tasks from ``statusTracker`` on exit.

    Read per block: the tracker keeps only ``spark.ui.retainedJobs``
    jobs. The previous group of the calling thread is restored, so a
    streaming query's own group survives a foreachBatch body."""

    def __init__(self, sc, name: str) -> None:
        self.sc = sc
        self.name = name
        self.jobs = self.stages = self.tasks = 0
        self.stage_ids: list[int] = []

    def __enter__(self) -> "JobGroup":
        self._prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc) -> None:
        for k, v in self._prev.items():
            self.sc.setLocalProperty(k, v)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self.name)
        self.jobs = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                self.stage_ids.append(sid)
                if st is not None and st.numTasks > 0:
                    self.stages += 1
                    self.tasks += st.numTasks


def shuffle_bytes(sc, groups: list[list[int]]) -> list[int]:
    """Shuffle-write bytes of each group of stage ids, from the Spark UI
    REST API (as bench/shuffle_audit.py reads them), in one request.
    Traced runs only: they enable the UI and retain 10000 stages, so
    every group is still there."""
    ui = f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}"
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{sc.applicationId}/stages?status=complete", timeout=30
    ) as r:
        by_id = {s["stageId"]: s.get("shuffleWriteBytes", 0) for s in json.load(r)}
    return [sum(by_id.get(i, 0) for i in set(ids)) for ids in groups]


# ---------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------


class Tracer:
    """In-memory spans, written to a JSON file when the run ends.

    A span has a name, start, end (seconds since the tracer started),
    the id of its parent span and the workload."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": self.spans}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> "_Span":
        self.start = time.perf_counter()
        t = self.tracer
        stack = t._stack()
        self.id = len(t.spans)
        # a span opened on another thread (a foreachBatch callback) names
        # its parent explicitly
        parent = self.attrs.pop("parent", stack[-1] if stack else None)
        t.spans.append(
            {"id": self.id, "name": self.name, "parent": parent, "workload": t.workload, **self.attrs}
        )
        stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        t = self.tracer
        rec = t.spans[self.id]
        rec["start"] = round(self.start - t._t0, 6)
        rec["end"] = round(self.end - t._t0, 6)
        t._stack().pop()


# ---------------------------------------------------------------------
# host labels (never gate a run)
# ---------------------------------------------------------------------


def host_labels(checkout: str) -> dict:
    """``nproc``, the load average and the DRAM-bandwidth probe of
    bench/bw_probe.py, at a reduced size. Labels only."""
    labels: dict = {"nproc": os.cpu_count()}
    try:
        with open("/proc/loadavg") as fh:
            labels["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        pass
    try:
        import importlib.util

        path = os.path.join(checkout, "bench", "bw_probe.py")
        spec = importlib.util.spec_from_file_location("_perfbench_bw_probe", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        labels["bw_probe"] = mod.probe(n_mb=64, procs=4)
    except Exception as ex:  # a label: report why it is missing, never fail
        labels["bw_probe"] = {"error": repr(ex)[:200]}
    return labels
