"""Per-layer instrumentation for the benchmark.

Everything here lives outside the package and drives it only through
its public functions:

- ``LayerTrace`` wraps ``sources.tables.load_table``,
  ``functions.literalframe.literal_frame``, the DataFrame cut methods
  (``localCheckpoint``/``checkpoint``/``persist``/``cache``) and the
  bus publishers, counting calls and seconds while ``enabled``. Query
  modules bind these names at import, so ``install`` rebinds them in
  the modules already imported and must run before
  ``registry.queries()`` imports the rest.
- ``BatchLog`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report, labelled with the runner that started
  the stream. ``StreamExecution`` replaces the caller's job group with
  its run id, so stream numbers come from here, not from job groups.
- ``RssSampler`` samples the memory of this process tree (driver
  Python, JVM, Python workers); ``tree_cpu_s`` reads its CPU time.
- ``reduce_event_log`` turns the Spark event log into per-phase
  job/task/shuffle/spill/GC totals.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
STEP_PROP = "perfbench.step"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def count_files(path: str) -> int:
    """Data files under ``path`` (hidden and ``_``-prefixed entries,
    such as checksums and ``_spark_metadata``, excluded)."""
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


class LayerTrace:
    """Counters around the package's public layer functions."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.calls: dict[str, int] = defaultdict(int)
        self.sec: dict[str, float] = defaultdict(float)
        self.files_written = 0
        self._steps: list[str] = []

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from etl_mp_transactions_spark.functions import literalframe
        from etl_mp_transactions_spark.sinks import bus
        from etl_mp_transactions_spark.sources import tables

        _rebind(tables.load_table, self._wrap("load_table", tables.load_table))
        _rebind(
            literalframe.literal_frame,
            self._wrap("literal_frame", literalframe.literal_frame),
        )
        for meth in ("localCheckpoint", "checkpoint", "persist", "cache"):
            setattr(DataFrame, meth, self._wrap("cut", getattr(DataFrame, meth)))
        for fac in (bus.foreach_batch_publisher, bus.foreach_partition_publisher):
            _rebind(fac, self._wrap_publisher(fac))

    def _wrap(self, key: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            self._push(key)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.sec[key] += time.perf_counter() - t0
                self.calls[key] += 1
                self._pop()

        return traced

    def _wrap_publisher(self, factory):
        @functools.wraps(factory)
        def make(bus_obj, *args, **kwargs):
            publish = factory(bus_obj, *args, **kwargs)
            messages = os.path.join(bus_obj.root, "messages")

            def traced(batch_df, batch_id):
                if not self.enabled:
                    return publish(batch_df, batch_id)
                before = count_files(messages)
                t0 = time.perf_counter()
                try:
                    return publish(batch_df, batch_id)
                finally:
                    self.sec["bus_publish"] += time.perf_counter() - t0
                    self.files_written += count_files(messages) - before

            return traced

        return make

    # job attribution: jobs started inside a wrapped call carry the
    # step name as a local property, which the event log records
    def _push(self, key: str) -> None:
        self._steps.append(key)
        self.sc.setLocalProperty(STEP_PROP, key)

    def _pop(self) -> None:
        self._steps.pop()
        self.sc.setLocalProperty(STEP_PROP, self._steps[-1] if self._steps else None)


def _rebind(orig, wrapped) -> None:
    """Replace ``orig`` by ``wrapped`` wherever an imported package
    module holds it (its defining module and any ``from`` import)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("etl_mp_transactions_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, attr, wrapped)


class BatchLog(StreamingQueryListener):
    """Collects micro-batch progress per stream, labelled by runner."""

    def __init__(self):
        self.runner = ""
        self.label: dict[str, str] = {}
        self.progress: list[tuple[str, dict]] = []
        self._open: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.label[str(event.id)] = self.runner
            self._open.add(str(event.runId))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.append((self.label.get(p["id"], "?"), p))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._open.discard(str(event.runId))
            self._cv.notify_all()

    def drain(self, timeout: float = 30.0) -> None:
        """Wait until every started stream has reported termination;
        the listener bus is ordered, so its progress reports are in."""
        with self._cv:
            self._cv.wait_for(lambda: not self._open, timeout)

    def take(self) -> list[tuple[str, dict]]:
        with self._cv:
            out, self.progress = self.progress, []
        return out


def _stat(path: str) -> tuple[str, list[str]]:
    """The command name in a /proc stat file and the fields after it
    (index 1 is the parent pid, 11-14 utime, stime, cutime, cstime)."""
    with open(path) as f:
        stat = f.read()
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM, Spark's Python
    daemon and its workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            children[int(_stat(f"/proc/{d}/stat")[1][1])].append(int(d))
        except OSError:
            continue
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot names its JIT threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>" (15 characters of it in /proc)
JIT_THREAD = "CompilerThre"
# native ids of this process's measuring threads (the memory sampler),
# whose CPU time is the benchmark's, not the program's
_PROBE_TIDS: set[int] = set()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used so far,
    reaped children included, less the JIT compiler threads' share.

    CPU time does not grow while a shared host runs other tenants on
    this machine's cores, which stretches wall time by tens of percent
    from one minute to the next. The JIT compiler's share is left out
    because it is the JVM warming up, not the program's work, and it
    varies with how far the warm-up has got. The session keeps a fixed
    set of compiler threads, so none exits with its time uncounted.
    The memory sampler's thread is left out too."""
    me, ticks = os.getpid(), 0
    for pid in process_tree():
        try:
            ticks += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[1][11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if JIT_THREAD in comm or (pid == me and int(tid) in _PROBE_TIDS):
                    ticks -= int(fields[11]) + int(fields[12])
        except OSError:
            continue
    return ticks / CLK_TCK


class RssSampler:
    """Peak proportional set size (PSS: resident memory, with pages
    shared between processes split among them) of this process and all
    its descendants, sampled every ``interval`` seconds from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(
                        int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:")
                    )
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        tid = threading.get_native_id()
        _PROBE_TIDS.add(tid)
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)
        _PROBE_TIDS.discard(tid)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.sample())
        return False


def cached_bytes(spark) -> int:
    """Block-manager storage (memory + disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# --- event log --------------------------------------------------------

PHASES = ("build", "exec", "stream")
EXEC_FIELDS = (
    "s", "jobs", "tasks", "task_s", "task_skew",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
)


def _phase_of(props: dict, submit_ms: int, spans) -> str | None:
    """Phase of a job: from its ``q=..|phase=..|pass=..`` job group,
    else (stream jobs, whose group is the stream run id) from the
    traced stream call whose time span holds its submission time."""
    group = props.get("spark.jobGroup.id") or ""
    if group.startswith("q="):
        fields = dict(kv.split("=", 1) for kv in group.split("|"))
        return fields.get("phase")
    for start_ms, end_ms in spans:
        if start_ms <= submit_ms <= end_ms:
            return "stream"
    return None


def reduce_event_log(path: str, stream_spans, n_passes: int) -> dict:
    """Per-phase totals over the traced passes, divided by
    ``n_passes``; also the jobs run inside ``load_table``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"],
                    "end": ev["Submission Time"],
                    "props": ev.get("Properties") or {},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})

    out = {f"exec.{p}.{k}": 0.0 for p in PHASES for k in EXEC_FIELDS}
    skews: dict[str, list[float]] = defaultdict(list)
    load_table_jobs = 0
    phase_of_job = {}
    for jid, j in jobs.items():
        phase = _phase_of(j["props"], j["submit"], stream_spans)
        phase_of_job[jid] = phase
        if phase not in PHASES:
            continue
        out[f"exec.{phase}.s"] += (j["end"] - j["submit"]) / 1000
        out[f"exec.{phase}.jobs"] += 1
        if j["props"].get(STEP_PROP) == "load_table":
            load_table_jobs += 1
    for sid, metrics in tasks.items():
        phase = phase_of_job.get(stage_job.get(sid))
        if phase not in PHASES:
            continue
        run_ms = [m.get("Executor Run Time", 0) for m in metrics]
        pre = f"exec.{phase}."
        out[pre + "tasks"] += len(metrics)
        out[pre + "task_s"] += sum(run_ms) / 1000
        out[pre + "gc_s"] += sum(m.get("JVM GC Time", 0) for m in metrics) / 1000
        out[pre + "spill_mb"] += sum(
            m.get("Disk Bytes Spilled", 0) for m in metrics
        ) / MB
        for m in metrics:
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            out[pre + "shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            out[pre + "shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
        if len(run_ms) >= 2 and statistics.median(run_ms) > 0:
            skews[phase].append(max(run_ms) / statistics.median(run_ms))
    n = max(1, n_passes)
    for key in out:
        if not key.endswith("task_skew"):
            out[key] /= n
    for p in PHASES:
        out[f"exec.{p}.task_skew"] = statistics.median(skews[p]) if skews[p] else 0.0
    out["sources.load_table_jobs"] = load_table_jobs / n
    return out
