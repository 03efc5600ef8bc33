"""The benchmark's workloads.

A workload stages its fixtures, runs one untimed warm-up pass that
checks every result exact-value against its DuckDB oracle and records
its fingerprint, and then timed passes. One pass calls each of
the workload's entry points once, in order, each call waiting for the
previous one (a closed loop with one client).

Each call is split into phases:
- *build*: the public function runs and returns a DataFrame, including
  any eager jobs it finishes first;
- *plan*: Catalyst plans the fingerprint aggregate over that frame;
- *exec*: the aggregate runs. It reads every row and column, like a
  noop write, and yields the fingerprint at the same time.
The fingerprint is compared with the recorded one after the call,
outside its timed region.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from checks import Oracle, collect_fingerprint, fingerprint, fingerprint_frame, metadata_kv
from tracing import BatchLog, LayerTrace, cached_bytes, count_files, dir_bytes, tree_cpu_s

# batch: the batch side of the reference path (silver, an anti join,
# content dedup, the K2 bus publish) plus one training loop that runs
# its eager jobs while it builds the frame
BATCH_QUERIES = [
    "flagship_silver",
    "f3_anti_join",
    "dedup_exact",
    "k2_bus_roundtrip",
    "bpe_learn_vocab",
]

# silver_stream: the staged bronze split into this many files, plus
# one re-delivered copy of the first; the documents split likewise
SILVER_FILES = 1
DOC_FILES = 3

DEDUP_ORACLE = (
    "SELECT md5(text) AS ch, min(doc_id) AS canonical_doc_id"
    " FROM documents GROUP BY 1"
)


@dataclass
class Call:
    name: str
    wall_s: float
    cpu_s: float = 0.0
    build_s: float = 0.0
    plan_s: float = 0.0
    ok: bool = True


@dataclass
class PassResult:
    wall_s: float
    traced: bool
    cpu_s: float = 0.0
    calls: list[Call] = field(default_factory=list)
    # micro-batch progress reports, labelled by runner
    batches: list[tuple[str, dict]] = field(default_factory=list)
    scratch_bytes: int = 0
    cached_bytes_max: int = 0
    files_written: int = 0
    stream_spans: list[tuple[int, int]] = field(default_factory=list)


class Workload:
    """Shared state and bookkeeping of a workload."""

    # untimed passes after the checked warm-up pass, part of set-up
    WARM_PASSES = 0

    def __init__(self, spark, sf_dir: str, work_dir: str, trace: LayerTrace | None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.trace = trace
        self.expected: dict[str, tuple[int, int]] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.scratch_root = os.path.join(os.environ["TMPDIR"], "sg_runs")

    def _job_group(self, traced: bool, name: str, phase: str, n: int) -> None:
        if traced:
            self.spark.sparkContext.setJobGroup(f"q={name}|phase={phase}|pass={n}", name)

    def _clear_job_group(self, traced: bool) -> None:
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}"[:500])

    def _verify(self, call: Call, got: tuple[int, int]) -> None:
        if got != self.expected.get(call.name):
            call.ok = False
            self._fail(call.name, f"fingerprint {got} != {self.expected.get(call.name)}")

    def run_pass(self, n: int, traced: bool) -> PassResult:
        settle(self.spark)
        if self.trace is not None:
            self.trace.enabled = traced
        scratch0 = dir_bytes(self.scratch_root) if traced else 0
        res = PassResult(wall_s=0.0, traced=traced)
        self._pass_body(n, traced, res)
        # the calls run back to back; checks and probes between them
        # are outside the timed region
        res.wall_s = sum(c.wall_s for c in res.calls)
        res.cpu_s = sum(c.cpu_s for c in res.calls)
        if traced:
            res.scratch_bytes = dir_bytes(self.scratch_root) - scratch0
        if self.trace is not None:
            self.trace.enabled = False
        return res

    def _probe(self, traced: bool, res: PassResult) -> None:
        """Leak probe after a call: block-manager storage still held."""
        if traced:
            res.cached_bytes_max = max(res.cached_bytes_max, cached_bytes(self.spark))


class BatchWorkload(Workload):
    # the JVM still compiles the batch calls' code after the warm-up
    # pass: one more pass brings their CPU time within a few percent
    # of the later passes'
    WARM_PASSES = 1

    def __init__(self, spark, sf_dir, work_dir, trace):
        super().__init__(spark, sf_dir, work_dir, trace)
        from etl_mp_transactions_spark import registry

        self.names = BATCH_QUERIES
        self.fns = {n: registry.queries()[n] for n in self.names}
        self.oracles = registry.oracle_sql()

    def stage(self) -> None:
        from etl_mp_transactions_spark.sources.bronze import staged_bronze_path

        staged_bronze_path(self.spark, self.sf_dir)

    def warmup(self, oracle: Oracle) -> None:
        for name in self.names:
            self.attempted += 1
            try:
                df = self.fns[name](self.spark, self.sf_dir)
                self.expected[name] = fingerprint(df)
                problems = oracle.check(df, self.oracles[name])
            except Exception as ex:  # a failing query is counted, not fatal
                self._fail(name, f"warm-up raised {ex!r}")
                continue
            if problems:
                self._fail(name, "oracle: " + "; ".join(problems[:3]))

    def _pass_body(self, n: int, traced: bool, res: PassResult) -> None:
        for name in self.names:
            self.attempted += 1
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                self._job_group(traced, name, "build", n)
                df = self.fns[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                fp_df = fingerprint_frame(df)
                fp_df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                self._job_group(traced, name, "exec", n)
                got = collect_fingerprint(fp_df)
                t3 = time.perf_counter()
            except Exception as ex:  # a failing query is counted, not fatal
                res.calls.append(Call(name, time.perf_counter() - t0, ok=False))
                self._fail(name, f"raised {ex!r}")
                continue
            finally:
                self._clear_job_group(traced)
            call = Call(name, t3 - t0, tree_cpu_s() - c0, build_s=t1 - t0, plan_s=t2 - t1)
            res.calls.append(call)
            self._verify(call, got)
            self._probe(traced, res)


class SilverStreamWorkload(Workload):
    """The reference's production loop, one file per micro-batch:
    nested bronze files through ``run_silver_stream`` (with one file
    delivered twice), then document files through the incremental
    dedup runner."""

    RUNNERS = ("silver", "incdedup")

    def __init__(self, spark, sf_dir, work_dir, trace):
        super().__init__(spark, sf_dir, work_dir, trace)
        from etl_mp_transactions_spark import registry

        self.silver_oracle = registry.oracle_sql()["flagship_silver"]
        self.log = BatchLog()
        spark.streams.addListener(self.log)
        self.bronze_dir = os.path.join(work_dir, "bronze_files")
        self.doc_dir = os.path.join(work_dir, "doc_files")

    def stage(self) -> None:
        from etl_mp_transactions_spark.sources.bronze import staged_bronze_path

        bronze = pq.read_table(staged_bronze_path(self.spark, self.sf_dir))
        _split(bronze, self.bronze_dir, SILVER_FILES)
        # re-delivery: the first file again, under a new name, last
        first = os.path.join(self.bronze_dir, "part-0000.parquet")
        again = os.path.join(self.bronze_dir, f"part-{SILVER_FILES:04d}.parquet")
        shutil.copy(first, again)
        _stamp(again, SILVER_FILES)
        self.bronze_schema = self.spark.read.parquet(self.bronze_dir).schema
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        _split(docs.sort_by("doc_id"), self.doc_dir, DOC_FILES)

    def _streams(self, n, traced: bool, res: PassResult | None):
        """Run both runners into a fresh directory; yield each
        runner's name, wall and CPU seconds and output frame."""
        from etl_mp_transactions_spark.streaming.filesource import (
            stream_incremental_dedup_run,
        )
        from etl_mp_transactions_spark.streaming.silver_stream import run_silver_stream

        d = os.path.join(self.work_dir, f"pass-{n}")
        runs = {
            "silver": lambda: run_silver_stream(
                self.spark, self.bronze_dir, self.bronze_schema,
                os.path.join(d, "silver_ckpt"), os.path.join(d, "silver"),
                max_files_per_trigger=1,
            ),
            "incdedup": lambda: stream_incremental_dedup_run(
                self.spark, self.doc_dir, os.path.join(d, "dedup_ckpt"),
                os.path.join(d, "dedup"), os.path.join(d, "dedup_store"),
            ),
        }
        try:
            for runner in self.RUNNERS:
                self.attempted += 1
                self.log.runner = runner
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                start_ms = int(time.time() * 1000)
                try:
                    self._job_group(traced, runner, "stream", n)
                    out = runs[runner]()
                    wall = time.perf_counter() - t0
                    cpu = tree_cpu_s() - c0
                except Exception as ex:  # a failing stream is counted, not fatal
                    self._fail(runner, f"raised {ex!r}")
                    if res is not None:
                        res.calls.append(Call(runner, time.perf_counter() - t0, ok=False))
                    continue
                finally:
                    self._clear_job_group(traced)
                if res is not None and traced:
                    res.stream_spans.append((start_ms, int(time.time() * 1000)))
                yield runner, wall, cpu, out
        finally:
            if res is not None and traced:
                res.files_written += count_files(os.path.join(d, "silver"))
                res.files_written += count_files(os.path.join(d, "dedup"))
            shutil.rmtree(d, ignore_errors=True)

    def _output(self, runner: str, out):
        return metadata_kv(out) if runner == "silver" else out

    def warmup(self, oracle: Oracle) -> None:
        sql = {"silver": self.silver_oracle, "incdedup": DEDUP_ORACLE}
        for runner, _, _, out in self._streams("warmup", False, None):
            try:
                df = self._output(runner, out)
                self.expected[runner] = fingerprint(df)
                problems = oracle.check(df, sql[runner])
            except Exception as ex:  # a wrong output is counted, not fatal
                self._fail(runner, f"warm-up check raised {ex!r}")
                continue
            if problems:
                self._fail(runner, "oracle: " + "; ".join(problems[:3]))
        self.log.drain()
        self.log.take()

    def _pass_body(self, n: int, traced: bool, res: PassResult) -> None:
        for runner, wall, cpu, out in self._streams(n, traced, res):
            call = Call(runner, wall, cpu)
            res.calls.append(call)
            self._verify(call, fingerprint(self._output(runner, out)))
            self._probe(traced, res)
        self.log.drain()
        res.batches = self.log.take()


def settle(spark) -> None:
    """Start a pass from the same memory state as the one before: drop
    the Python references to the last pass's frames, then collect the
    JVM heap, so Spark's context cleaner frees their checkpointed and
    shuffle blocks before the pass, not at a random point inside it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)


def _stamp(path: str, i: int) -> None:
    # strictly increasing mtimes fix the file source's batch order
    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _split(table, out_dir: str, n: int) -> None:
    """Write ``table`` as ``n`` contiguous slices, in order."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n)
    for i in range(n):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(i * per, per), path)
        _stamp(path, i)


def make_workload(name: str, spark, sf_dir: str, work_dir: str, trace):
    if name == "silver_stream":
        return SilverStreamWorkload(spark, sf_dir, work_dir, trace)
    return BatchWorkload(spark, sf_dir, work_dir, trace)
