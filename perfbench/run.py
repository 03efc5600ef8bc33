"""Seeded end-to-end benchmark of the engine (see README.md).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch --seed 7 --seconds 10 --trace 0

It generates sf0.01 inputs from ``--seed`` with
``tools/gen_scale_data.generate``, starts one Spark session on
``local[nproc]``, stages the workload's fixtures, runs one warm-up pass
that checks every result against its DuckDB oracle (and, for ``batch``,
one more untimed pass), then runs timed passes for ``--seconds`` (at
least two), each after a garbage collection. The end-to-end figures are
CPU seconds, not wall seconds; see README.md for why. The last line of
stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it is the full record (cpus, loadavg, seed, commit, every
metric, error rate and errors).

All files go to a private directory under ``.perfbench_work/`` in the
checkout, removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01
DATAGEN_REPS = 3
MIN_PASSES = 2
WORKLOADS = ("batch", "silver_stream")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Private TMPDIR (the package's fixture caches live under it and
    are keyed only by the data directory's basename) and local dirs;
    the repo root on PYTHONPATH for the Spark Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    delta = [b - a for a, b in zip(start, end)]
    return round(delta[7] / max(1, sum(delta)), 4)


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_session(work: str, trace: bool):
    from etl_mp_transactions_spark.session import get_spark

    n = cpus()
    conf = {
        # a fixed, pre-touched heap, so peak_rss_mb moves with off-heap
        # and Python memory rather than with GC heap sizing
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            " -Xms1g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def generate(work: str, seed: int) -> tuple[str, float]:
    """Generate the inputs DATAGEN_REPS times; keep the first copy and
    return its path with the median generation time."""
    import gen_scale_data

    times, dirs = [], []
    for i in range(DATAGEN_REPS):
        d = os.path.join(work, f"data{i}", f"sf{SF}")
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            gen_scale_data.generate(SF, d, seed)
        times.append(time.perf_counter() - t0)
        dirs.append(d)
    for d in dirs[1:]:
        shutil.rmtree(os.path.dirname(d))
    return dirs[0], statistics.median(times)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(passes, setup_s: float, peak_rss: int) -> dict:
    """End-to-end figures over the given passes."""
    return {
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "query_cpu_geomean_s": statistics.median(
            geomean([c.cpu_s for c in p.calls if c.ok]) for p in passes
        ),
        "peak_rss_mb": peak_rss / 2**20,
        "setup_s": setup_s,
    }


def wall_figures(passes) -> dict:
    """Wall-clock figures over the given passes (record line only: on a
    shared host they move with other tenants' load)."""
    return {
        "wall_s": statistics.median(p.wall_s for p in passes),
        "query_geomean_s": statistics.median(
            geomean([c.wall_s for c in p.calls if c.ok]) for p in passes
        ),
    }


def stream_layers(passes) -> dict:
    from workloads import SilverStreamWorkload

    # micro-batch latency across both runners
    trigger_ms = [b["durationMs"]["triggerExecution"] for p in passes for _, b in p.batches]
    out = {
        "streaming.batch_p50_ms": percentile(trigger_ms, 0.5) if trigger_ms else 0.0,
        "streaming.batch_p90_ms": percentile(trigger_ms, 0.9) if trigger_ms else 0.0,
    }
    for runner in SilverStreamWorkload.RUNNERS:
        per_pass = [[b for r, b in p.batches if r == runner] for p in passes]
        all_b = [b for bs in per_pass for b in bs]
        pre = f"streaming.{runner}."

        def med(values):
            return statistics.median(values) if values else 0.0

        ops = [b.get("stateOperators") or [] for b in all_b]
        out[pre + "batches"] = med([len(bs) for bs in per_pass])
        out[pre + "add_batch_ms"] = med([b["durationMs"].get("addBatch", 0) for b in all_b])
        out[pre + "wal_ms"] = med([b["durationMs"].get("walCommit", 0) for b in all_b])
        out[pre + "state_commit_ms"] = med([sum(o.get("commitTimeMs", 0) for o in x) for x in ops])
        out[pre + "state_rows"] = max(
            [sum(o.get("numRowsTotal", 0) for o in x) for x in ops], default=0
        )
        out[pre + "state_mem_mb"] = max(
            [sum(o.get("memoryUsedBytes", 0) for o in x) for x in ops], default=0
        ) / 2**20
        # growth of batch time along one stream: median of the last k
        # batches over the first k, batch 0 (stream start) excluded
        growth = []
        for bs in per_pass:
            t = [b["durationMs"]["triggerExecution"] for b in bs if b["batchId"] > 0]
            k = min(10, len(t) // 2)
            if k:
                growth.append(statistics.median(t[-k:]) / statistics.median(t[:k]))
        out[pre + "batch_growth"] = med(growth)
    return out


def per_layer(traced, untraced, trace, setup: dict, log_path: str) -> dict:
    from tracing import reduce_event_log

    n = len(traced)
    calls = [c for p in traced for c in p.calls]
    out = {
        "queries.build_s": sum(c.build_s for c in calls) / n,
        "queries.plan_s": sum(c.plan_s for c in calls) / n,
        "sources.load_table_calls": trace.calls["load_table"] / n,
        "sources.load_table_s": trace.sec["load_table"] / n,
        "functions.literal_frame_calls": trace.calls["literal_frame"] / n,
        "functions.literal_frame_s": trace.sec["literal_frame"] / n,
        "operators.cut_calls": trace.calls["cut"] / n,
        "operators.cut_s": trace.sec["cut"] / n,
        "operators.cached_mb_left": max(p.cached_bytes_max for p in traced) / 2**20,
        "workdirs.scratch_mb_left": statistics.median(p.scratch_bytes for p in traced) / 2**20,
        "sinks.bus_publish_s": trace.sec["bus_publish"] / n,
        "sinks.files_written": (trace.files_written + sum(p.files_written for p in traced)) / n,
        "trace.overhead_s": (
            statistics.median(p.cpu_s for p in traced)
            - statistics.median(p.cpu_s for p in untraced)
        ),
    }
    out.update(setup)
    out.update(stream_layers(traced))
    spans = [s for p in traced for s in p.stream_spans]
    out.update(reduce_event_log(log_path, spans, n))
    out["queries.build_jobs"] = out["exec.build.jobs"]
    return out


def run(args, work: str) -> tuple[dict, dict]:
    trace_on = bool(args.trace)
    load_start = os.getloadavg()
    cpu_start = host_cpu_ticks()
    sf_dir, datagen_s = generate(work, args.seed)

    t0 = time.perf_counter()
    spark = start_session(work, trace_on)
    trace = None
    if trace_on:
        from tracing import LayerTrace

        trace = LayerTrace(spark)
        trace.install()  # before registry.queries() imports the query modules
    from etl_mp_transactions_spark import registry

    registry.queries()
    session_s = time.perf_counter() - t0

    from checks import Oracle
    from tracing import RssSampler
    from workloads import make_workload

    try:
        wl = make_workload(args.workload, spark, sf_dir, work, trace)
        t0 = time.perf_counter()
        wl.stage()
        fixtures_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        oracle = Oracle(sf_dir, os.environ["TMPDIR"])
        wl.warmup(oracle)
        oracle.close()
        for i in range(wl.WARM_PASSES):
            wl.run_pass(f"warm{i}", False)
        warmup_s = time.perf_counter() - t0

        passes = []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while (
                time.perf_counter() - t0 < args.seconds
                or len(passes) < MIN_PASSES
            ):
                # traced runs alternate untraced and traced passes
                passes.append(wl.run_pass(len(passes), trace_on and len(passes) % 2 == 1))
    finally:
        stop_session(spark)

    setup = {
        "session.start_s": session_s,
        "setup.datagen_s": datagen_s,
        "setup.fixtures_s": fixtures_s,
        "setup.warmup_s": warmup_s,
    }
    untraced = [p for p in passes if not p.traced]
    e2e = end_to_end(untraced, sum(setup.values()), rss.peak)
    layers = {}
    if trace_on:
        log_dir = os.path.join(work, "eventlog")
        (log_name,) = os.listdir(log_dir)
        layers = per_layer(
            [p for p in passes if p.traced], untraced, trace, setup,
            os.path.join(log_dir, log_name),
        )

    attempted, failed = wl.attempted, wl.failed
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus(),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # share of this machine's CPU time the host gave to other guests
        "steal_share": steal_share(cpu_start, host_cpu_ticks()),
        "commit": git_commit(),
        "passes": len(passes),
        "pass_wall_s": [round(p.wall_s, 3) for p in passes],
        "pass_cpu_s": [round(p.cpu_s, 3) for p in passes],
        "call_s": {
            name: [round(c.wall_s, 3) for p in passes for c in p.calls if c.name == name]
            for name in dict.fromkeys(c.name for p in passes for c in p.calls)
        },
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "errors": wl.errors[:20],
        "setup": setup,
        "end_to_end": e2e,
        "wall": wall_figures(untraced),
        "streaming": stream_layers(untraced),
        "per_layer": layers,
    }
    return record, layers if trace_on else e2e


def with_units(metrics: dict, kind: str) -> dict:
    """The ``kind`` metrics declared in BENCHMARK.json, with their
    declared units; a declared metric the run did not compute raises."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)[kind]
    return {
        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_mp_transactions_spark")) or not (
        os.path.isfile(os.path.join(ROOT, "tools", "gen_scale_data.py"))
    ):
        print(f"perfbench: no engine package or tools/ under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        isolate(work)
        record, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    kind = "per_layer" if args.trace else "end_to_end"
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": with_units(metrics, kind),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
