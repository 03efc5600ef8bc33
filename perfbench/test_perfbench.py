"""Self-tests of the benchmark: the fingerprint sees multiplicity, and
the metric names a run emits are the ones BENCHMARK.json declares.

Run: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import run  # noqa: E402
from workloads import Call, PassResult  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_duplicated_row_pair_changes_fingerprint(spark):
    from pyspark.sql import functions as F

    from checks import fingerprint

    schema = "k long, v string"
    # same row count; B and C each appear as a duplicated pair
    abb = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], schema)
    acc = spark.createDataFrame([(1, "a"), (3, "c"), (3, "c")], schema)
    assert fingerprint(abb) != fingerprint(acc)
    assert fingerprint(abb) == fingerprint(abb.orderBy(F.desc("k")))

    def xor_fold(df):
        return df.agg(F.count(F.lit(1)), F.expr("bit_xor(xxhash64(k, v))")).first()

    # the fold the fingerprint replaces cannot tell them apart
    assert xor_fold(abb) == xor_fold(acc)


def _event_log(path: str) -> None:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "q=a|phase=build|pass=1",
                        "perfbench.step": "load_table"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 10}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 300, "JVM GC Time": 0}},
        # a stream job: its group is the stream's run id
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "run-id"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
    ]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_emitted_metric_names_match_benchmark_json(tmp_path):
    spec = _spec()
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS

    def passes(traced):
        return [
            PassResult(wall_s=2.0, traced=traced, cpu_s=5.0,
                       calls=[Call("a", 0.5, 1.0), Call("b", 1.5, 4.0)]),
            PassResult(wall_s=2.2, traced=traced, cpu_s=5.5,
                       calls=[Call("a", 0.6, 1.1), Call("b", 1.4, 4.4)]),
        ]

    e2e = run.end_to_end(passes(False), setup_s=9.0, peak_rss=2**30)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert all(v > 0 for v in e2e.values())
    assert e2e["cpu_s"] == 5.25
    assert set(run.wall_figures(passes(False))) == {"wall_s", "query_geomean_s"}

    log = str(tmp_path / "eventlog")
    _event_log(log)
    trace = SimpleNamespace(calls=defaultdict(int), sec=defaultdict(float), files_written=0)
    setup = {"session.start_s": 1.0, "setup.datagen_s": 1.0,
             "setup.fixtures_s": 1.0, "setup.warmup_s": 1.0}
    traced = passes(True)
    traced[0].stream_spans = [(2000, 3000)]
    layers = run.per_layer(traced, passes(False), trace, setup, log)
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    # two traced passes: totals are per pass
    assert layers["exec.build.jobs"] == 0.5
    assert layers["sources.load_table_jobs"] == 0.5
    assert layers["exec.build.task_skew"] == 300 / 200
    assert layers["exec.stream.jobs"] == 0.5

    for kind, values in (("end_to_end", e2e), ("per_layer", layers)):
        out = run.with_units(values, kind)
        assert list(out) == [m["name"] for m in spec[kind]]
