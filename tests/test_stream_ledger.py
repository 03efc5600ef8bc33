"""The shared steps of the exactly-once file-stream runners
(streaming/filesource.py) and the fixture publish (workdirs.py): the
ledger reader and writer, the arrival writer and ``publish_fixture``,
each pinned on tiny frames or temp dirs, plus guards that the
hand-copied versions they replaced, and stream starts that bypass the
one stream driver, do not grow back."""

import ast
import os
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from etl_mp_transactions_spark.functions.literalframe import literal_frame
from etl_mp_transactions_spark.streaming.filesource import (
    read_ledger,
    stage_arrivals,
    write_ledger,
)
from etl_mp_transactions_spark.workdirs import publish_fixture

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "etl_mp_transactions_spark"


def _ledger(root, ids):
    for b in ids:
        d = root / f"batch={b}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"k": pa.array([str(b)]), "v": pa.array([1])}),
            d / "part-0.parquet",
        )


def test_ledger_leaves_out_only_the_callers_batch(spark, tmp_path):
    root = tmp_path / "ledger"
    _ledger(root, ["-1", "base", "0", "1", "2"])
    (root / "_SUCCESS").write_bytes(b"")
    got = read_ledger(spark, str(root), "k string, v long", 1)
    assert got.columns == ["k", "v"]
    assert sorted(r.k for r in got.collect()) == ["-1", "0", "2", "base"]
    everything = read_ledger(spark, str(root), "k string, v long")
    assert sorted(r.k for r in everything.collect()) == [
        "-1", "0", "1", "2", "base",
    ]


def test_written_ledger_reads_back_without_the_callers_batch(spark, tmp_path):
    root = str(tmp_path / "ledger")
    schema = "k string, v long"
    paths = {
        b: write_ledger(literal_frame(spark, [(str(b), 1)], schema), root, b)
        for b in [-1, "base", 0, 1]
    }
    assert paths[1] == os.path.join(root, "batch=1")
    # a re-executed batch replaces its earlier attempt
    write_ledger(literal_frame(spark, [("1", 2)], schema), root, 1)
    got = read_ledger(spark, root, schema, skip=1)
    assert sorted(tuple(r) for r in got.collect()) == [
        ("-1", 1), ("0", 1), ("base", 1),
    ]
    own = spark.read.schema(schema).parquet(paths[1])
    assert [tuple(r) for r in own.collect()] == [("1", 2)]


@pytest.mark.parametrize("state", ["missing", "empty"])
def test_ledger_without_partitions_is_typed_empty(spark, tmp_path, state):
    root = tmp_path / "ledger"
    if state == "empty":
        root.mkdir()
        (root / "_SUCCESS").write_bytes(b"")
    schema = "k string, sig array<bigint>, v long"
    got = read_ledger(spark, str(root), schema, 0)
    assert got.schema == _parse_datatype_string(schema)
    assert got.count() == 0


def test_arrivals_are_four_ordered_files_and_a_replay(spark, tmp_path):
    arriving = spark.range(12).withColumn("g", F.col("id") % 4)
    stage = stage_arrivals(arriving, str(tmp_path / "in"))
    assert os.listdir(tmp_path) == ["in"], "scratch dirs left behind"
    names = sorted(os.listdir(stage))
    assert names[:4] == [f"f{g}.parquet" for g in range(4)]
    assert len(names) == 5
    assert re.fullmatch(r"replay-[0-9a-f]{8}\.parquet", names[4])
    paths = [os.path.join(stage, n) for n in names]
    assert all(os.path.isfile(p) for p in paths)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 5
    for g in range(4):
        t = pq.read_table(paths[g])
        assert t.column_names == ["id"]
        assert sorted(t.column("id").to_pylist()) == list(range(g, 12, 4))
    with open(paths[0], "rb") as a, open(paths[4], "rb") as b:
        assert a.read() == b.read()


def test_publish_loser_keeps_the_winners_copy(tmp_path):
    target = tmp_path / "fixture"

    def build(staging):
        (pathlib.Path(staging) / "data").write_text("loser")
        # another process publishes while this build runs
        target.mkdir()
        (target / "data").write_text("winner")
        (target / "_DONE").write_bytes(b"")

    assert publish_fixture(str(target), build) == str(target)
    assert (target / "data").read_text() == "winner"
    assert not list(tmp_path.glob("*.build-*"))
    # a published copy is returned without building again
    assert publish_fixture(str(target), None) == str(target)


def test_publish_replaces_an_unmarked_target(tmp_path):
    target = tmp_path / "fixture"
    target.mkdir()
    (target / "data").write_text("partial")
    publish_fixture(
        str(target), lambda s: (pathlib.Path(s) / "data").write_text("full")
    )
    assert (target / "data").read_text() == "full"
    assert (target / "_DONE").exists()
    assert not list(tmp_path.glob("*.build-*"))


def test_publish_raising_build_leaves_no_staging_dir(tmp_path):
    target = tmp_path / "fixture"

    def build(staging):
        (pathlib.Path(staging) / "data").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        publish_fixture(str(target), build)
    assert os.listdir(tmp_path) == []


def _function_lines(path, name):
    tree = ast.parse(path.read_text())
    fn = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == name
    )
    return range(fn.lineno, fn.end_lineno + 1)


def _hits(paths, pattern):
    rx = re.compile(pattern)
    return [
        (p, n)
        for p in paths
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if rx.search(line)
    ]


def test_one_ledger_reader_one_arrival_writer_one_publish():
    package = sorted(PACKAGE.rglob("*.py"))
    filesource = PACKAGE / "streaming" / "filesource.py"
    reader = _function_lines(filesource, "read_ledger")
    listed = [
        f"{p.relative_to(ROOT)}:{n}"
        for p, n in _hits(package, r'startswith\("batch="\)')
        if not (p == filesource and n in reader)
    ]
    assert not listed, f"list batch= partitions with read_ledger: {listed}"
    published = [
        f"{p.relative_to(ROOT)}:{n}"
        for p, n in _hits(package, r"os\.rename\(staging")
        if p != PACKAGE / "workdirs.py"
    ]
    assert not published, f"publish with workdirs.publish_fixture: {published}"
    everywhere = package + sorted((ROOT / "tests").rglob("*.py")) + sorted(
        (ROOT / "tools").rglob("*.py")
    )
    moved = [
        f"{p.relative_to(ROOT)}:{n}"
        for p, n in _hits(everywhere, r"shutil\.move\(os\.path\.join\(tmp, part\)")
    ]
    assert not moved, f"write single files with write_single_file: {moved}"


@pytest.mark.parametrize(
    "pattern, owners",
    [
        (r"awaitTermination\(", ["_drain"]),
        (r"\.readStream\b", ["stream_files_available_now"]),
        (r'format\("memory"\)', ["run_to_memory"]),
        (r"""['"]batch=""", ["read_ledger", "write_ledger", "_read_batches"]),
    ],
    ids=["await", "reader", "memory-sink", "ledger-layout"],
)
def test_one_stream_driver(pattern, owners):
    """Every stream starts, reads, sinks to memory and names a ledger
    partition only inside the filesource functions that own it."""
    filesource = PACKAGE / "streaming" / "filesource.py"
    owned = {n for name in owners for n in _function_lines(filesource, name)}
    stray = [
        f"{p.relative_to(ROOT)}:{n}"
        for p, n in _hits(sorted(PACKAGE.rglob("*.py")), pattern)
        if not (p == filesource and n in owned)
    ]
    assert not stray, f"{pattern} belongs to {owners} only: {stray}"
