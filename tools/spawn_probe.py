"""Count the processes the session JVM starts during one call.

Wraps one registry call, or one pass of the silver stream (bronze
through ``run_silver_stream`` one file per trigger with one file
delivered twice, then documents through ``stream_incremental_dedup_run``),
in a JFR recording of the session JVM (``jcmd <pid> JFR.start/stop``) and
prints the ``jdk.ProcessStart`` events grouped by command and by the
first Spark frame on the stack. One untimed call runs first, so staging
and first-call set-up stay out of the count. ``record_spawns`` is the
recording step; tests/test_local_fs.py calls it too.

Usage: python tools/spawn_probe.py [--repo=DIR] sf_dir (--silver | query)

``--repo`` picks the tree that is imported (default: this checkout), so
the same script measures another checkout unchanged. Needs the JDK's
``jcmd`` and ``jfr`` on PATH.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile


def _silver_pass(spark, sf_dir: str, work: str):
    """Return a callable running one silver-stream pass into a fresh
    directory under ``work``."""
    import pyarrow.parquet as pq

    from etl_mp_transactions_spark.sources.bronze import staged_bronze_path
    from etl_mp_transactions_spark.streaming.filesource import (
        stream_incremental_dedup_run,
    )
    from etl_mp_transactions_spark.streaming.silver_stream import run_silver_stream

    bronze_dir, doc_dir = os.path.join(work, "bronze"), os.path.join(work, "docs")
    os.makedirs(bronze_dir)
    os.makedirs(doc_dir)
    src = os.path.join(bronze_dir, "part-0000.parquet")
    pq.write_table(pq.read_table(staged_bronze_path(spark, sf_dir)), src)
    shutil.copy(src, os.path.join(bronze_dir, "part-0001.parquet"))
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).sort_by("doc_id")
    per = -(-docs.num_rows // 3)
    for i in range(3):
        pq.write_table(docs.slice(i * per, per), os.path.join(doc_dir, f"part-{i}.parquet"))
    # strictly increasing mtimes fix the file source's batch order
    for d in (bronze_dir, doc_dir):
        for j, f in enumerate(sorted(os.listdir(d))):
            os.utime(os.path.join(d, f), (1_700_000_000 + j, 1_700_000_000 + j))
    schema = spark.read.parquet(bronze_dir).schema
    runs = itertools.count()

    def one_pass():
        d = os.path.join(work, f"pass-{next(runs)}")
        run_silver_stream(
            spark, bronze_dir, schema, os.path.join(d, "silver_ckpt"),
            os.path.join(d, "silver"), max_files_per_trigger=1,
        ).write.format("noop").mode("overwrite").save()
        stream_incremental_dedup_run(
            spark, doc_dir, os.path.join(d, "dedup_ckpt"),
            os.path.join(d, "dedup"), os.path.join(d, "dedup_store"),
        ).write.format("noop").mode("overwrite").save()

    return one_pass


def _first_spark_frame(event: dict) -> str:
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    for fr in frames:
        cls = fr["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark"):
            return f"{cls.rsplit('.', 1)[-1]}.{fr['method']['name']}"
    return "(no spark frame)"


def command(event: dict) -> str:
    """The program name of one ``jdk.ProcessStart`` event."""
    return os.path.basename(event["values"]["command"].split()[0])


def record_spawns(spark, call) -> list[dict]:
    """Run ``call()`` inside a JFR recording of the session JVM and
    return the ``jdk.ProcessStart`` events it recorded."""
    pid = str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with tempfile.TemporaryDirectory(prefix="spawn_probe_") as work:
        jfr = os.path.join(work, "spawns.jfr")
        subprocess.run(["jcmd", pid, "JFR.start", "name=spawn_probe"], check=True,
                       capture_output=True)
        try:
            call()
        finally:
            subprocess.run(["jcmd", pid, "JFR.stop", "name=spawn_probe", f"filename={jfr}"],
                           check=True, capture_output=True)
        printed = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "64",
             "--events", "jdk.ProcessStart", jfr],
            check=True, capture_output=True, text=True,
        ).stdout
    return json.loads(printed)["recording"]["events"]


def main() -> int:
    args = sys.argv[1:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if args[0].startswith("--repo="):
        repo = args.pop(0).split("=", 1)[1]
    sys.path.insert(0, repo)
    sf_dir, target = args

    from etl_mp_transactions_spark import registry
    from etl_mp_transactions_spark.session import get_spark

    spark = get_spark("spawn-probe")
    work = tempfile.mkdtemp(prefix="spawn_probe_")
    try:
        if target == "--silver":
            call = _silver_pass(spark, sf_dir, work)
        else:
            q = registry.queries()[target]

            def call():
                q(spark, sf_dir).write.format("noop").mode("overwrite").save()

        call()  # untimed: staging and first-call set-up
        events = record_spawns(spark, call)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    by_cmd = collections.Counter(command(e) for e in events)
    by_frame = collections.Counter((command(e), _first_spark_frame(e)) for e in events)
    print(f"{target}: {len(events)} process starts")
    for cmd, n in by_cmd.most_common():
        print(f"  {n:6d}  {cmd}")
    print("by command and first Spark frame:")
    for (cmd, frame), n in by_frame.most_common():
        print(f"  {n:6d}  {cmd:10s} {frame}")
    print(json.dumps({"target": target, "total": len(events), "by_command": dict(by_cmd)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
