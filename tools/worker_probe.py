"""Split the CPU time of trivial Python worker tasks between the driver,
the JVM and the Python workers.

Runs ``--tasks`` one-row Python tasks (an RDD ``foreach`` with one
partition per task) on a ``local[4]`` session, after one untimed round
that starts the workers, and prints the user + system CPU each side
spent per task: the driver (this process), the session JVM (its own
threads) and the Python workers (every process under the JVM, the
worker daemon and its forked workers, reaped ones included). A task
that does no work costs what the worker does around it, so the worker
figure is the per-task fixed cost of every ``foreachPartition``,
``mapInPandas``, ``applyInPandas`` and UDF task.

Usage: python tools/worker_probe.py [--repo=DIR] [--tasks=N]

``--repo`` picks the tree that is imported (default: this checkout), so
the same script measures another checkout unchanged.
"""

from __future__ import annotations

import json
import os
import resource
import sys

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat(int(name))[1]), []).append(int(name))
            except OSError:
                continue
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM's own threads and the
    processes under the JVM (with their reaped children)."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    workers = 0
    for pid in _descendants(jvm_pid):
        try:
            workers += sum(int(x) for x in _stat(pid)[11:15])
        except OSError:
            continue
    return {
        "driver": me.ru_utime + me.ru_stime,
        "jvm": sum(int(x) for x in _stat(jvm_pid)[11:13]) / CLK_TCK,
        "workers": workers / CLK_TCK,
    }


def main() -> int:
    args = sys.argv[1:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tasks = 200
    for a in args:
        if a.startswith("--repo="):
            repo = a.split("=", 1)[1]
        elif a.startswith("--tasks="):
            tasks = int(a.split("=", 1)[1])
    sys.path.insert(0, repo)

    from etl_mp_transactions_spark.session import get_spark

    spark = get_spark("worker-probe", master="local[4]", shuffle_partitions=4)
    try:
        sc = spark.sparkContext
        jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

        def run():
            sc.parallelize(range(tasks), tasks).foreach(lambda _: None)

        run()  # untimed: starts the daemon and the workers
        before = cpu_split(jvm_pid)
        run()
        after = cpu_split(jvm_pid)
    finally:
        spark.stop()

    per_task_ms = {k: round(1000 * (after[k] - before[k]) / tasks, 2) for k in after}
    print(f"{tasks} trivial Python tasks on local[4]; CPU ms per task:")
    for k, v in per_task_ms.items():
        print(f"  {k:8s} {v:8.2f}")
    print(json.dumps({"tasks": tasks, "cpu_ms_per_task": per_task_ms}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
