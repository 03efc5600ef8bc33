"""Time individual registry queries with the bench methodology
(noop sink, shared warm session), printing per-query median of N wall
seconds and of N CPU seconds of the process tree (this process, the
JVM and every process they started, reaped ones included).

Usage: SPARK_GRAFT_CPUS=32 python tools/solo_bench.py [--runs=3] [--repo=DIR] [sf_dir] query [...]

``--repo`` picks the tree that is imported (default: this checkout), so
the same script measures another checkout unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """user + system CPU seconds of this process and its descendants,
    with the children each has reaped (fields 14-17 of /proc/<pid>/stat)."""
    parent, ticks = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)], ticks[int(pid)] = int(fields[1]), sum(map(int, fields[11:15]))
    tree = [os.getpid()]
    for pid in tree:  # grows while it is walked
        tree += [c for c, p in parent.items() if p == pid]
    return sum(ticks.get(p, 0) for p in tree) / _CLK_TCK


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    while args and args[0].startswith("--"):
        key, val = args[0].split("=", 1)
        if key == "--runs":
            runs = int(val)
        elif key == "--repo":
            repo = val
        args = args[1:]
    sys.path.insert(0, repo)
    from etl_mp_transactions_spark import registry
    from etl_mp_transactions_spark.session import get_spark

    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "solo-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    from etl_mp_transactions_spark.sources.bronze import staged_bronze

    staged_bronze(spark, sf_dir).write.format("noop").mode("overwrite").save()
    qs = registry.queries()
    out, cpu = {}, {}
    for name in names:
        ts, cs = [], []
        for _ in range(runs):
            c0, t0 = tree_cpu_s(), time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.time() - t0, 3))
            cs.append(round(tree_cpu_s() - c0, 2))
        ts.sort()
        cs.sort()
        out[name], cpu[name] = ts[len(ts) // 2], cs[len(cs) // 2]
        print(f"# {name}: median {out[name]}s of {ts}, cpu {cpu[name]}s of {cs}",
              file=sys.stderr)
    print(json.dumps({"loadavg": os.getloadavg()[0], "queries": out, "cpu_s": cpu}))


if __name__ == "__main__":
    main()
