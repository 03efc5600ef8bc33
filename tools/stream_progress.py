"""Per-micro-batch evidence capture for streaming queries (r16 task #5).

Runs one registry streaming query with a StreamingQueryListener
attached and dumps every QueryProgressEvent (batch durations,
stateOperators metrics incl. the state partition count) plus the
result rowcount and an order-independent result hash — so before/after
trees can be compared batch-for-batch with output equality attested.

Usage: python tools/stream_progress.py <repo_root> <sf_dir> <query> <out.json>

The <repo_root> argument (not this file's location) decides which tree
is imported, so the same script measures an older worktree unchanged.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    repo_root, sf_dir, qname, out_path = sys.argv[1:5]
    sys.path.insert(0, repo_root)

    from etl_mp_transactions_spark import registry
    from etl_mp_transactions_spark.session import get_spark

    spark = get_spark("stream-progress")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            events.append(json.loads(e.progress.json))

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    spark.streams.addListener(_Capture())

    fn = registry.queries()[qname]
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 3)

    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        # a sum, unlike bit_xor, does not cancel a duplicated pair of
        # rows; DECIMAL(38,0) cannot overflow
        F.expr(
            "sum(cast(xxhash64(" + ", ".join(df.columns) + ") as decimal(38,0)))"
        ).alias("h"),
    ).collect()[0]
    time.sleep(2)  # let the listener bus drain

    batches = [
        {
            "batchId": p.get("batchId"),
            "numInputRows": p.get("numInputRows"),
            "durationMs": p.get("durationMs"),
            "stateOperators": [
                {
                    k: op.get(k)
                    for k in (
                        "operatorName",
                        "numShufflePartitions",
                        "numStateStoreInstances",
                        "numRowsTotal",
                        "commitTimeMs",
                    )
                }
                for op in p.get("stateOperators", [])
            ],
        }
        for p in events
    ]
    out = {
        "query": qname,
        "repo_root": repo_root,
        "sf_dir": sf_dir,
        "wall_sec": sec,
        "n_rows": row["n"],
        "result_hash_sum": str(row["h"]),
        "shuffle_partitions_session": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
        "n_batches": len(batches),
        "batches": batches,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in (
        "query", "wall_sec", "n_rows", "n_batches")}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
