"""Dump `.explain("formatted")` for named registry queries.

Usage: python tools/explain_dump.py OUTDIR SUFFIX [sf_dir] query [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query. It does not run
the final plan, but building it runs every job the query finishes
before it returns a DataFrame (training loops, collected codebooks,
streaming runners), and most registry entries run at least one, so
building is not free. Streaming queries that cannot produce a batch
plan without running are skipped with a note.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_mp_transactions_spark import registry  # noqa: E402
from etl_mp_transactions_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", rest
    os.makedirs(outdir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(
        "explain-dump", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    qs = registry.queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"(no static plan: {type(exc).__name__}: {exc})"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()
