"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF and
compares against ``oracle_sql()`` via DuckDB: row count, column names,
and exact values (columns sorted by name, rows sorted by all columns).
Exact equality here is *stricter* than any order-insensitive hash the
driver could use — if this passes, the driver passes.

Usage: python tools/oracle_compare.py [--out=FILE.json] [sf_dir] [query ...]

With --out, writes a machine-readable per-query artifact in the
driver's CORRECTNESS_r{N}.json schema ({rows_match, schema_match,
hash_match, err} per query, plus rows/sec extras) so the non-driver-
sampled queries are auditable without re-running Spark.
"""

from __future__ import annotations

import json
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif s.dtype == object:
            df[c] = s.where(pd.notna(s), None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            af = pd.to_numeric(a[c]).to_numpy(dtype=float)
            bf = pd.to_numeric(b[c]).to_numpy(dtype=float)
            eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at {i}: "
                    f"spark={af[i]!r} duck={bf[i]!r} delta={af[i]-bf[i]!r}"
                )
        else:
            eq = pd.Series(av).astype(object).where(pd.notna(av), None) == pd.Series(
                bv
            ).astype(object).where(pd.notna(bv), None)
            both_null = pd.Series(av).isna() & pd.Series(bv).isna()
            eq = eq | both_null
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at {i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}"
                )
    return problems


def main() -> int:
    args = sys.argv[1:]
    out_path = None
    for a in list(args):
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e
    from etl_mp_transactions_spark.session import get_spark

    spark = get_spark("oracle-compare")
    con = duckdb.connect()
    import os as _os

    # cap DuckDB: its default memory_limit is 80% of RAM, which on top
    # of the Spark driver heap OOM-killed the sf1 gate (r12) — spill
    # to disk instead. Default = min(24GB, half of detected RAM), so
    # the cap never RAISES DuckDB's share on a small box (ADVICE r12).
    # Override with SPARK_GRAFT_DUCK_MEM.
    try:
        ram_gb = (
            _os.sysconf("SC_PAGE_SIZE") * _os.sysconf("SC_PHYS_PAGES")
        ) // (1 << 30)
    except (ValueError, OSError):
        ram_gb = 48
    duck_mem = _os.environ.get(
        "SPARK_GRAFT_DUCK_MEM", f"{max(1, min(24, ram_gb // 2))}GB"
    )
    con.sql(f"SET memory_limit = '{duck_mem}'")
    # anchor spill to the repo root, not whatever cwd we were run from
    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), ".tmp")
    con.sql(f"SET temp_directory = '{tmp}'")

    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = f"{sf_dir}/{t}.parquet"
        # generated scale data writes multi-file tables as directories
        # (realistic layout; see tools/gen_scale_data.py ROWS_PER_FILE)
        src = f"{p}/*.parquet" if _os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "err": None, "rows": None, "sec": None,
        }
        report[name] = rec
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            rec["err"] = f"spark: {ex}"[:500]
            failed.append(name)
            continue
        rec["rows"] = len(spark_pdf)
        if name not in oracles:
            rec["err"] = "no_oracle"
            rec["sec"] = round(time.time() - t0, 2)
            print(
                f"OK?  {name}: rows={len(spark_pdf)} (no oracle — rows-only)"
                f" [{rec['sec']}s]"
            )
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            rec["err"] = f"duckdb: {ex}"[:500]
            failed.append(name)
            continue
        problems = compare(spark_pdf, duck_pdf)
        rec["sec"] = round(time.time() - t0, 2)
        rec["rows_match"] = not any(p.startswith("rowcount") for p in problems)
        rec["schema_match"] = not any(p.startswith("columns") for p in problems)
        # "hash_match" in the driver's sense (order-insensitive value
        # hash); this gate checks exact per-cell equality — stricter
        rec["hash_match"] = not problems
        if problems:
            print(f"FAIL {name} [{rec['sec']}s]")
            for p in problems[:8]:
                print(f"     {p}")
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} [{rec['sec']}s]")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(report),
                 "n_failed": len(failed), "comparison": "exact_values",
                 "queries": report},
                fh, indent=1, sort_keys=True,
            )
        print(f"# wrote {out_path}")
    print(f"\n{len(report) - len(failed)}/{len(report)} ok; failed: {failed or 'none'}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
