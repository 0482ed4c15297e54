#!/usr/bin/env python
"""Driver-correctness rehearsal: run every registry query on Spark AND its
DuckDB oracle at a given sf dir, canonicalize both results the way the
driver does (columns sorted by name, rows sorted by all columns), and
report rows/schema/value matches.

Usage:
    python scripts/rehearse_correctness.py [--sf /root/testdata/sf0.01] \
        [--only name1,name2] [--rows-only-too]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    # stringify with float normalization for a stable value hash
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    return [tuple(cell(v) for v in row) for row in pdf.itertuples(index=False)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from sz_spark.queries import REGISTRY

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .appName("rehearse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    names = list(REGISTRY)
    if len(names) > 50:
        print(
            f"FATAL: registry has {len(names)} entries but the driver "
            "checks only the first 50 — merge or drop queries (round-2 "
            "finding: everything past the cap is silently unverified)."
        )
        return 1
    if args.only:
        only = set(args.only.split(","))
        names = [n for n in names if n in only]

    results = {}
    for name in names:
        fn, sql = REGISTRY[name]
        # queries persist multiply-consumed intermediates; drop them so
        # storage doesn't accumulate across the sequential run
        spark.catalog.clearCache()
        t0 = time.time()
        rec = {}
        try:
            sdf = fn(spark, args.sf).toPandas()
            rec["spark_rows"] = len(sdf)
        except Exception as e:
            rec["err"] = f"spark: {type(e).__name__}: {str(e)[:300]}"
            results[name] = rec
            print(f"{name:32s} SPARK-ERR {rec['err'][:120]}")
            continue
        if sql is None:
            # rows-only check: exercise the driver's canonicalizer too
            try:
                _canon(sdf)
                rec["canon_ok"] = True
            except Exception as e:
                rec["canon_ok"] = False
                rec["err"] = f"canon: {type(e).__name__}: {str(e)[:200]}"
            results[name] = rec
            status = "rows-only" if rec.get("canon_ok") else "CANON-CRASH"
            print(f"{name:32s} {status:11s} rows={rec['spark_rows']} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(sql).df()
            rec["oracle_rows"] = len(odf)
        except Exception as e:
            rec["err"] = f"oracle: {type(e).__name__}: {str(e)[:300]}"
            results[name] = rec
            print(f"{name:32s} ORACLE-ERR {rec['err'][:160]}")
            continue
        rec["rows_match"] = len(sdf) == len(odf)
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        rec["schema_match"] = s_cols == o_cols
        try:
            rec["hash_match"] = _canon(sdf) == _canon(odf)
        except Exception as e:
            rec["hash_match"] = False
            rec["err"] = f"canon: {type(e).__name__}: {str(e)[:200]}"
        results[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        print(
            f"{name:32s} {'MATCH' if ok else 'MISMATCH':9s} "
            f"rows={rec.get('spark_rows')}/{rec.get('oracle_rows')} "
            f"schema={rec['schema_match']} hash={rec['hash_match']} ({time.time()-t0:.1f}s)"
        )
        if not ok and rec["schema_match"] and rec["rows_match"]:
            try:
                a, b = _canon(sdf), _canon(odf)
                diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
                for i in diff:
                    print(f"    row {i}: spark={a[i]} oracle={b[i]}")
            except Exception:
                pass
        elif not rec["schema_match"]:
            print(f"    spark cols={s_cols} oracle cols={o_cols}")

    bad = [n for n, r in results.items() if r.get("err") or r.get("hash_match") is False or r.get("canon_ok") is False]
    print(f"\n{len(results)} checked, {len(bad)} problems: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
