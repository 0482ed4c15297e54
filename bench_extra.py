#!/usr/bin/env python
"""Extra benchmark instruments kept out of bench.py, whose timing loop
stays fixed so its records stay comparable.

Modes:
  python bench_extra.py queries [name ...]
      min-of-2 per-query wall at local[$SPARK_GRAFT_CPUS or nproc], the same
      timing policy as bench.py's headline loop (count() action, warm
      JVM/footers/worker pool).  Default: bench.py's HEADLINE list.
  python bench_extra.py plans <out_dir> [suffix] [name ...]
      dump .explain("formatted") of registry queries to
      <out_dir>/<name>_<suffix>.txt (default suffix 'before', default
      all registry queries), with the per-session ids (``plan_id=N``,
      ``#N`` expression ids, ``RDD[N]`` ids) stripped so a ``diff -r``
      of two dumps shows only real plan changes.

Per-stage walls of the real pipeline come from
``python3 perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here (PEP 563)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the session width: $SPARK_GRAFT_CPUS, else the cores this process may run on
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _session():
    from sz_spark.session import build_session

    return build_session(master=f"local[{CPUS}]", app_name="bench_extra")


def _warm(spark):
    """Same warmup as bench.py: JVM/codegen, parquet footers, worker pool."""
    from pyspark.sql.functions import pandas_udf

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "documents"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(1).collect()

    @pandas_udf("long")
    def _w(s: pd.Series) -> pd.Series:
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        return s

    n = CPUS * 4
    spark.range(n, numPartitions=n).select(_w("id").alias("w")).selectExpr(
        "max(w)"
    ).collect()


def mode_queries(names: list[str]) -> None:
    from sz_spark.queries import REGISTRY

    if not names:
        import bench

        names = bench.HEADLINE
    spark = _session()
    _warm(spark)
    out = {}
    for name in names:
        fn, _sql = REGISTRY[name]
        samples = []
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            n_rows = fn(spark, SF_DIR).count()
            samples.append(round(time.time() - t0, 2))
        out[name] = min(samples)
        print(
            f"[bench_extra] {name}: {out[name]}s ({n_rows} rows) {samples}",
            file=sys.stderr,
            flush=True,
        )
    print(json.dumps({"queries": out, "sf_dir": SF_DIR, "cpus": CPUS}))
    spark.stop()


def mode_plans(out_dir: str, suffix: str, names: list[str]) -> None:
    import contextlib
    import io

    from sz_spark.queries import REGISTRY

    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    for name in names or list(REGISTRY):
        fn, _sql = REGISTRY[name]
        buf = io.StringIO()
        try:
            df = fn(spark, SF_DIR)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # pragma: no cover
            buf.write(f"EXPLAIN FAILED: {exc}\n")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(_strip_plan_ids(buf.getvalue()))
        print(f"[plans] wrote {path}", file=sys.stderr, flush=True)
    spark.stop()


def _strip_plan_ids(plan: str) -> str:
    """``plan`` without the ids Spark numbers per session: ``, [plan_id=N]``,
    the digits of ``name#N`` expression ids (``id#12L`` -> ``id#L``),
    the RDD ids of ExistingRDD scans (``MapPartitionsRDD[183]`` ->
    ``MapPartitionsRDD[]``) and the counter in lambda variable names
    (``lambda x_19#`` -> ``lambda x_#``)."""
    plan = re.sub(r",? ?\[plan_id=\d+\]", "", plan)
    plan = re.sub(r"\blambda (\w+?)_\d+#", r"lambda \1_#", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[]", re.sub(r"#\d+", "#", plan))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        mode_queries(sys.argv[2:])
    elif mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        mode_plans(out_dir, suffix, sys.argv[4:])
    else:
        raise SystemExit(f"unknown mode {mode}")
