#!/usr/bin/env python
"""Round-6 optimization helper benchmarks.  bench.py is FROZEN for
measurement (the driver times the round with the round-start copy), so
every extra instrument lives here.

Modes:
  python bench_extra.py queries [name ...]
      min-of-2 per-query wall at local[$SPARK_GRAFT_CPUS], the same
      timing policy as bench.py's headline loop (count() action, warm
      JVM/footers/worker pool).  Default: bench.py's HEADLINE list.
  python bench_extra.py probe [cores] [scale_k]
      one flagship-pipeline scaling probe in a fresh subprocess —
      identical to bench.py --scale-probe (cores default 8).
  python bench_extra.py stages [cores] [scale_k]
      stage-by-stage pipeline profile at local[cores] over the
      replicated corpus: each stage is localCheckpoint-materialized and
      timed separately so the wall decomposes by operator.
  python bench_extra.py plans <out_dir> [suffix] [name ...]
      dump .explain("formatted") of registry queries to
      <out_dir>/<name>_<suffix>.txt (default suffix 'before', default
      all registry queries).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here (PEP 563)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session(cores: int | None = None, shuffle: int | None = None):
    from sz_spark.session import build_session

    cores = cores or CPUS
    return build_session(
        master=f"local[{cores}]",
        shuffle_partitions=shuffle if shuffle is not None else cores,
        app_name="bench_extra",
    )


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


def mode_probe(cores: int, scale_k: int) -> None:
    import subprocess

    out = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench.py"),
            "--scale-probe",
            str(cores),
            SF_DIR,
            str(scale_k),
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    print(out.stdout.strip().splitlines()[-1])


def mode_stages(cores: int, scale_k: int) -> None:
    """Decomposed pipeline probe: localCheckpoint walls per stage."""
    from pyspark.sql import functions as F

    import bench
    from sz_spark import blocking, canonicalize as canon, clustering, scoring
    from sz_spark.pipeline import PipelineConfig, pairs_stage
    from sz_spark.transcripts import build_transcripts_from_documents

    cfg = PipelineConfig()
    spark = _session(cores, shuffle=4 * cores)
    docs_in, scale_k = bench.replicated_documents(spark, SF_DIR, scale_k)
    transcripts = build_transcripts_from_documents(docs_in).localCheckpoint()
    n_turns = transcripts.count()
    timings: dict[str, float] = {}

    def stage(name, df):
        spark.sparkContext.setJobDescription(f"stage:{name}")
        t0 = time.time()
        out = df.localCheckpoint()
        timings[name] = round(time.time() - t0, 2)
        print(f"[stage] {name}: {timings[name]}s", file=sys.stderr, flush=True)
        return out

    t_all = time.time()
    docs = stage(
        "canonicalize",
        canon.canonicalize(transcripts).withColumn("did", F.xxhash64("conv_id")),
    )
    feats = stage(
        "doc_features",
        blocking.doc_features(
            docs,
            id_col="did",
            ndim=cfg.ndim,
            widths=cfg.fp_widths,
            seed=cfg.seed,
            n_bands=cfg.n_bands,
            rows_per_band=cfg.rows_per_band,
        ),
    )
    # run_pipeline's two-tier pairs stage: prune survivors
    pairs_df, bcs = pairs_stage(docs, feats, cfg)
    pruned = stage("pairs", pairs_df)
    for bc in bcs:
        bc.unpersist()
    with_texts = scoring.attach_texts(pruned, docs, id_col="did")
    scored = stage(
        "score",
        scoring.score_pairs(with_texts, threshold=None, bounded=cfg.threshold).select(
            "id_a", "id_b", "edit_distance", "sim"
        ),
    )
    id_map = docs.select("did", "conv_id")
    edges = (
        scored.filter(F.col("sim") >= cfg.threshold)
        .join(id_map.withColumnRenamed("did", "id_a"), "id_a")
        .withColumnRenamed("conv_id", "src")
        .join(id_map.withColumnRenamed("did", "id_b"), "id_b")
        .withColumnRenamed("conv_id", "dst")
        .select("src", "dst")
    )
    asg = clustering.connected_components(edges, max_iterations=cfg.cc_max_iterations)
    clusters = stage(
        "cc+clusters", clustering.clusters_with_singletons(asg, docs, "conv_id")
    )
    n_clusters = clusters.select("cluster_id").distinct().count()
    wall = round(time.time() - t_all, 2)
    print(
        json.dumps(
            {
                "cores": cores,
                "scale_k": scale_k,
                "n_turns": n_turns,
                "n_clusters": n_clusters,
                "stage_walls": timings,
                "total_wall_sec": wall,
                "note": "stage walls include checkpoint materialization; "
                "total > fused pipeline wall",
            }
        )
    )
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
            fh.write(buf.getvalue())
        print(f"[plans] wrote {path}", file=sys.stderr, flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        mode_queries(sys.argv[2:])
    elif mode == "probe":
        cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
        scale_k = int(sys.argv[3]) if len(sys.argv) > 3 else 16
        mode_probe(cores, scale_k)
    elif mode == "stages":
        cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
        scale_k = int(sys.argv[3]) if len(sys.argv) > 3 else 16
        mode_stages(cores, scale_k)
    elif mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        mode_plans(out_dir, suffix, sys.argv[4:])
    else:
        raise SystemExit(f"unknown mode {mode}")
