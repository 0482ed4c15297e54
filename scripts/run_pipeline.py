#!/usr/bin/env python
"""spark-submit entry point for the ER pipeline.

Cluster usage (the north-rule deployment shape):

    zip -r sz_spark.zip sz_spark
    spark-submit --py-files sz_spark.zip scripts/run_pipeline.py \
        --sf-dir /data/testdata/sf0.1 \
        --output /data/out/clusters \
        --checkpoint-dir /data/ckpt/run1 \
        --threshold 0.94

Reads the documents table under --sf-dir (or a prebuilt transcripts
parquet via --transcripts), runs canonicalize -> blocking -> scoring ->
clustering with resumable checkpoints, writes cluster assignments to
--output, and prints a one-line JSON summary.

No local-mode assumptions: the session comes from
``sz_spark.session.build_session`` with the master and deploy mode left
to spark-submit (or ``PYSPARK_SUBMIT_ARGS``); run directly (python
scripts/run_pipeline.py) it falls back to spark-submit's local[*].
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow running from a repo checkout without --py-files: spark-submit puts
# scripts/ (not the repo root) on sys.path
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo_root, "sz_spark")) and _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)


#: flags that set a PipelineConfig field of the same name
_CONFIG_FLAGS = ("checkpoint_dir", "threshold", "max_block_size")


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", help="directory with documents.parquet (synth input)")
    p.add_argument("--transcripts", help="parquet path of a real transcripts table")
    p.add_argument("--output", required=True, help="output path for cluster assignments")
    # pipeline flags default to PipelineConfig's fields: unset, they
    # stay out of the namespace (see _config)
    unset = argparse.SUPPRESS
    p.add_argument("--checkpoint-dir", default=unset)
    p.add_argument("--threshold", type=float, default=unset)
    p.add_argument("--max-block-size", type=int, default=unset)
    return p


def _config(args: argparse.Namespace):
    """PipelineConfig from the flags the user set; the rest keep the
    dataclass defaults."""
    from sz_spark.pipeline import PipelineConfig

    return PipelineConfig(
        **{k: getattr(args, k) for k in _CONFIG_FLAGS if hasattr(args, k)}
    )


def main() -> int:
    p = _parser()
    args = p.parse_args()
    if not args.sf_dir and not args.transcripts:
        p.error("one of --sf-dir / --transcripts is required")

    from sz_spark import blocking
    from sz_spark.pipeline import run_pipeline
    from sz_spark.session import build_session
    from sz_spark.transcripts import build_transcripts

    spark = build_session(app_name="sz_spark_pipeline")

    if args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    else:
        transcripts = build_transcripts(spark, args.sf_dir)

    cfg = _config(args)
    t0 = time.time()
    n_turns = transcripts.count()
    stages = run_pipeline(spark, transcripts, cfg)
    stages["clusters"].write.mode("overwrite").parquet(args.output)
    clusters = spark.read.parquet(args.output)
    summary = {
        "n_turns": n_turns,
        "n_conversations": clusters.count(),
        "n_clusters": clusters.select("cluster_id").distinct().count(),
        "suppressed_blocks": blocking.suppressed_blocks(
            blocking.bands_from_features(stages["doc_features"], id_col="did"),
            cfg.max_block_size,
        ).count(),
        "wall_sec": round(time.time() - t0, 2),
        "output": args.output,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
