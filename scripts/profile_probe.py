#!/usr/bin/env python
"""Per-stage wall profile of the bench scaling probe.

Usage: python scripts/profile_probe.py <cores> [scale_k] [sf_dir]

Times every eager stage boundary inside run_pipeline (the same path
bench.py's _run_pipeline_probe runs) so the fixed-vs-scalable split of
the 2-vs-8-core walls is visible stage by stage.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
scale_k = int(sys.argv[2]) if len(sys.argv) > 2 else 16
sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

from sz_spark import lineage
from sz_spark.pipeline import PipelineConfig, run_pipeline
from sz_spark.session import build_session
from sz_spark.transcripts import build_transcripts_from_documents

stage_walls = {}
orig_materialize = lineage.CheckpointManager.materialize


def timed_materialize(self, stage, df):
    t0 = time.time()
    out = orig_materialize(self, stage, df)
    stage_walls[stage] = round(time.time() - t0, 2)
    print(f"[profile] stage {stage}: {stage_walls[stage]}s", file=sys.stderr, flush=True)
    return out


lineage.CheckpointManager.materialize = timed_materialize

import bench

# PROF_SHUFFLE_PARTITIONS overrides the 4*cores default so the
# equal-partitions controlled experiment (same plan config at both
# parallelism levels, like a real N->4N executor comparison where
# spark.sql.shuffle.partitions is held constant) is one env var away.
sp = int(os.environ.get("PROF_SHUFFLE_PARTITIONS", 4 * cores))
spark = build_session(master=f"local[{cores}]", app_name=f"profile_{cores}",
                      extra={"spark.sql.shuffle.partitions": str(sp)})
docs, scale_k = bench.replicated_documents(spark, sf_dir, scale_k)
t0 = time.time()
transcripts = build_transcripts_from_documents(docs).localCheckpoint()
n_turns = transcripts.count()
stage_walls["_build_transcripts(untimed_in_bench)"] = round(time.time() - t0, 2)

t0 = time.time()
stages = run_pipeline(spark, transcripts, PipelineConfig())
t_pipe = time.time()
n_clusters = stages["clusters"].select("cluster_id").distinct().count()
stage_walls["_final_distinct_count"] = round(time.time() - t_pipe, 2)
wall = time.time() - t0
tree_cpu = bench._tree_cpu_sec()
print(json.dumps({
    "cores": cores, "scale_k": scale_k, "shuffle_partitions": sp,
    "n_turns": n_turns,
    "n_clusters": n_clusters, "wall_sec": round(wall, 2),
    "tree_cpu_sec": tree_cpu,
    "cpuset": os.environ.get("PROF_CPUSET", ""),
    "stages": stage_walls,
}), flush=True)
spark.stop()
