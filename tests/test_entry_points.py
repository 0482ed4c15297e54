"""The deployment entry points, each in a fresh process whose master
comes from ``PYSPARK_SUBMIT_ARGS`` — as it does under spark-submit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
from test_pipeline import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str]) -> str:
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
    )
    out = subprocess.run(
        [sys.executable, *args],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


_SESSION_PROBE = """
import json
from sz_spark.session import build_session

spark = build_session()
conf = spark.sparkContext.getConf()
print(json.dumps({
    "master": spark.sparkContext.master,
    "batch": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    "coalesce": spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
    "tz": spark.conf.get("spark.sql.session.timeZone"),
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def test_build_session_keeps_submitted_master():
    """build_session() leaves the master to spark-submit and still
    applies the pipeline conf block, and the local master's width
    sets the shuffle partitions."""
    got = json.loads(_run(["-c", _SESSION_PROBE]).strip().splitlines()[-1])
    assert got == {
        "master": "local[2]",
        "batch": "4096",
        "coalesce": "false",
        "tz": "UTC",
        "shuffle": "2",
    }


def test_run_pipeline_script(tmp_path):
    """scripts/run_pipeline.py clusters sf0.001 into its ground-truth
    entities (one per document)."""
    out = str(tmp_path / "clusters")
    stdout = _run(
        [os.path.join("scripts", "run_pipeline.py"), "--sf-dir", SF_DIR, "--output", out]
    )
    summary = json.loads(stdout.strip().splitlines()[-1])
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id"])
    assert summary["n_clusters"] == len(pc.unique(docs["doc_id"]))
