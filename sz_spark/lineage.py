"""Checkpointing, resume, and per-file lineage/metric rows.

Every checkpointed pipeline stage writes:
* its output as parquet to ``<root>/<stage>/data``,
* one metric row per written data file (stage, run_id, partition_id,
  rows, min/max key, wall ts) to
  ``<root>/_metrics/part-<run_id>-<stage>.parquet`` — the per-partition
  lineage required by BASELINE.json north_rule.  The rows are read off
  the parquet footers the stage's own write just produced (row counts,
  first-column row-group statistics) and written by the driver through
  pyarrow, so lineage launches no Spark job,
* a ``_SUCCESS`` marker (written by Spark) that makes the stage
  resumable: a rerun finds the marker and reads the stage back instead
  of recomputing it (kill/rerun ⇒ identical output, tested in
  tests/test_pipeline.py).

Lineage is parquet-only because it reads parquet footers.  An Iceberg
table would give the same rows without reading any footer: its
``files`` metadata table carries each data file's ``record_count`` and
``lower_bounds``/``upper_bounds``.
"""

from __future__ import annotations

import os
import posixpath
import time
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

SUPPORTED_ROOTS = "a local path, file://, hdfs://, s3://, gs://"


def _open_root(spark: SparkSession, root: str) -> tuple[pafs.FileSystem, str]:
    """(pyarrow filesystem, path in it) of a checkpoint root.  A root
    without a scheme is qualified against Spark's default filesystem
    first, as Spark's own reads and writes of it are."""
    uri = root
    if not urlparse(root).scheme:
        jvm = spark._jvm
        hfs = jvm.org.apache.hadoop.fs.FileSystem.get(spark._jsc.hadoopConfiguration())
        uri = hfs.makeQualified(jvm.org.apache.hadoop.fs.Path(root)).toUri().toString()
    try:
        return pafs.FileSystem.from_uri(uri)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        raise ValueError(
            f"checkpoint root {root!r}: pyarrow cannot open the "
            f"{urlparse(uri).scheme!r} scheme; supported roots are {SUPPORTED_ROOTS}"
        ) from e


def _footer_range(fs: pafs.FileSystem, path: str) -> tuple[int, object, object]:
    """(rows, min, max) of one parquet file from its footer alone: min
    and max of the first column's row-group statistics, compared in the
    column's own order.  The range is (None, None) when the file holds
    no non-null key, or when a row group with keys has no statistics
    (parquet-mr drops them for binary values over 4 KB)."""
    md = pq.read_metadata(path, filesystem=fs)
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = rg.column(0).statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif not (st is not None and st.has_null_count and st.null_count == rg.num_rows):
            return md.num_rows, None, None
    return md.num_rows, lo, hi


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        root: str | None,
        run_id: str | None = None,
    ):
        self.spark = spark
        self.root = root
        # unique per run unless the caller pins one: resumed/repeated runs
        # write their own metric rows instead of duplicating (stage,
        # run_id, partition_id) keys
        self.run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
        if root:
            self.fs, self._fs_root = _open_root(spark, root)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    def _fs_path(self, stage: str) -> str:
        return posixpath.join(self._fs_root, stage, "data")

    def is_done(self, stage: str) -> bool:
        """_SUCCESS probe through the root's filesystem, so resume works
        for cluster URIs (hdfs://, s3://, gs://) as well as local paths."""
        if not self.root:
            return False
        marker = posixpath.join(self._fs_path(stage), "_SUCCESS")
        return self.fs.get_file_info(marker).type != pafs.FileType.NotFound

    def read(self, stage: str) -> DataFrame:
        # resume has no frame to take the schema from: inferred
        return self.spark.read.parquet(self._path(stage))

    def materialize(self, stage: str, df: DataFrame) -> DataFrame:
        """Write-then-read: truncates lineage AND persists for resume.

        The only Spark jobs are the write's: the re-read is pinned to
        ``df``'s schema (no schema-inference job) and the metric rows
        come from the written footers (:meth:`_write_metrics`).
        Without a root dir, falls back to localCheckpoint (no resume)."""
        if not self.root:
            return df.localCheckpoint(eager=True)
        path = self._path(stage)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        self._write_metrics(stage, out)
        return out

    def stage(self, stage: str, build) -> DataFrame:
        """Resume-aware stage runner: reuse the checkpoint if present."""
        if self.is_done(stage):
            return self.read(stage)
        return self.materialize(stage, build())

    def _write_metrics(self, stage: str, df: DataFrame) -> None:
        """One row per data file of the checkpoint ``df`` reads:
        (partition_id, rows, min_key, max_key, stage, run_id, wall_ts).

        ``partition_id`` is the file's position in the sorted file list
        (the writing task's ``part-NNNNN`` when every task wrote one
        file) and ``rows`` the footer's row count.  ``min_key`` /
        ``max_key`` are the min/max of the stage's first column compared
        in the column's own order — numeric for the long ``did`` /
        ``id_a`` keys — then rendered with ``str``; null for a file
        without keys (see :func:`_footer_range`).

        The file list comes from ``df``'s file index and the numbers
        from the footers, and the driver writes the rows with pyarrow:
        no Spark job runs.  The rows land in a hidden ``.tmp-`` file
        that is then moved into place, so a reader never sees a partial
        file, and a rerun of the stage under the same run_id replaces
        its rows instead of adding to them."""
        data_dir = self._fs_path(stage)
        names = sorted(posixpath.basename(f) for f in df.inputFiles())
        ranges = [_footer_range(self.fs, posixpath.join(data_dir, n)) for n in names]

        def key(v):
            return None if v is None else str(v)

        n = len(names)
        table = pa.table(
            {
                "partition_id": pa.array(range(n), pa.int32()),
                "rows": pa.array([r for r, _, _ in ranges], pa.int64()),
                "min_key": pa.array([key(lo) for _, lo, _ in ranges], pa.string()),
                "max_key": pa.array([key(hi) for _, _, hi in ranges], pa.string()),
                "stage": pa.array([stage] * n, pa.string()),
                "run_id": pa.array([self.run_id] * n, pa.string()),
                "wall_ts": pa.array([time.time()] * n, pa.float64()),
            }
        )
        metrics_dir = posixpath.join(self._fs_root, "_metrics")
        self.fs.create_dir(metrics_dir)
        tmp = posixpath.join(metrics_dir, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp, filesystem=self.fs)
        self.fs.move(tmp, posixpath.join(metrics_dir, f"part-{self.run_id}-{stage}.parquet"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics"))
