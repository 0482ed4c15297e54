"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "sz_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this pipeline: the one
    session recipe every entry point uses.

    ``master=None`` takes the master from spark-submit (or
    ``PYSPARK_SUBMIT_ARGS``); a cluster deployment then gets the same
    pipeline conf block and worker prewarm as a ``local[N]`` test
    session.  The settings that only matter for a JVM this call
    launches itself (driver memory, GC/JIT thread caps, scratch dir, UI
    off) apply only to a ``local`` master passed here.  A local master,
    passed or submitted, whose launch conf leaves the shuffle width
    unset gets its ``defaultParallelism`` instead of Spark's 200.
    ``extra`` is applied last, so its keys win.
    """
    builder = SparkSession.builder.appName(app_name)
    cores = _local_cores(master)
    if master is not None:
        builder = builder.master(master)
    if cores is not None:
        builder = _local_conf(builder, cores)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        # AQE: runtime re-planning + skew-join splitting — the Spark
        # analog of the reference's two-tier small/large work scheduling
        # (similarities/serial.hpp:3296-3395).  Partition COALESCING is
        # off: AQE sizes post-shuffle partitions by shuffle BYTES, and
        # this engine's heavy stages are Arrow/pandas UDFs whose cost is
        # CPU per row on surrogate-long keys — tiny bytes, huge compute —
        # so byte-driven coalescing collapses exactly the parallelism the
        # explicit 4x-waves repartitions create (scoring.py documents why
        # AQE cannot see Python CPU cost).  Measured on the 975k-turn
        # probe, same session, 8 cores: 29.7/33.5 s with coalescing off
        # vs 57.4/62.5 s with it on (~1.9x), identical clusters; the
        # 2-core side improved 80-88 -> 74.6 s.  At 100 TB the explicit
        # shuffle-partition sizing (scripts/scale_projection.py) already
        # bounds partition size; skew-join splitting — the part of AQE
        # that protects the band/pair joins from hot keys — stays ON.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the zero-copy tape the reference's Strs already speaks
        # (python/stringzilla.c:392-395) — mandatory for pandas UDFs
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    if (
        shuffle_partitions is None
        and _local_cores(sc.master) is not None
        and not sc.getConf().contains("spark.sql.shuffle.partitions")
    ):
        spark.conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    sc.setLogLevel("WARN")
    _prewarm_python_workers(spark)
    return spark


def _local_cores(master: str | None) -> int | None:
    """Worker threads of a ``local``, ``local[N]``, ``local[*]`` or
    ``local[N,F]`` master; None for any other master, or none given."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master or "")
    if m is None:
        return None
    n = m.group(1) or "1"
    return int(n) if n.isdigit() else (os.cpu_count() or 32)


def _local_conf(builder: SparkSession.Builder, cores: int) -> SparkSession.Builder:
    """Settings for the driver JVM a local master runs everything in."""
    builder = builder.config("spark.ui.enabled", "false").config(
        "spark.driver.memory", os.environ.get("SZ_SPARK_DRIVER_MEM", "32g")
    )
    # Size the JVM's BACKGROUND parallelism to the session's core budget
    # instead of the machine's.  HotSpot picks GC/JIT thread counts from
    # os.cpu_count(), so a local[2] probe JVM on a 32-core box runs ~23
    # parallel-GC threads and ~12 JIT compiler threads and was measured
    # consuming ~6.7 cores for a "2-core" job — which both borrows idle
    # cores the scaling methodology assumes absent (a real 2-core
    # executor does everything within 2 cores) and makes N concurrent
    # copies collide in GC/JIT stampedes (weak-scaling CPU inflated
    # 140->164 tree-CPU-sec).  A whole-machine session keeps the JVM's
    # own ergonomics; measured with caps: solo local[2] tree-CPU
    # 140->122 s, 4x-copy weak-scaling efficiency 0.755->0.877, and the
    # local[8] probe ran FASTER (22.8->12.9 s wall) with less GC/JIT
    # thrash.
    if cores < (os.cpu_count() or 32):
        gc_threads = max(2, cores)
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={gc_threads} "
            f"-XX:ConcGCThreads={max(1, gc_threads // 4)} "
            f"-XX:CICompilerCount={max(2, min(cores, 12))}",
        )
    # Shuffle/spill scratch.  Spark reads SPARK_LOCAL_DIRS ahead of
    # spark.local.dir, and real clusters hand it node-local NVMe that
    # way.  Unset, prefer RAM-backed scratch over the VM disk, which was
    # measured as low as 4 MB/s writes (a 6 s shuffle-heavy query took
    # 266 s): shuffle bytes are identical, only the device changes.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        scratch = "/dev/shm/sz_spark_local"
        os.makedirs(scratch, exist_ok=True)
        builder = builder.config("spark.local.dir", scratch)
    return builder


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Prestart the Python worker pool and its heavy imports.

    A fresh session's FIRST Arrow-UDF stage pays worker spawn + numpy/
    pyarrow/pandas imports + the JVM's Arrow-stream codepath warmup —
    measured ~1.9 s at local[8] on an earlier 32-core box (2.58 s first
    stage vs 0.69 s after); those numbers predate the 4-core box the
    benchmark now runs on.  Long-lived executors amortize this across
    jobs via spark.python.worker.reuse; a short-lived session pays it
    inside its first real query unless the pool is prestarted at build
    time, which is what this does: one tiny mapInArrow pass (two tasks
    per worker slot) that performs the worker-side imports and touches
    the compiled kernel twin so its dlopen (or first-time gcc build, on
    a cold cache) also happens here rather than inside a timed stage.
    Importing ``sz_spark`` there also installs the package's checked
    zipimporter invalidation (``sz_spark/__init__.py``) in every pooled
    worker, so no timed task pays the per-task re-read of pyspark.zip.
    Best-effort: a failure leaves the session usable and is logged once
    here — the same fault (e.g. workers that cannot import sz_spark)
    would otherwise surface only inside the first real query."""
    try:
        from pyspark.sql import types as T

        n = max(2, spark.sparkContext.defaultParallelism)

        def fn(batches):
            import numpy as np  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401

            from sz_spark import kernels as K

            # touch the native twin: dlopen / first-time build
            K.fingerprints_flat(
                np.zeros(4, dtype=np.uint8),
                np.array([0, 4], dtype=np.int64),
                ndim=8,
            )
            yield from batches

        schema = T.StructType([T.StructField("id", T.LongType())])
        (
            spark.range(2 * n, numPartitions=2 * n)
            .mapInArrow(fn, schema)
            .selectExpr("count(1)")
            .collect()
        )
    except Exception as exc:  # prewarm must never break a session
        logging.getLogger(__name__).warning(
            "Python worker prewarm failed; the first Arrow stage will pay "
            "worker start-up and may fail the same way: %s", exc
        )
