"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import logging
import os
import pathlib
import re
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from sz_spark import native


def build_session(
    master: str | None = None,
    app_name: str = "sz_spark",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this pipeline: the one
    session recipe every entry point uses.

    ``master=None`` takes the master from spark-submit (or
    ``PYSPARK_SUBMIT_ARGS``) and gets the pipeline conf block and the
    worker prewarm.  A ``local`` master passed here also gets the driver
    JVM's settings: 32g of heap unless ``extra`` sets
    ``spark.driver.memory``, GC/JIT thread caps, scratch dir, UI off, and
    C1 only (``_C1_ONLY``) unless a driver java option names a JIT flag
    (``-XX:TieredStopAtLevel=``, ``-XX:[+-]TieredCompilation``,
    ``-XX:CompilationMode=``, ``-Xint``, ``-Xcomp``), so
    ``extra={"spark.driver.defaultJavaOptions":
    "-XX:TieredStopAtLevel=4"}`` opts back into tiered C2.  When this
    call launches that JVM (no gateway is up), the launch maps the class
    archive (``_ClassArchive``) and the workers import the pyspark tree
    (``_worker_tree``): one launch rule for both.  A local master, passed
    or submitted, runs N shuffle partitions (its ``defaultParallelism``)
    unless ``extra`` or the launch conf sets
    ``spark.sql.shuffle.partitions``.  ``extra`` is applied last, so its
    keys win; its ``spark.driver.extraJavaOptions`` goes after the thread
    caps and before the JIT and archive options.  ``spark.pyspark.python``
    or ``spark.pyspark.driver.python`` in ``extra`` raises ``ValueError``:
    pyspark reads the environment instead.  A launch that records the
    class archive also tours the pipeline (``_tour_pipeline``).  A failing
    worker prewarm raises.  A later call in the same process starts from
    its own ``extra``, not the one an earlier call launched the JVM with
    (``_forget_earlier_launch``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf, archive = _session_conf(master, extra)
    _forget_earlier_launch(conf, extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    with archive.launch_env() if archive else contextlib.nullcontext():
        spark = builder.getOrCreate()
    if archive is not None:
        archive.launched(spark)
    sc = spark.sparkContext
    if _local_cores(sc.master) is not None and not sc.getConf().contains(
        "spark.sql.shuffle.partitions"
    ):
        spark.conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    sc.setLogLevel("WARN")
    _prewarm_python_workers(spark)
    if archive is not None and archive.found is None:
        _tour_pipeline(spark)
    return spark


#: the ``extra`` of the ``build_session`` call that launched this
#: process's driver JVM (empty until one does)
_LAUNCH_EXTRA: dict[str, str] = {}


def _forget_earlier_launch(conf: dict[str, str], extra: dict[str, str] | None) -> None:
    """Keep an earlier call's ``extra`` out of a new session in this process.

    pyspark launches the driver JVM through spark-submit, which turns
    every launch conf entry into a JVM system property, and every later
    ``SparkConf`` in that JVM loads them.  So after ``stop()``, a second
    ``build_session`` would inherit keys only the first one's ``extra``
    set (say, a shuffle width of 8 where its own master gives 2).  A call
    that launches the JVM records its ``extra``; a later call that
    creates a new context clears the recorded keys its own ``conf`` does
    not set.  The rest of the launch conf stays: it is the recipe every
    call applies, or the launch plan (the worker tree, the JVM's own
    options) that holds for the JVM's life.  System properties of a
    spark-submit of the user's own are left alone."""
    if not _gateway_up():
        _LAUNCH_EXTRA.clear()
        _LAUNCH_EXTRA.update(extra or {})
    elif SparkContext._active_spark_context is None:
        for key in _LAUNCH_EXTRA.keys() - conf.keys():
            SparkContext._jvm.java.lang.System.clearProperty(key)


def _gateway_up() -> bool:
    """True when this process already reaches a driver JVM: pyspark
    launched one, or spark-submit started this process."""
    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


#: conf keys that pyspark ignores, and the environment variable it reads
#: instead (``pyspark/core/context.py`` takes the worker command from it)
_PYTHON_ENV = {
    "spark.pyspark.python": "PYSPARK_PYTHON",
    "spark.pyspark.driver.python": "PYSPARK_DRIVER_PYTHON",
}


def _session_conf(
    master: str | None, extra: dict[str, str] | None
) -> tuple[dict[str, str], _ClassArchive | None]:
    """``build_session``'s conf, in the order it is applied, and the
    class archive the driver JVM it launches maps (None: no archive).
    Whether a JVM is launched (a local master, no gateway up), the Spark
    home, the conf dir and the cache dir are decided here, once."""
    for key, var in _PYTHON_ENV.items():
        if key in (extra or {}):
            raise ValueError(f"{key} has no effect: pyspark reads {var}; set it instead")
    cores = _local_cores(master)
    conf = _local_conf() if cores is not None else {}
    conf.update(
        {
            # AQE: runtime re-planning, and skew-join splitting for the
            # band/pair joins' hot keys (the analog of the reference's
            # two-tier work scheduling, similarities/serial.hpp:3296-3395).
            # Partition COALESCING is off: it sizes post-shuffle partitions
            # by shuffle bytes, and the heavy stages are Arrow/pandas UDFs
            # whose cost is CPU per row on tiny surrogate-long keys, so it
            # collapses the parallelism of the explicit 4x-waves
            # repartitions (scoring.py).  975k-turn probe, 8 cores: 29.7/
            # 33.5 s off vs 57.4/62.5 s on, identical clusters.
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # Arrow is the zero-copy tape the reference's Strs already
            # speaks (python/stringzilla.c:392-395) — mandatory for pandas
            # UDFs
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
            "spark.sql.session.timeZone": "UTC",
        }
    )
    conf.update(extra or {})
    if cores is None:
        return conf, None
    # the caps first, so a caller's own flags in extraJavaOptions win;
    # the JIT policy and the archive options after them
    _add_java_options(conf, _thread_caps(cores), first=True)
    if not _USER_JIT.search(_java_options(conf)):
        _add_java_options(conf, _C1_ONLY)
    if _gateway_up():
        return conf, None  # no JVM is launched: nothing below reaches one
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.path.abspath(native.cache_dir())
    archive = _ClassArchive.for_launch(conf, spark_home, conf_dir, cache)
    if archive is not None:
        _add_java_options(conf, archive.java_options)
    tree = _worker_tree(conf, spark_home, conf_dir, cache)
    if tree is not None:
        conf["spark.python.daemon.module"] = _DAEMON_MODULE
        path = conf.get("spark.executorEnv.PYTHONPATH")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(p for p in (path, tree) if p)
    return conf, archive


#: the driver JVM's JIT policy: C1 only.  At the pipeline's scale the
#: driver mostly runs short-lived framework code and freshly generated
#: code, and C2's compiler threads compete with the tasks for the cores.
#: perfbench on a 4-core box, tiered C2 -> C1 only, medians of 10
#: alternating pairs, C1 winning all 10 on every metric: ``warm_cpu_s``
#: 3.16 -> 1.86 s (dup_heavy) and 4.90 -> 2.66 s (hard_negatives_ckpt),
#: ``cold_run_s`` 1.67 -> 1.18 and 2.83 -> 2.12 s, ``setup_s``
#: 2.74 -> 2.40 and 2.73 -> 2.39 s.  The 975k-turn probe at local[4]
#: (long loops, where C1 code is slowest) took 6.5-6.9 s of wall
#: against 7.5-8.0 s and 38-39 s of CPU against 54-56 s.  C2 kept with
#: ``-XX:CICompilerCount=2`` lost to C1 only on every metric.
_C1_ONLY = "-XX:TieredStopAtLevel=1"

#: java options that already pick the JIT policy.  Every source
#: ``_java_options`` joins reaches HotSpot before the tail of
#: ``extraJavaOptions`` that ``_C1_ONLY`` is appended to, and the last
#: flag wins, so ``_C1_ONLY`` is added only when none of these is there
_USER_JIT = re.compile(
    r"-XX:(?:TieredStopAtLevel|CompilationMode)=|-XX:[+-]TieredCompilation"
    r"|(?<!\S)-X(?:int|comp)(?!\S)"
)


def _java_options(conf: dict[str, str]) -> str:
    """Every java option the driver JVM launched with ``conf`` reads,
    joined: ``spark.driver.defaultJavaOptions``,
    ``spark.driver.extraJavaOptions``, ``JAVA_TOOL_OPTIONS`` and
    ``JDK_JAVA_OPTIONS``."""
    return " ".join(
        [
            conf.get("spark.driver.defaultJavaOptions", ""),
            conf.get("spark.driver.extraJavaOptions", ""),
            os.environ.get("JAVA_TOOL_OPTIONS", ""),
            os.environ.get("JDK_JAVA_OPTIONS", ""),
        ]
    )


def _add_java_options(conf: dict[str, str], options: str, first: bool = False) -> None:
    """Append ``options`` to the driver's ``extraJavaOptions`` (or put
    them in front, ``first``)."""
    opts = conf.get("spark.driver.extraJavaOptions", "")
    joined = (f"{options} {opts}" if first else f"{opts} {options}").strip()
    if joined:
        conf["spark.driver.extraJavaOptions"] = joined


def _local_cores(master: str | None) -> int | None:
    """Worker threads of a ``local``, ``local[N]``, ``local[*]`` or
    ``local[N,F]`` master; None for any other master, or none given."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master or "")
    if m is None:
        return None
    n = m.group(1) or "1"
    return int(n) if n.isdigit() else (os.cpu_count() or 32)


def _local_conf() -> dict[str, str]:
    """Settings for the driver JVM a local master runs everything in."""
    conf = {
        "spark.ui.enabled": "false",
        # a caller's own heap goes through build_session(extra=...)
        "spark.driver.memory": "32g",
    }
    # Shuffle/spill scratch.  Spark reads SPARK_LOCAL_DIRS ahead of
    # spark.local.dir, and real clusters hand it node-local NVMe that
    # way.  Unset, prefer RAM-backed scratch over the VM disk, which was
    # measured as low as 4 MB/s writes (a 6 s shuffle-heavy query took
    # 266 s): shuffle bytes are identical, only the device changes.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        scratch = "/dev/shm/sz_spark_local"
        os.makedirs(scratch, exist_ok=True)
        conf["spark.local.dir"] = scratch
    return conf


def _thread_caps(cores: int) -> str:
    """GC/JIT thread caps for a local driver JVM of ``cores`` worker
    threads; none for a whole-machine session."""
    # Size the JVM's BACKGROUND parallelism to the session's core budget
    # instead of the machine's.  HotSpot picks GC/JIT thread counts from
    # os.cpu_count(), so a local[2] probe JVM on a 32-core box runs ~23
    # parallel-GC threads and ~12 JIT compiler threads and was measured
    # consuming ~6.7 cores for a "2-core" job — which both borrows idle
    # cores the scaling methodology assumes absent (a real 2-core
    # executor does everything within 2 cores) and makes N concurrent
    # copies collide in GC/JIT stampedes (weak-scaling CPU inflated
    # 140->164 tree-CPU-sec).  A whole-machine session keeps the JVM's
    # own ergonomics; measured with caps (under tiered C2): solo local[2]
    # tree-CPU 140->122 s, 4x-copy weak-scaling efficiency 0.755->0.877,
    # and the local[8] probe ran FASTER (22.8->12.9 s wall) with less
    # GC/JIT thrash.  Under the C1-only policy (``_C1_ONLY``, which
    # ``_session_conf`` adds unless the user picked a JIT policy)
    # CICompilerCount caps the C1 compiler threads; under a user's
    # tiered policy, C1 and C2 threads together.
    if cores >= (os.cpu_count() or 32):
        return ""
    gc_threads = max(2, cores)
    return (
        f"-XX:ParallelGCThreads={gc_threads} "
        f"-XX:ConcGCThreads={max(1, gc_threads // 4)} "
        f"-XX:CICompilerCount={max(2, min(cores, 12))}"
    )


#: first word of a HotSpot static class-data-sharing archive
#: (0xf00baba2, little-endian)
_ARCHIVE_MAGIC = b"\xa2\xab\x0b\xf0"

#: java options that already decide class sharing, or the pointer
#: encoding an archive must match, for the driver JVM
_USER_SHARING = re.compile(
    r"-Xshare:|-XX:(?:SharedArchiveFile|ArchiveClassesAtExit|DumpLoadedClassList"
    r"|SharedClassListFile|ObjectAlignmentInBytes)=|-XX:[+-]UseCompressed"
)

#: JDK 17 maps an archive only into a JVM with the compressed-oops mode
#: it was dumped with, and a heap this large (the 32g default driver
#: memory) runs without compressed oops
_WIDE_HEAP = 32 << 30

#: shift of each ``-Xmx`` size suffix
_SIZE_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}

#: launch inputs that put class path entries besides the conf dir and
#: ``$SPARK_HOME/jars`` on the driver JVM; the archive key covers neither
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)

#: version of what a recording launch loads besides its own work
#: (``_tour_pipeline``), part of the archive key: a change to the tour
#: bumps it, so caches recorded before it record again once
_ARCHIVE_COVERAGE = 1

#: a ``_ClassArchive`` file in the cache dir: key, recorder pid, kind
_ARCHIVE_FILE = re.compile(
    r"spark_cds_([0-9a-f]{16})_(?:coops|wide)(?:\.(\d+))?"
    r"\.(?:jsa|jsa\.tmp|classlist|log(?:\.\d+)?)"
)


class _ClassArchive:
    """The class-data-sharing (CDS) archive a local driver JVM maps.

    Launching the driver JVM and creating the SparkContext is almost all
    class loading.  On a 4-core box the launch took 7.4-8.3 s and the
    first job 2.8-3.6 s; with the archive mapped, 3.8-4.7 s and
    1.4-1.9 s.

    - *Where:* ``native.cache_dir()``, next to the compiled kernel, as
      ``spark_cds_<key>_<mode>.jsa``.  The key hashes the coverage
      version ``_ARCHIVE_COVERAGE``, the JDK (realpath and stat of the
      ``java`` spark-class runs, and its ``release`` file) and the
      name, size and mtime of every ``$SPARK_HOME/jars/*.jar``: nothing
      that changes from process to process.  JDK 17 maps an archive
      only into a JVM with the compressed-oops mode it was dumped with,
      so a driver heap of 32 GiB or more (``wide``, the default ``32g``)
      and a smaller one (``coops``) each get their own archive, dumped
      with the recording JVM's ``-Xmx``, as the JDK keeps
      ``classes_nocoops.jsa`` next to ``classes.jsa``.
    - *Coverage:* the classes the recording process loaded: the
      launch, the worker prewarm, the tour of ``_tour_pipeline`` (the
      pipeline with ``localCheckpoint`` and with parquet checkpoints)
      and whatever the process ran next.  Before the tour, a
      ``dup_heavy`` recorder's list had 1 parquet class, and
      perfbench's ``hard_negatives_ckpt`` ``cold_run_s`` was 2.13 s
      over such an archive; with it, 1.80 s (median of 10 alternating
      pairs on a 4-core box, 10 won), with ``dup_heavy`` flat and peak
      RSS +25 MB.  A tour change bumps ``_ARCHIVE_COVERAGE``, so every
      cache records once more.
    - *Recording:* a launch that finds no archive has its JVM list the
      classes it loads (``-XX:DumpLoadedClassList``), which costs the
      launch nothing measurable, and runs the tour (~3-5 s, once per
      key).  At interpreter exit the list is dumped into a static
      archive (``-Xshare:dump``, which runs interpreted:
      ~40 s of one core, once per key) under a temporary name.  The file
      is renamed into place only after the dumping JVM has exited and
      only if it carries the archive magic.  One dump runs per cache at
      a time (an flock); a recorder that finds the lock taken drops its
      list.  The published list stays as ``spark_cds_<key>.classlist``;
      publishing deletes what dead recorders left and every other key's
      files.  Recording at JVM exit instead (``-XX:ArchiveClassesAtExit``)
      cost the recording launch +2.8 s and its first job +1.8 s.
    - *Rejection:* the JVM keeps its default ``-Xshare:auto``, so an
      archive it cannot map (say, a truncated file) only costs speed.
      ``java.vm.info`` then lacks "sharing"; the archive is dumped again
      at exit from the kept list, or deleted when that fails, so the
      next launch records a new one.
    - *Eligibility:* a static archive needs a class path without
      non-empty directories, and Spark puts its conf dir first.  The
      archive is used only when the effective conf dir is missing or
      holds only ``*.template`` files, which Spark never reads; the
      launch alone then runs with ``SPARK_CONF_DIR`` at an empty
      directory in the cache.  A real config file there, java options
      that already decide class sharing (``-Xshare:off`` opts out), or
      extra class path entries leave the launch as it was.
    - ``-Xlog:cds`` goes to ``spark_cds_<key>.log``, never to stdout.
    """

    def __init__(self, cache: str, key: str, java: str, heap: str):
        self.cache = cache
        self.key = key
        self.java = java
        self.heap = heap
        mode = "wide" if _heap_bytes(heap) >= _WIDE_HEAP else "coops"
        self.base = os.path.join(cache, f"spark_cds_{key}_{mode}")
        self.path = self.base + ".jsa"
        self.classlist = self.base + ".classlist"
        self.recording = f"{self.base}.{os.getpid()}.classlist"
        self.conf_dir = os.path.join(cache, "spark_conf_empty")
        #: identity of the archive this launch maps; None: it records one
        self.found = _archive_identity(self.path)

    @classmethod
    def for_launch(
        cls, conf: dict[str, str], spark_home: str, conf_dir: str, cache: str
    ) -> _ClassArchive | None:
        """The archive in ``cache`` for the driver JVM launched with
        ``conf`` from ``spark_home`` and ``conf_dir``, or None when the
        launch is not eligible."""
        heap = conf.get("spark.driver.memory", "1g")  # spark-submit passes -Xmx<heap>
        java = _java_binary()
        if (
            not _only_templates(conf_dir)
            or _USER_SHARING.search(_java_options(conf))
            or "spark.driver.extraClassPath" in conf
            or any(os.environ.get(name) for name in _CLASSPATH_ENV)
            or _heap_bytes(heap) is None
            or java is None
            # the cache path goes unquoted into -Xlog, -cp and the java options
            or not re.fullmatch(r"[\w./+@-]+", cache)
        ):
            return None
        try:
            archive = cls(cache, _archive_key(java, spark_home), java, heap)
            os.makedirs(archive.conf_dir, exist_ok=True)
            return None if os.listdir(archive.conf_dir) else archive
        except OSError:
            return None

    @property
    def java_options(self) -> str:
        share = (
            f"-XX:SharedArchiveFile={self.path}"
            if self.found
            else f"-XX:DumpLoadedClassList={self.recording}"
        )
        return f"{share} -Xlog:cds*=off -Xlog:cds:file={self.base}.log::filecount=1"

    @contextlib.contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` at the empty conf dir, for the launch only."""
        before = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if before is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = before

    def launched(self, spark: SparkSession) -> None:
        """Dump the archive at exit if this launch recorded a class list
        or its JVM rejected the archive."""
        system = spark.sparkContext._jvm.java.lang.System
        if self.found and "sharing" in system.getProperty("java.vm.info"):
            return
        atexit.register(self._publish, system.getProperty("java.class.path"))

    def _publish(self, classpath: str) -> None:
        source = self.classlist if self.found else self.recording
        tmp = f"{self.base}.{os.getpid()}.jsa.tmp"
        try:
            with open(os.path.join(self.cache, "spark_cds.lock"), "a") as lock:
                try:
                    fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except BlockingIOError:
                    return  # another process is dumping
                if _archive_identity(self.path) != self.found:
                    return  # published or replaced since this launch
                if os.path.exists(source) and self._dump(source, classpath, tmp):
                    os.replace(tmp, self.path)
                    if source != self.classlist:
                        os.replace(source, self.classlist)
                    self._sweep()
                elif self.found:
                    os.unlink(self.path)  # rejected, not redone: the next launch records
        except OSError as exc:
            logging.getLogger(__name__).warning("class archive not published: %s", exc)
        finally:
            for name in (tmp, self.recording):
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(name)

    def _dump(self, source: str, classpath: str, out: str) -> bool:
        """Dump the class list ``source`` into the archive file ``out``."""
        logging.getLogger(__name__).warning(
            "dumping the driver JVM's class archive %s "
            "(once per JDK and Spark jar set)", self.path
        )
        with open(self.base + ".log", "ab") as log:
            try:
                done = subprocess.run(
                    [
                        self.java,
                        f"-Xmx{self.heap}",
                        "-Xshare:dump",
                        f"-XX:SharedClassListFile={source}",
                        f"-XX:SharedArchiveFile={out}",
                        "-cp",
                        classpath,
                    ],
                    stdin=subprocess.DEVNULL,
                    stdout=log,
                    stderr=subprocess.STDOUT,
                    timeout=600,
                )
            except subprocess.SubprocessError:
                return False
        return done.returncode == 0 and _archive_identity(out) is not None

    def _sweep(self) -> None:
        """Delete what dead recorders left and every other key's files."""
        for path in _stale(self.cache, _ARCHIVE_FILE, self.key):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)


def _only_templates(conf_dir: str) -> bool:
    """Whether Spark reads nothing from ``conf_dir``: it is missing or
    holds only ``*.template`` files."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(name.endswith(".template") for name in names)


def _java_binary() -> str | None:
    """The ``java`` spark-class runs: ``$JAVA_HOME/bin/java``, else the
    one on PATH."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _stat_key(*parts: bytes | tuple[str, str]) -> str:
    """A cache key: 16 hex digits of a SHA-256 over ``parts``, a bytes
    part as it is and a ``(label, path)`` part as the label and the
    size and mtime of ``path``."""
    h = hashlib.sha256()
    for part in parts:
        if isinstance(part, tuple):
            label, path = part
            st = os.stat(path)
            part = f"{label}\0{st.st_size}\0{st.st_mtime_ns}\0".encode()
        h.update(part)
    return h.hexdigest()[:16]


def _archive_key(java: str, spark_home: str) -> str:
    """Key of the archive's coverage version, of the JDK behind ``java``
    and of the Spark jar set."""
    real = os.path.realpath(java)
    release = pathlib.Path(real).parent.parent / "release"
    jars = os.path.join(spark_home, "jars")
    return _stat_key(
        f"coverage {_ARCHIVE_COVERAGE}\0".encode(),
        (real, real),
        release.read_bytes() if release.is_file() else b"",
        f"\0{jars}\0".encode(),
        *((n, os.path.join(jars, n)) for n in sorted(os.listdir(jars)) if n.endswith(".jar")),
    )


def _heap_bytes(size: str) -> int | None:
    """Bytes of an ``-Xmx`` size such as ``2g``; None if malformed."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", size.strip().lower())
    return int(m.group(1)) << _SIZE_SHIFT[m.group(2)] if m else None


def _archive_identity(path: str) -> tuple[int, int, int] | None:
    """(inode, size, mtime) of a file that starts with the archive
    magic; None for any other file or none."""
    try:
        with open(path, "rb") as fh:
            if fh.read(len(_ARCHIVE_MAGIC)) != _ARCHIVE_MAGIC:
                return None
            st = os.fstat(fh.fileno())
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _stale(cache: str, pattern: re.Pattern, key: str):
    """Paths in ``cache`` whose names ``pattern`` matches (groups: key,
    pid) that a dead process left, or that belong to another key."""
    for name in os.listdir(cache):
        m = pattern.fullmatch(name)
        if m is not None and ((not _alive(int(m[2]))) if m[2] else m[1] != key):
            yield os.path.join(cache, name)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


#: the daemon module a local session's Python workers start from, kept
#: in the worker tree next to the pyspark it imports
_DAEMON_MODULE = "sz_pyspark_daemon"

#: ``sz_pyspark_daemon.py``.  Self-contained: with ``--py-files``
#: deployments ``sz_spark`` joins a worker's ``sys.path`` only inside
#: ``setup_spark_files``, after the daemon forked.
_DAEMON_SOURCE = '''"""PySpark's Python daemon, started from this bytecode-cached tree.

Spark puts pyspark.zip and py4j's zip ahead of this directory on the
daemon's PYTHONPATH, so the directory moves itself to the front.  The
tree exists to hold bytecode, so pyspark's imports write it even under
PYTHONDONTWRITEBYTECODE.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
dont_write_bytecode, sys.dont_write_bytecode = sys.dont_write_bytecode, False
from pyspark import daemon  # noqa: E402

sys.dont_write_bytecode = dont_write_bytecode

if __name__ == "__main__":
    daemon.manager()
'''

#: a worker tree in the cache dir: key, publisher pid of a temp dir
_TREE_DIR = re.compile(r"pyspark_([0-9a-f]{16})(?:\.(\d+)\.tmp)?")


def _worker_tree(conf: dict[str, str], spark_home: str, conf_dir: str, cache: str) -> str | None:
    """The bytecode-cached copy of pyspark and py4j in ``cache`` that the
    Python daemon of the driver JVM launched with ``conf`` from
    ``spark_home`` and ``conf_dir`` imports, published if missing; None
    when the launch is not eligible.

    Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``,
    which holds ~1,170 ``.py`` files and no bytecode, so every daemon
    start compiled pyspark from source: in a fresh interpreter,
    ``import pyspark.daemon`` took 0.76-1.10 s from the zip and
    0.24-0.28 s from an extracted tree with ``__pycache__``.

    - *Where:* ``native.cache_dir()/pyspark_<key>/``, holding both zips
      extracted and ``sz_pyspark_daemon.py``.  The first daemon over a
      new tree writes its ``__pycache__``, also under
      ``PYTHONDONTWRITEBYTECODE``.
    - *Key:* the realpath, size and mtime of ``pyspark.zip`` and of
      every ``py4j-*-src.zip`` beside it (the entries
      ``PythonWorkerFactory`` puts first on a worker's ``PYTHONPATH``),
      and the daemon module's source.
    - *Publishing:* extract into ``pyspark_<key>.<pid>.tmp``, then
      rename; a publisher that loses the race deletes its temp dir.
      Publishing deletes other keys' trees and dead publishers' temp
      dirs.  It takes ~0.2 s and 19 MB, once per key.
    - *Eligibility:* a launch ``_session_conf`` makes (as for
      ``_ClassArchive``), a ``pyspark.zip`` (a pip-only install has
      none, and its workers already import bytecode) and no
      ``spark.python.daemon.module`` of the user's (``extra``,
      ``PYSPARK_SUBMIT_ARGS`` or ``spark-defaults.conf``).
    """
    if "spark.python.daemon.module" in conf or _sets_daemon_module(conf_dir):
        return None
    lib = os.path.join(spark_home, "python", "lib")
    zips = [os.path.join(lib, "pyspark.zip")]
    if not os.path.isfile(zips[0]):
        return None
    zips += sorted(glob.glob(os.path.join(lib, "py4j-*-src.zip")))
    try:
        return _publish_tree(cache, _tree_key(zips), zips)
    except (OSError, zipfile.BadZipFile) as exc:
        logging.getLogger(__name__).warning("pyspark worker tree not published: %s", exc)
        return None


def _sets_daemon_module(conf_dir: str) -> bool:
    """Whether ``PYSPARK_SUBMIT_ARGS`` or ``conf_dir``'s
    ``spark-defaults.conf`` sets ``spark.python.daemon.module``."""
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf"), errors="replace") as fh:
            defaults = fh.read()
    except OSError:
        defaults = ""
    return any(
        re.search(r"(?m)^\s*spark\.python\.daemon\.module[\s=:]", text)
        for text in (defaults, os.environ.get("PYSPARK_SUBMIT_ARGS", "").replace(" ", "\n"))
    )


def _tree_key(zips: list[str]) -> str:
    """Key of the zips a worker tree is extracted from and of the daemon
    module."""
    return _stat_key(_DAEMON_SOURCE.encode(), *((r, r) for r in map(os.path.realpath, zips)))


def _publish_tree(cache: str, key: str, zips: list[str]) -> str:
    """The worker tree ``pyspark_<key>`` in ``cache``, extracted from
    ``zips`` unless it is there."""
    tree = os.path.join(cache, f"pyspark_{key}")
    if os.path.isdir(tree):
        return tree
    tmp = f"{tree}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        for path in zips:
            with zipfile.ZipFile(path) as zf:
                zf.extractall(tmp)
        with open(os.path.join(tmp, f"{_DAEMON_MODULE}.py"), "w") as fh:
            fh.write(_DAEMON_SOURCE)
        try:
            os.rename(tmp, tree)
        except OSError:
            if not os.path.isdir(tree):
                raise  # not a lost race
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for path in _stale(cache, _TREE_DIR, key):
        shutil.rmtree(path, ignore_errors=True)
    return tree


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Prestart the Python worker pool and its heavy imports.

    A fresh session's FIRST Arrow-UDF stage pays worker spawn + numpy/
    pyarrow imports + the JVM's Arrow-stream codepath warmup.
    Measured at local[4] on a 4-core box: the first JVM job took 3.2 s
    (0.3 s the second time), the first Python worker start 2.8 s
    (0.3-0.4 s after that) and the worker imports ~1.3-1.5 s.  With the
    driver's class archive mapped (``_ClassArchive``) the first JVM job
    drops to 1.4-1.9 s.  Timed with perfbench's session recipe (three
    runs each), this prewarm then took 3.9-4.4 s, the largest part of
    ``build_session`` (the launch before it: 3.4-3.9 s), and with the
    daemon importing pyspark from the bytecode-cached tree
    (``_worker_tree``) it takes 2.8-3.4 s.  Its mapInArrow shares the
    worker pool of the pipeline's Arrow and pandas UDFs: one daemon
    serves them all.  Long-lived executors amortize
    this across jobs via spark.python.worker.reuse; a short-lived
    session pays it inside its first real query unless the pool is
    prestarted at build time, which is what this does: one tiny
    mapInArrow pass (two tasks per worker slot) that performs the
    worker-side imports and touches the compiled kernel twin so its
    dlopen (or first-time gcc build, on a cold cache) also happens here
    rather than inside a timed stage.
    The imports are the pipeline kernels' (``sz_spark.arrow_kernels``:
    numpy, pyarrow, ``sz_spark.kernels``) and not pandas: pandas costs
    ~37 MB of RSS and 0.26-0.28 s per worker, and no pipeline stage
    loads it, so only the first registry ``pandas_udf`` /
    ``mapInPandas`` task on each worker pays for it.
    Importing ``sz_spark`` there also installs the package's checked
    zipimporter invalidation (``sz_spark/__init__.py``) in every pooled
    worker, so no timed task pays the per-task re-read of pyspark.zip.
    A failure raises here (say, workers that cannot start or cannot
    import sz_spark): the same fault would otherwise surface only inside
    the first real query."""
    from pyspark.sql import types as T

    n = max(2, spark.sparkContext.defaultParallelism)

    def fn(batches):
        import numpy as np

        from sz_spark import arrow_kernels  # noqa: F401
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


#: the tour's transcripts (conv_id, turn_idx, text): c0 and c1 are the
#: same conversation, c2 another one
_TOUR_TURNS = [
    ("c0", 0, "the tour corpus holds three short conversations"),
    ("c0", 1, "two of them match"),
    ("c1", 0, "the tour corpus holds three short conversations"),
    ("c1", 1, "two of them match"),
    ("c2", 0, "a different conversation about river boats at dawn"),
    ("c2", 1, "it matches none"),
]


def _tour_pipeline(spark: SparkSession) -> None:
    """Run ``pipeline.run_pipeline`` over a three-conversation corpus,
    once without ``checkpoint_dir`` (``localCheckpoint``) and once with
    a temporary one (the parquet write and the schema-pinned read), and
    read the clusters back as Arrow.

    Only a launch that records the class archive runs this
    (``_ClassArchive``), so the recorded class list covers every default
    pipeline path whatever the process runs next, and later launches map
    those classes instead of loading them in their first run.  The
    clusters are c0 and c1 together and c2 alone.  It adds ~3-5 s to a
    recording ``build_session`` on a 4-core box.  Nothing here is
    caught: a tour that fails fails the launch."""
    from sz_spark import pipeline

    transcripts = spark.createDataFrame(_TOUR_TURNS, "conv_id string, turn_idx int, text string")
    with tempfile.TemporaryDirectory(prefix="sz_tour_") as ckpt:
        for cfg in (pipeline.PipelineConfig(), pipeline.PipelineConfig(checkpoint_dir=ckpt)):
            pipeline.run_pipeline(spark, transcripts, cfg)["clusters"].toArrow()
