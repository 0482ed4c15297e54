"""Process start-up: the package's checked zipimporter invalidation,
the driver JVM's JIT policy and class-data-sharing archive, and the
Python workers' bytecode-cached pyspark tree.

The zipimporter tests import from a fresh zip on ``sys.path``, so the
zipimporter under test is the one the path hooks create, and invalidate
it through ``importlib.invalidate_caches()`` -- the call PySpark's
worker makes at the start of every task.

The archive and tree tests check their keys and eligibility without a
JVM, then launch sessions in fresh processes over a temporary
``SZ_NATIVE_CACHE``.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import SparkContext

import sz_spark
from sz_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: fixed entry timestamp: archives with equal names and bodies are then
#: byte-for-byte the same size
_DATE = (2020, 1, 1, 0, 0, 0)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{name}.py", _DATE), body)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive path on ``sys.path``; the modules imported from it
    are dropped from ``sys.modules`` afterwards."""
    path = str(tmp_path / "shipped.zip")
    sys.path.insert(0, path)
    before = set(sys.modules)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _importer(path):
    imp = sys.path_importer_cache[path]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


def test_checked_invalidation_is_installed():
    method = zipimport.zipimporter.invalidate_caches
    assert getattr(method, "_sz_checked", False)
    assert not getattr(method.__wrapped__, "_sz_checked", False)


def test_rewritten_zip_is_reread(zip_on_path):
    _write_zip(zip_on_path, {"szt_first": "X = 1\n"})
    assert importlib.import_module("szt_first").X == 1
    _write_zip(zip_on_path, {"szt_first": "X = 1\n", "szt_added": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("szt_added").Y == 2


def test_same_size_replacement_is_reread(zip_on_path, tmp_path):
    _write_zip(zip_on_path, {"szt_old": "X = 1\n"})
    assert importlib.import_module("szt_old").X == 1
    importlib.invalidate_caches()  # stamp the importer
    stamp = _importer(zip_on_path).__dict__[sz_spark._STAMP]

    fresh = str(tmp_path / "fresh.zip")
    _write_zip(fresh, {"szt_new": "X = 2\n"})
    assert os.path.getsize(fresh) == os.path.getsize(zip_on_path)
    os.replace(fresh, zip_on_path)
    importlib.invalidate_caches()

    assert _importer(zip_on_path).__dict__[sz_spark._STAMP] != stamp
    assert importlib.import_module("szt_new").X == 2
    del sys.modules["szt_old"]
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("szt_old")


def test_unchanged_zip_skips_the_reread(zip_on_path, monkeypatch):
    real = zipimport.zipimporter.invalidate_caches.__wrapped__
    reads = []

    def counting(self):
        reads.append(self.archive)
        return real(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    sz_spark._install_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is counting

    _write_zip(zip_on_path, {"szt_steady": "X = 1\n"})
    importlib.import_module("szt_steady")
    importlib.invalidate_caches()  # first call: no stamp yet
    assert reads.count(zip_on_path) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1

    _write_zip(zip_on_path, {"szt_steady": "X = 1\n", "szt_later": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 2
    assert importlib.import_module("szt_later").Y == 2


def test_missing_archive_calls_the_original(zip_on_path):
    _write_zip(zip_on_path, {"szt_vanish": "X = 1\n"})
    importlib.import_module("szt_vanish")
    importlib.invalidate_caches()
    imp = _importer(zip_on_path)
    assert sz_spark._STAMP in imp.__dict__

    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert sz_spark._STAMP not in imp.__dict__
    assert imp._files == {}


def test_reimport_and_reload_do_not_wrap_twice():
    installed = zipimport.zipimporter.invalidate_caches
    importlib.import_module("sz_spark")
    importlib.reload(sz_spark)
    importlib.reload(sz_spark)
    sz_spark._install_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert not getattr(installed.__wrapped__, "_sz_checked", False)


# -- the driver JVM's class archive: key and eligibility (no JVM) --------


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake JDK and Spark home (conf dir with templates only), a fresh
    cache, and no gateway up; returns their paths."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"java")
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar " + name.encode())
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "conf" / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("SZ_NATIVE_CACHE", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for name in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "PYSPARK_GATEWAY_PORT",
                 *session._CLASSPATH_ENV):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return {"jdk": jdk, "home": home, "cache": tmp_path / "cache"}


def _key(install):
    return session._archive_key(session._java_binary(), str(install["home"]))


def _archive_flags(conf):
    return re.findall(r"-XX:(?:SharedArchiveFile|DumpLoadedClassList)=|-Xlog:cds",
                      conf.get("spark.driver.extraJavaOptions", ""))


def test_archive_key_ignores_per_process_env(install, monkeypatch, tmp_path):
    key = _key(install)
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp_path}")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    assert _key(install) == key


def test_archive_key_follows_jars_and_jdk(install, monkeypatch):
    keys = {_key(install)}
    jar = install["home"] / "jars" / "a.jar"
    jar.write_bytes(jar.read_bytes() + b"!")
    keys.add(_key(install))
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    keys.add(_key(install))
    (install["jdk"] / "release").write_text('JAVA_VERSION="17.0.2"\n')
    keys.add(_key(install))
    (install["jdk"] / "bin" / "java").write_bytes(b"other java")
    keys.add(_key(install))
    monkeypatch.setattr(session, "_ARCHIVE_COVERAGE", session._ARCHIVE_COVERAGE + 1)
    keys.add(_key(install))
    assert len(keys) == 6


def test_archive_key_bytes_are_stable(install):
    """The key hashes exactly these bytes, so an archive recorded by an
    earlier version of this module keeps its name and stays mapped."""
    import hashlib

    def stat(label, path):
        st = os.stat(path)
        return f"{label}\0{st.st_size}\0{st.st_mtime_ns}\0".encode()

    java = os.path.realpath(install["jdk"] / "bin" / "java")
    jars = install["home"] / "jars"
    h = hashlib.sha256(f"coverage {session._ARCHIVE_COVERAGE}\0".encode())
    h.update(stat(java, java))
    h.update((install["jdk"] / "release").read_bytes())
    h.update(f"\0{jars}\0".encode())
    for name in ("a.jar", "b.jar"):
        h.update(stat(name, jars / name))
    assert _key(install) == h.hexdigest()[:16]


@pytest.mark.parametrize("conf_dir_set", [True, False])
def test_template_conf_dir_launches_with_the_empty_conf_dir(install, monkeypatch, conf_dir_set):
    templates = str(install["home"] / "conf")
    if conf_dir_set:
        monkeypatch.setenv("SPARK_CONF_DIR", templates)
    conf, archive = session._session_conf("local[2]", None)
    assert archive is not None
    assert "-XX:DumpLoadedClassList=" in _archive_flags(conf)  # empty cache: record
    for _ in range(2):  # the second time the body raises
        with pytest.raises(RuntimeError), archive.launch_env():
            assert os.environ["SPARK_CONF_DIR"] == archive.conf_dir
            assert os.listdir(archive.conf_dir) == []
            raise RuntimeError
        assert os.environ.get("SPARK_CONF_DIR") == (templates if conf_dir_set else None)


def test_heap_size_picks_the_compressed_oops_archive(install):
    paths = {}
    for heap in ("1g", "31g", "32g", "64g"):
        _, archive = session._session_conf("local[2]", {"spark.driver.memory": heap})
        paths[heap] = archive.path
    assert paths["1g"] == paths["31g"] != paths["32g"] == paths["64g"]
    assert paths["1g"].replace("_coops.", "_wide.") == paths["32g"]
    _, archive = session._session_conf("local[2]", {"spark.driver.memory": "2gb"})
    assert archive is None  # not a size the JVM reads


@pytest.mark.parametrize("real_file", ["spark-defaults.conf", "log4j2.properties"])
def test_real_conf_file_leaves_the_launch_as_it_was(install, real_file):
    (install["home"] / "conf" / real_file).write_text("")
    env = dict(os.environ)
    conf, archive = session._session_conf("local[2]", None)
    assert archive is None
    assert _archive_flags(conf) == []
    assert dict(os.environ) == env
    assert not install["cache"].exists()


@pytest.mark.parametrize("master", [None, "spark://host:7077", "yarn"])
def test_submitted_master_gets_no_archive(install, master):
    conf, archive = session._session_conf(master, None)
    assert archive is None
    assert "spark.driver.extraJavaOptions" not in conf


def test_opt_out_and_running_gateway_compute_nothing(install, monkeypatch):
    extra = {"spark.driver.defaultJavaOptions": "-Xshare:off"}
    conf, archive = session._session_conf("local[2]", extra)
    assert archive is None and _archive_flags(conf) == []

    def no_key(*args):
        raise AssertionError("archive key computed")

    monkeypatch.setattr(session, "_archive_key", no_key)
    monkeypatch.setattr(SparkContext, "_gateway", object())
    conf, archive = session._session_conf("local[2]", None)
    assert archive is None and _archive_flags(conf) == []


# -- the driver JVM's JIT policy (no JVM) ----------------------------------

_JIT_SOURCES = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions",
                "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")


def _jit_flags(conf):
    return re.findall(r"-XX:TieredStopAtLevel=\S*", conf.get("spark.driver.extraJavaOptions", ""))


def test_local_master_runs_c1_only_next_to_the_caps_and_archive(install, monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 8)  # local[2] is a sub-box session
    conf, archive = session._session_conf("local[2]", None)
    opts = conf["spark.driver.extraJavaOptions"].split()
    assert archive is not None
    assert opts.count("-XX:TieredStopAtLevel=1") == 1
    assert {"-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"} <= set(opts)
    assert opts[opts.index("-XX:TieredStopAtLevel=1") + 1].startswith("-XX:DumpLoadedClassList=")
    assert _jit_flags(conf) == ["-XX:TieredStopAtLevel=1"]


@pytest.mark.parametrize("source", _JIT_SOURCES)
@pytest.mark.parametrize("flag", ["-XX:TieredStopAtLevel=4", "-XX:+TieredCompilation",
                                  "-XX:-TieredCompilation", "-XX:CompilationMode=high-only",
                                  "-Xint", "-Xcomp"])
def test_users_jit_flag_wins(install, monkeypatch, source, flag):
    user = f"-Dsz.before=1 {flag} -Dsz.after=1"
    if source.startswith("spark."):
        conf, _ = session._session_conf("local[2]", {source: user})
        assert flag in conf[source].split()
    else:
        monkeypatch.setenv(source, user)
        conf, _ = session._session_conf("local[2]", None)
        assert os.environ[source] == user
    assert session._C1_ONLY not in conf.get("spark.driver.extraJavaOptions", "")
    assert _archive_flags(conf)  # only the JIT policy steps aside


def test_users_extra_java_options_without_a_jit_flag_get_c1(install):
    user = "-Dsz.user=1 -XX:+UseG1GC -Xinternalversion"
    conf, _ = session._session_conf("local[2]", {"spark.driver.extraJavaOptions": user})
    # the thread caps (none on a box of 2 cores or fewer), the caller's
    # options, then C1
    head = f"{session._thread_caps(2)} {user} {session._C1_ONLY} ".lstrip()
    assert conf["spark.driver.extraJavaOptions"].startswith(head)
    assert _jit_flags(conf) == ["-XX:TieredStopAtLevel=1"]


def test_users_extra_java_options_keep_the_thread_caps(install, monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 8)  # local[2] is a sub-box session
    conf, _ = session._session_conf("local[2]", {"spark.driver.extraJavaOptions": "-Dx=1"})
    opts = conf["spark.driver.extraJavaOptions"].split()
    caps = ["-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"]
    assert opts[:4] == [*caps, "-Dx=1"]  # a caller's own cap, later, wins
    assert opts[4] == "-XX:TieredStopAtLevel=1"
    assert _archive_flags(conf)


# -- the Python workers' pyspark tree (no JVM) ----------------------------


@pytest.fixture
def worker_zips(install):
    """``pyspark.zip`` and a py4j source zip in the fake Spark home;
    returns their paths."""
    lib = install["home"] / "python" / "lib"
    lib.mkdir(parents=True)
    zips = [lib / "pyspark.zip", lib / "py4j-0.10.9.9-src.zip"]
    _write_zip(zips[0], {"pyspark/__init__": "__version__ = 'fake'\n"})
    _write_zip(zips[1], {"py4j/__init__": ""})
    return zips


def _tree_conf(conf):
    return {k: conf[k] for k in ("spark.python.daemon.module", "spark.executorEnv.PYTHONPATH")
            if k in conf}


def _trees(cache) -> list[str]:
    return sorted(n for n in os.listdir(cache) if n.startswith("pyspark_"))


def _zips_key(worker_zips) -> str:
    return session._tree_key([str(z) for z in worker_zips])


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


def test_local_master_daemon_imports_the_tree(install, worker_zips):
    conf, _ = session._session_conf("local[2]", None)
    tree = conf["spark.executorEnv.PYTHONPATH"]
    assert conf["spark.python.daemon.module"] == session._DAEMON_MODULE
    assert tree == str(install["cache"] / f"pyspark_{_zips_key(worker_zips)}")
    assert sorted(os.listdir(tree)) == ["py4j", "pyspark", "sz_pyspark_daemon.py"]
    with open(os.path.join(tree, "sz_pyspark_daemon.py")) as fh:
        assert fh.read() == session._DAEMON_SOURCE
    assert "sz_spark" not in session._DAEMON_SOURCE  # not on a --py-files daemon's path
    assert _trees(install["cache"]) == [os.path.basename(tree)]


@pytest.mark.parametrize("master", [None, "spark://host:7077", "yarn"])
def test_submitted_master_gets_no_tree(install, worker_zips, master):
    conf, _ = session._session_conf(master, None)
    assert _tree_conf(conf) == {}
    assert not install["cache"].exists()


def test_users_daemon_module_missing_zip_or_gateway_get_no_tree(install, worker_zips, monkeypatch):
    extra = {"spark.python.daemon.module": "my_daemon"}
    conf, _ = session._session_conf("local[2]", extra)
    assert _tree_conf(conf) == extra
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.python.daemon.module=d pyspark-shell")
    assert _tree_conf(session._session_conf("local[2]", None)[0]) == {}
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    defaults = install["home"] / "conf" / "spark-defaults.conf"
    defaults.write_text("spark.python.daemon.module=my_daemon\n")
    assert _tree_conf(session._session_conf("local[2]", None)[0]) == {}
    defaults.unlink()
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert _tree_conf(session._session_conf("local[2]", None)[0]) == {}
    monkeypatch.setattr(SparkContext, "_gateway", None)
    worker_zips[0].unlink()  # a pip-only install: no pyspark.zip
    assert _tree_conf(session._session_conf("local[2]", None)[0]) == {}
    assert not install["cache"].exists() or _trees(install["cache"]) == []


def test_users_worker_pythonpath_is_kept(install, worker_zips):
    user = os.pathsep.join(["/opt/a", "/opt/b"])
    conf, _ = session._session_conf("local[2]", {"spark.executorEnv.PYTHONPATH": user})
    path = conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert path[:2] == ["/opt/a", "/opt/b"]
    assert os.path.basename(path[2]).startswith("pyspark_") and len(path) == 3


def test_tree_key_follows_the_zips(worker_zips):
    keys = {_zips_key(worker_zips)}
    for z in worker_zips:
        st = z.stat()
        os.utime(z, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        keys.add(_zips_key(worker_zips))
        z.write_bytes(z.read_bytes() + b"\0")
        keys.add(_zips_key(worker_zips))
    assert len(keys) == 5


def test_publishing_sweeps_other_keys_and_dead_temp_dirs(install, worker_zips):
    cache = install["cache"]
    key = _zips_key(worker_zips)
    stale = {
        f"pyspark_{'0' * 16}": "other key",
        f"pyspark_{key}.{_dead_pid()}.tmp": "dead publisher",
        f"pyspark_{'1' * 16}.{_dead_pid()}.tmp": "dead publisher of another key",
    }
    live = f"pyspark_{'2' * 16}.{os.getppid()}.tmp"
    for name in (*stale, live):
        (cache / name).mkdir(parents=True)
        (cache / name / "sz_pyspark_daemon.py").write_text("raise SystemExit(1)\n")
    conf, _ = session._session_conf("local[2]", None)
    assert conf["spark.executorEnv.PYTHONPATH"] == str(cache / f"pyspark_{key}")
    assert _trees(cache) == sorted([f"pyspark_{key}", live])


def test_leftover_temp_dir_is_never_used(install, worker_zips):
    cache = install["cache"]
    key = _zips_key(worker_zips)
    own = cache / f"pyspark_{key}.{os.getpid()}.tmp"  # left by a failed publish
    own.mkdir(parents=True)
    (own / "sz_pyspark_daemon.py").write_text("raise SystemExit(1)\n")
    tree = session._session_conf("local[2]", None)[0]["spark.executorEnv.PYTHONPATH"]
    assert tree == str(cache / f"pyspark_{key}")
    with open(os.path.join(tree, "sz_pyspark_daemon.py")) as fh:
        assert fh.read() == session._DAEMON_SOURCE
    assert _trees(cache) == [f"pyspark_{key}"]


def test_publisher_that_loses_the_race_uses_the_winners_tree(install, worker_zips, monkeypatch):
    rename = os.rename

    def winner_first(src, dst):
        os.makedirs(os.path.join(dst, "pyspark"))  # another publisher's rename
        return rename(src, dst)

    monkeypatch.setattr(session.os, "rename", winner_first)
    tree = session._session_conf("local[2]", None)[0]["spark.executorEnv.PYTHONPATH"]
    assert os.listdir(tree) == ["pyspark"]
    assert _trees(install["cache"]) == [os.path.basename(tree)]


# -- the whole launch conf, case by case (no JVM) ---------------------------


def test_launch_plan_finds_the_spark_home_once(install, worker_zips, monkeypatch):
    """The archive and the worker tree share one launch plan."""
    calls = []
    real = session._find_spark_home
    monkeypatch.setattr(session, "_find_spark_home", lambda: calls.append(1) or real())
    conf, archive = session._session_conf("local[2]", None)
    assert archive is not None and "spark.python.daemon.module" in conf
    assert len(calls) == 1


@pytest.mark.parametrize("master", ["local[1]", None])
@pytest.mark.parametrize("key, var", sorted(session._PYTHON_ENV.items()))
def test_python_path_in_extra_raises(install, master, key, var):
    """pyspark takes the Python it runs from the environment only, so a
    path in ``extra`` would be ignored: it raises, naming the variable."""
    with pytest.raises(ValueError, match=var):
        session._session_conf(master, {key: "/nonexistent/python"})
    assert not install["cache"].exists()


#: the conf block every master gets, ahead of ``extra``
_PIPELINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.session.timeZone": "UTC",
}

#: the thread caps of local[2] on an 8-core box
_CAPS_2_OF_8 = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"

#: name: (master, extra, os.cpu_count(), what else the case sets up,
#: the driver's extraJavaOptions ("{rec}": the archive's recording
#: options), the archive's mode (None: no archive), worker tree or not)
_LAUNCH_CASES = {
    "local2_whole_box": ("local[2]", None, 2, None, "-XX:TieredStopAtLevel=1 {rec}", "wide", True),
    "local2_of_8": ("local[2]", None, 8, None,
                    f"{_CAPS_2_OF_8} -XX:TieredStopAtLevel=1 {{rec}}", "wide", True),
    "caller_java_options": ("local[2]", {"spark.driver.extraJavaOptions": "-Dx=1"}, 8, None,
                            f"{_CAPS_2_OF_8} -Dx=1 -XX:TieredStopAtLevel=1 {{rec}}", "wide", True),
    "heap_2g": ("local[2]", {"spark.driver.memory": "2g"}, 2, None,
                "-XX:TieredStopAtLevel=1 {rec}", "coops", True),
    "heap_32g": ("local[2]", {"spark.driver.memory": "32g"}, 2, None,
                 "-XX:TieredStopAtLevel=1 {rec}", "wide", True),
    "user_daemon_module": ("local[2]", {"spark.python.daemon.module": "my_daemon"}, 2, None,
                           "-XX:TieredStopAtLevel=1 {rec}", "wide", False),
    "real_conf_file": ("local[2]", None, 2, "conf_file", "-XX:TieredStopAtLevel=1", None, True),
    "running_gateway": ("local[2]", None, 2, "gateway", "-XX:TieredStopAtLevel=1", None, False),
    "submitted_master": (None, None, 2, None, None, None, False),
    "standalone_master": ("spark://host:7077", None, 2, None, None, None, False),
}


@pytest.mark.parametrize("case", list(_LAUNCH_CASES))
def test_session_conf_pins_the_whole_launch(install, worker_zips, monkeypatch, case):
    """``_session_conf``'s conf and archive for each launch case, in
    full: what ``build_session`` hands the builder is exactly this."""
    master, extra, cpus, setup, java, mode, tree = _LAUNCH_CASES[case]
    monkeypatch.setattr(session.os, "cpu_count", lambda: cpus)
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/scratch")  # no spark.local.dir
    if setup == "conf_file":
        (install["home"] / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    elif setup == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    conf, archive = session._session_conf(master, extra)

    cache = install["cache"]
    want = {}
    if master is not None and master.startswith("local"):
        want = {"spark.ui.enabled": "false", "spark.driver.memory": "32g"}
    want.update(_PIPELINE_CONF)
    want.update(extra or {})
    if mode is not None:
        base = f"{cache}/spark_cds_{_key(install)}_{mode}"
        rec = (f"-XX:DumpLoadedClassList={base}.{os.getpid()}.classlist"
               f" -Xlog:cds*=off -Xlog:cds:file={base}.log::filecount=1")
        assert (archive.path, archive.found, archive.conf_dir) == (
            f"{base}.jsa", None, f"{cache}/spark_conf_empty")
    else:
        rec = None
        assert archive is None
    if java is not None:
        want["spark.driver.extraJavaOptions"] = java.format(rec=rec)
    trees = _trees(cache) if cache.exists() else []
    if tree:
        (name,) = trees
        assert re.fullmatch(r"pyspark_[0-9a-f]{16}", name)
        want["spark.python.daemon.module"] = session._DAEMON_MODULE
        want["spark.executorEnv.PYTHONPATH"] = str(cache / name)
    else:
        assert trees == []
    assert conf == want


# -- the driver JVM's class archive: real launches -------------------------

_LAUNCH = """
import json, sys
from sz_spark import session

spark = session.build_session(
    master="local[2]",
    app_name="archive-test",
    extra={
        "spark.driver.memory": "1g",
        "spark.driver.defaultJavaOptions": "-Xlog:class+load=info:file=" + sys.argv[1],
    },
)
sc = spark.sparkContext

def jobs():
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup())

built = jobs()
session._prewarm_python_workers(spark)
prewarm = jobs() - built
print(json.dumps({
    "sum": spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s,
    "vm_info": sc._jvm.java.lang.System.getProperty("java.vm.info"),
    "build_jobs": built,
    "prewarm_jobs": prewarm,
}))
"""


def _launch_env(cache, **env) -> dict:
    """The environment of a session launch in a fresh process over the
    cache dir ``cache``, with ``env`` on top."""
    out = dict(
        os.environ,
        SZ_NATIVE_CACHE=str(cache),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    )
    out.pop("PYSPARK_SUBMIT_ARGS", None)
    return {**out, **env}


def _spawn(cache, class_log) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _LAUNCH, str(class_log)], cwd=REPO, env=_launch_env(cache),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc: subprocess.Popen) -> dict:
    """The launch's ``sum`` (of a 1000-row range), ``vm_info``, and the
    Spark jobs ``build_session`` ran and a second prewarm runs."""
    out, err = proc.communicate(timeout=900)
    assert proc.returncode == 0, err[-4000:]
    return json.loads(out.strip().splitlines()[-1])


def _launch(cache, class_log) -> dict:
    return _result(_spawn(cache, class_log))


def _published(cache) -> list[str]:
    return sorted(n for n in os.listdir(cache) if n.endswith(".jsa"))


def _left_behind(cache) -> list[str]:
    """Temporary files: a recorder's class list or an unpublished dump."""
    return [n for n in os.listdir(cache) if re.search(r"\.\d+\.(?:classlist|jsa\.tmp)$", n)]


def _maps_spark_classes(class_log) -> bool:
    with open(class_log, encoding="utf-8", errors="replace") as fh:
        return any(
            "org.apache.spark.SparkContext source: shared objects file" in line for line in fh
        )


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache whose first launch recorded and published the archive."""
    if not session._only_templates(
        os.environ.get("SPARK_CONF_DIR") or os.path.join(session._find_spark_home(), "conf")
    ):
        pytest.skip("the Spark conf dir holds config files: no archive is used")
    root = tmp_path_factory.mktemp("archive")
    cache = root / "cache"
    got = _launch(cache, root / "record.log")
    return {"cache": cache, "root": root, "result": got["sum"], "launch": got}


def _classlist(cache) -> set[str]:
    (name,) = [n for n in os.listdir(cache) if n.endswith(".classlist")]
    with open(cache / name) as fh:
        return {line.split()[0] for line in fh if line[:1] not in ("#", "@", "\n")}


def test_fresh_cache_publishes_one_archive_the_next_launch_maps(recorded):
    cache, root = recorded["cache"], recorded["root"]
    assert recorded["result"] == 499500
    assert not _maps_spark_classes(root / "record.log")
    assert len(_published(cache)) == 1
    assert _left_behind(cache) == []
    mapped = _launch(cache, root / "mapped.log")
    assert mapped["sum"] == recorded["result"]
    assert _maps_spark_classes(root / "mapped.log")
    # C1 only (HotSpot's "emulated-client") and the archive map together
    assert "emulated-client" in mapped["vm_info"] and "sharing" in mapped["vm_info"]
    assert len(_published(cache)) == 1
    # only the recording launch tours the pipeline
    assert mapped["build_jobs"] == mapped["prewarm_jobs"] > 0
    assert recorded["launch"]["build_jobs"] > recorded["launch"]["prewarm_jobs"]


def test_archive_covers_the_pipeline_whatever_the_recorder_ran(recorded):
    """The recorder ran one range sum; the tour put the checkpoint
    paths' classes on its list."""
    classes = _classlist(recorded["cache"])
    assert "org/apache/spark/SparkContext" in classes
    assert "org/apache/parquet/hadoop/ParquetOutputFormat" in classes
    assert "org/apache/spark/rdd/LocalCheckpointRDD" in classes


def test_truncated_archive_still_launches_and_is_replaced(recorded, tmp_path):
    cache = tmp_path / "cache"
    shutil.copytree(recorded["cache"], cache)
    (name,) = _published(cache)
    size = os.path.getsize(cache / name)
    os.chmod(cache / name, 0o644)  # the JVM writes archives read-only
    with open(cache / name, "r+b") as fh:
        fh.truncate(1 << 20)
    assert _launch(cache, tmp_path / "truncated.log")["sum"] == recorded["result"]
    assert not _maps_spark_classes(tmp_path / "truncated.log")
    assert _published(cache) == [name]
    assert session._archive_identity(str(cache / name)) is not None
    assert os.path.getsize(cache / name) > size // 2
    assert _left_behind(cache) == []


def test_concurrent_first_launches_publish_at_most_one_archive(recorded, tmp_path):
    cache = tmp_path / "cache"
    procs = [_spawn(cache, tmp_path / f"first{i}.log") for i in range(2)]
    assert [_result(p)["sum"] for p in procs] == [recorded["result"]] * 2
    assert len(_published(cache)) <= 1
    assert _left_behind(cache) == []


def test_start_up_fault_raises(tmp_path):
    """Workers that cannot start fail ``build_session``, not a later
    query.  (A local session's workers run ``PYSPARK_PYTHON``; pyspark
    does not read ``spark.pyspark.python``.)"""
    env = _launch_env(tmp_path / "cache", PYSPARK_PYTHON="/nonexistent/python")
    script = (
        "from sz_spark.session import build_session\n"
        "build_session(master='local[1]', extra={'spark.driver.memory': '1g',"
        " 'spark.driver.defaultJavaOptions': '-Xshare:off'})\n"
        "print('session returned')\n"
    )
    done = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=900)
    assert done.returncode != 0 and "session returned" not in done.stdout
    assert "/nonexistent/python" in done.stderr


# -- the Python workers' pyspark tree: a real launch ------------------------

_WORKERS = """
import json
import pandas as pd
import pyarrow as pa
import pyspark
from pyspark.sql import functions as F
from sz_spark.session import build_session

spark = build_session(master="local[2]", app_name="worker-tree-test",
                      extra={"spark.driver.memory": "1g",
                             "spark.driver.defaultJavaOptions": "-Xshare:off"})

def report(batches):
    import pyspark
    for batch in batches:
        n = batch.num_rows
        yield pa.RecordBatch.from_arrays(
            [pa.array([pyspark.__file__] * n), pa.array([pyspark.__version__] * n)],
            ["file", "version"])

workers = spark.range(4, numPartitions=4).mapInArrow(report, "file string, version string")

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

# an aggregate over the UDF: a bare count() would prune it from the plan
assert spark.range(8, numPartitions=4).select(F.sum(plus_one("id"))).collect()[0][0] == 36
jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current()
print(json.dumps({
    "workers": sorted({tuple(r) for r in workers.collect()}),
    "driver_version": pyspark.__version__,
    "tree": spark.conf.get("spark.executorEnv.PYTHONPATH"),
    "children": [p.info().commandLine().orElse("") for p in jvm.children().toArray()],
}))
"""


@pytest.fixture(scope="module")
def worker_launch(tmp_path_factory):
    """A local[2] session over a fresh cache, after one mapInArrow and
    one pandas_udf job."""
    if not os.path.isfile(os.path.join(session._find_spark_home(), "python", "lib",
                                       "pyspark.zip")):
        pytest.skip("no pyspark.zip: workers import the installed pyspark")
    env = _launch_env(tmp_path_factory.mktemp("workers") / "cache")
    done = subprocess.run([sys.executable, "-c", _WORKERS], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=900)
    assert done.returncode == 0, done.stderr[-4000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def test_workers_import_pyspark_from_the_tree(worker_launch):
    tree = worker_launch["tree"]
    assert re.fullmatch(r"pyspark_[0-9a-f]{16}", os.path.basename(tree))
    assert worker_launch["workers"] == [
        [os.path.join(tree, "pyspark", "__init__.py"), worker_launch["driver_version"]]
    ]
    assert os.path.isdir(os.path.join(tree, "pyspark", "__pycache__"))


def test_prewarm_warms_the_pool_the_pipeline_uses(worker_launch):
    """The prewarm's mapInArrow, a mapInArrow and a pandas_udf share one
    worker pool: the JVM has one Python daemon."""
    daemons = [c for c in worker_launch["children"] if f"-m {session._DAEMON_MODULE}" in c]
    assert len(daemons) == 1, worker_launch["children"]


# -- later sessions in one process: a real launch ---------------------------

_TWO_SESSIONS = """
import json
from sz_spark.session import build_session

opts = {"spark.driver.memory": "1g", "spark.driver.defaultJavaOptions": "-Xshare:off"}
seen = []
for extra in ({"spark.sql.shuffle.partitions": "8", "spark.sz.marker": "first"}, {}):
    spark = build_session(master="local[2]", app_name="two-sessions", extra={**opts, **extra})
    conf = spark.sparkContext.getConf()
    seen.append({
        "width": spark.conf.get("spark.sql.shuffle.partitions"),
        "marker": conf.get("spark.sz.marker", None),
        "daemon": conf.get("spark.python.daemon.module", None),
    })
    spark.stop()
print(json.dumps(seen))
"""


def test_second_session_starts_from_its_own_extra(tmp_path):
    """A session built after ``stop()`` in the same process gets its
    master's shuffle width, not the width the first call's ``extra``
    launched the JVM with (spark-submit made it a JVM system property),
    and keeps the launch's worker tree."""
    done = subprocess.run([sys.executable, "-c", _TWO_SESSIONS], cwd=REPO,
                          env=_launch_env(tmp_path / "cache"),
                          capture_output=True, text=True, timeout=900)
    assert done.returncode == 0, done.stderr[-4000:]
    first, second = json.loads(done.stdout.strip().splitlines()[-1])
    assert (first["width"], first["marker"]) == ("8", "first")
    assert (second["width"], second["marker"]) == ("2", None)
    assert second["daemon"] == first["daemon"]


# -- the pipeline's Python workers never load pandas: a real launch ---------

_PANDAS_FREE = """
import json, os, sys
import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from sz_spark import pipeline, session
from sz_spark.arrow_kernels import arrow_from_numpy

spark = session.build_session(master="local[2]", app_name="pandas-free-test",
                              extra={"spark.driver.memory": "1g",
                                     "spark.driver.defaultJavaOptions": "-Xshare:off"})
sc = spark.sparkContext
n = sc.defaultParallelism

def probe(batches):
    import time
    for _ in batches:
        pass
    time.sleep(0.5)  # hold this worker, so the n tasks take n workers
    # built from buffers: pa.array would import pandas by itself
    yield pa.RecordBatch.from_arrays(
        [arrow_from_numpy(np.array([os.getpid()])),
         arrow_from_numpy(np.array([int("pandas" in sys.modules)]))],
        ["pid", "pandas"])

def pool():
    # the driver JVM's descendants: the Python daemon and its workers
    out = {}
    for p in sc._jvm.java.lang.ProcessHandle.current().descendants().toArray():
        try:
            with open(f"/proc/{p.pid()}/maps") as fh:
                out[p.pid()] = "/pandas/_libs/" in fh.read()
        except OSError:  # exited since the listing
            pass
    return out

def check(point, **more):
    rows = spark.range(n, numPartitions=n).mapInArrow(probe, "pid long, pandas long").collect()
    return {"point": point, "probe": [[r.pid, r.pandas] for r in rows], "pool": pool(), **more}

points = [check("build_session")]
turns = spark.createDataFrame(session._TOUR_TURNS, "conv_id string, turn_idx int, text string")
for point, max_docs in (("gather tier", "1000000"), ("join tier", "0")):
    os.environ["SZ_GATHER_MAX_DOCS"] = max_docs
    out = pipeline.run_pipeline(spark, turns, pipeline.PipelineConfig())
    scored = out["scored"].count()
    clusters = sorted(map(list, out["clusters"].select("conv_id", "cluster_id").collect()))
    points.append(check(point, scored=scored, clusters=clusters))

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

spark.range(4 * n, numPartitions=4 * n).select(F.sum(plus_one("id"))).collect()
points.append(check("pandas_udf"))
print(json.dumps(points))
"""


def test_pipeline_workers_never_load_pandas(tmp_path):
    """No Python worker of the pool (nor the daemon) holds pandas right
    after ``build_session`` or after ``run_pipeline`` on either tier:
    the probe reads ``sys.modules`` in each worker, and the driver reads
    every pool process's mapped files.  A registry ``pandas_udf`` then
    loads it, which shows the probe sees pandas where it is."""
    done = subprocess.run([sys.executable, "-c", _PANDAS_FREE], cwd=REPO,
                          env=_launch_env(tmp_path / "cache"),
                          capture_output=True, text=True, timeout=900)
    assert done.returncode == 0, done.stderr[-4000:]
    points = json.loads(done.stdout.strip().splitlines()[-1])
    assert [p["point"] for p in points] == [
        "build_session", "gather tier", "join tier", "pandas_udf"]
    for p in points:
        pids = [pid for pid, _ in p["probe"]]
        assert len(set(pids)) == len(pids) and set(map(str, pids)) <= set(p["pool"]), p
    for p in points[:-1]:
        assert not any(has for _, has in p["probe"]), p
        assert not any(p["pool"].values()), p
    gather, join = points[1], points[2]
    assert gather["scored"] == join["scored"] == 1
    assert gather["clusters"] == join["clusters"] == [
        ["c0", "c0"], ["c1", "c0"], ["c2", "c2"]]
    assert any(has for _, has in points[-1]["probe"]) and any(points[-1]["pool"].values())
