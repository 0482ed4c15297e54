"""The configuration surface: the SZ_* environment switches the library
reads, the modules it ships and what they import, and the flags of
scripts/run_pipeline.py."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every SZ_* environment variable sz_spark reads; a new switch must be
#: added here on purpose
SWITCHES = {
    "SZ_GATHER_MAX_DOCS",
    "SZ_NATIVE_CACHE",
}


def test_switch_inventory():
    """The SZ_* names read through os.environ in sz_spark/*.py are
    exactly SWITCHES."""
    read = re.compile(r"""os\.environ(?:\.get\(|\[)\s*["'](SZ_[A-Z_]+)["']""")
    pkg = os.path.join(REPO, "sz_spark")
    found = set()
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), encoding="utf-8") as fh:
                found.update(read.findall(fh.read()))
    assert found == SWITCHES


#: the files a user or the benchmark runs; every top-level sz_spark
#: definition must be reached from one of them.  ``perfbench/*.py`` is not
#: recursive: the benchmark extracts a pyspark/py4j tree under
#: ``perfbench/_work/``, whose reads are not the benchmark's
ENTRY_POINTS = ("scripts/*.py", "bench.py", "bench_extra.py", "perfbench/*.py",
                "__spark_entry__.py")


def _imported_modules(path: str) -> set[str]:
    """Dotted names of every module an import statement in ``path`` names
    (``from sz_spark import x`` yields both ``sz_spark`` and ``sz_spark.x``;
    the caller keeps the ones that are modules)."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


#: where a sz_spark name may be read: the entry points, the package and
#: its tests
READERS = (*ENTRY_POINTS, "sz_spark/*.py", "tests/**/*.py")


def _bound_names(t: ast.AST):
    """The module names an assignment target binds or fills: ``x``,
    each of ``x, y`` and the base ``x`` of ``x[i]`` / ``x.attr``."""
    if isinstance(t, (ast.Tuple, ast.List)):
        for e in t.elts:
            yield from _bound_names(e)
    else:
        while isinstance(t, (ast.Subscript, ast.Attribute)):
            t = t.value
        if isinstance(t, ast.Name):
            yield t.id


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_bindings(body: list, out: dict) -> dict:
    """name -> the module-level statements (also inside module-level
    if/try/for/with blocks) that bind or fill it; imports excluded."""
    for stmt in body:
        if isinstance(stmt, _DEFS):
            out.setdefault(stmt.name, []).append(stmt)
            continue
        if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for t in targets:
                for name in _bound_names(t):
                    out.setdefault(name, []).append(stmt)
        for block in ("body", "orelse", "finalbody"):
            _module_bindings(getattr(stmt, block, []), out)
        for handler in getattr(stmt, "handlers", []):
            _module_bindings(handler.body, out)
    return out


def _reads(node: ast.AST):
    """The names a subtree reads: Name loads and attribute loads."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            yield n.attr


def unreached(root: str, entry_points=ENTRY_POINTS, package: str = "sz_spark"):
    """(top-level ``def``/``class`` statements of ``package/*.py`` that no
    entry point reaches as ``module.py:name``, modules none of whose
    bindings is reached as ``module.py``), each sorted.

    A name is reached when an entry-point file reads it, when a reached
    binding's statements read it, or when a top-level statement of a live
    module reads it (a ``REGISTRY`` dict reaches its values that way).  A
    module is live once one of its bindings is reached; ``__init__`` always
    is, since importing any module runs it.  Names are matched without
    their module, so same-named definitions are reached together, and
    reads from ``tests/`` reach nothing."""

    def parse(path):
        with open(path, encoding="utf-8") as fh:
            return ast.parse(fh.read(), path)

    bindings: dict[str, list] = {}  # name -> [(module, statement)]
    loose = {}  # module -> top-level statements that run on import
    for path in sorted(glob.glob(os.path.join(root, package, "*.py"))):
        mod, body = os.path.basename(path), parse(path).body
        for name, stmts in _module_bindings(body, {}).items():
            bindings.setdefault(name, []).extend((mod, s) for s in stmts)
        loose[mod] = [s for s in body if not isinstance(s, _DEFS + (ast.Import, ast.ImportFrom))]
    todo = [n for pat in entry_points
            for p in glob.glob(os.path.join(root, pat), recursive=True) for n in _reads(parse(p))]
    reached, live = set(), set()

    def wake(mod):
        if mod not in live:
            live.add(mod)
            todo.extend(n for s in loose.get(mod, ()) for n in _reads(s))

    wake("__init__.py")
    while todo:
        name = todo.pop()
        if name in reached or name not in bindings:
            continue
        reached.add(name)
        for mod, stmt in bindings[name]:
            wake(mod)
            todo.extend(_reads(stmt))
    dead = sorted(f"{mod}:{name}" for name, bs in bindings.items() if name not in reached
                  for mod, s in bs if isinstance(s, _DEFS))
    return dead, sorted(set(loose) - live)


def test_every_definition_is_reached_from_an_entry_point():
    """Every top-level function and class in sz_spark/*.py, and so every
    module, is reached from an entry point: code that only tests call
    belongs in tests/."""
    assert unreached(REPO) == ([], [])


def test_reachability_scan_reports_what_only_tests_call(tmp_path):
    """On a package with one function an entry point calls, one reached
    only through a module-level registry dict and one only a test calls,
    the scan reports exactly the third; a module only tests import is
    reported as a whole."""
    files = {
        "pkg/__init__.py": "",
        "pkg/mod.py": (
            "def called():\n    return 1\n\n"
            "def registered():\n    return 2\n\n"
            "def tested():\n    return 3\n\n"
            "REGISTRY = {'r': registered}\n"
        ),
        "pkg/orphan.py": "LIMIT = 4\n",
        "bin/run.py": "from pkg.mod import REGISTRY, called\nprint(called(), REGISTRY)\n",
        "tests/test_mod.py": (
            "from pkg import orphan\nfrom pkg.mod import tested\n\n"
            "def test_it():\n    assert tested() < orphan.LIMIT\n"
        ),
    }
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(exist_ok=True)
        (tmp_path / rel).write_text(text)
    assert unreached(str(tmp_path), ("bin/*.py",), "pkg") == (["mod.py:tested"], ["orphan.py"])


def test_every_package_name_is_read():
    """Every module-level name a sz_spark/*.py file defines is read
    (a Name or an attribute load) somewhere in READERS, outside the
    statements that bind or fill it.  Reads from tests/ count here, since
    enum members such as uax_classes.G_OTHER are read only by the scalar
    oracles there; functions and classes must also pass the stricter
    reachability guard above."""
    files = {p for pat in READERS for p in glob.glob(os.path.join(REPO, pat), recursive=True)}
    trees = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), path)
    reads: dict[str, list] = {}
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)) and isinstance(node.ctx, ast.Load):
                name = node.id if isinstance(node, ast.Name) else node.attr
                reads.setdefault(name, []).append((path, node))
    dead = []
    for path in sorted(glob.glob(os.path.join(REPO, "sz_spark", "*.py"))):
        for name, stmts in _module_bindings(trees[path].body, {}).items():
            if name.startswith("__") and name.endswith("__"):
                continue
            own = {id(n) for s in stmts for n in ast.walk(s)}
            if not any(p != path or id(n) not in own for p, n in reads.get(name, [])):
                dead.append(f"{os.path.basename(path)}:{name}")
    assert dead == []


def unused_imports(root: str, package: str = "sz_spark") -> list[str]:
    """``module.py:name`` for every name a module-level import of
    ``package/*.py`` binds that its module never loads (``__future__``
    imports and ``__init__.py`` exempt), sorted."""
    out = []
    for path in sorted(glob.glob(os.path.join(root, package, "*.py"))):
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        bound = []
        for stmt in tree.body:
            if isinstance(stmt, ast.Import):
                bound += [a.asname or a.name.split(".")[0] for a in stmt.names]
            elif isinstance(stmt, ast.ImportFrom) and stmt.module != "__future__":
                bound += [a.asname or a.name for a in stmt.names]
        loaded = {n.id for n in ast.walk(tree)
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        out += [f"{os.path.basename(path)}:{name}" for name in bound if name not in loaded]
    return sorted(out)


def test_every_package_import_is_read():
    """No sz_spark module imports a name at module level that it never
    reads (the definition guards above do not look at imports)."""
    assert unused_imports(REPO) == []


def test_package_imports_nothing_from_tests():
    """No sz_spark module imports a tests/ module (oracles, the scalar
    UAX engines, test files)."""
    test_modules = {"tests"} | {
        os.path.basename(p)[:-3] for p in glob.glob(os.path.join(REPO, "tests", "*.py"))
    }
    for path in glob.glob(os.path.join(REPO, "sz_spark", "*.py")):
        heads = {n.split(".")[0] for n in _imported_modules(path)}
        assert heads & test_modules == set(), path


def test_package_parses_no_plans():
    """No sz_spark module reaches through ``_jdf`` or reads a
    ``queryExecution``: partition widths come from the caller or the
    session conf, never from a plan string."""
    for path in glob.glob(os.path.join(REPO, "sz_spark", "*.py")):
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        assert "_jdf" not in text and "queryExecution" not in text, path


def test_pipeline_modules_import_no_pandas():
    """A fresh interpreter that imports the pipeline and its Arrow
    kernels holds no pandas: the kernels' closures pickle references to
    these modules, so a Python worker that runs them imports them too."""
    import subprocess
    import sys

    probe = (
        "import sys\n"
        "import sz_spark.pipeline, sz_spark.arrow_kernels\n"
        "print('pandas' in sys.modules)\n"
    )
    done = subprocess.run([sys.executable, "-c", probe], cwd=REPO,
                          capture_output=True, text=True, check=True)
    assert done.stdout.strip() == "False"


def test_arrow_kernels_call_no_pandas_conversion():
    """sz_spark/arrow_kernels.py calls none of the pyarrow conversions
    that import pandas: ``pa.array``, ``.to_numpy``, ``np.asarray``."""
    path = os.path.join(REPO, "sz_spark", "arrow_kernels.py")
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    assert "pa.array(" not in text and ".to_numpy(" not in text
    calls = set()
    for node in ast.walk(ast.parse(text, path)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            base = node.func.value
            calls.add((base.id if isinstance(base, ast.Name) else None, node.func.attr))
    assert ("pa", "array") not in calls and ("np", "asarray") not in calls
    assert "to_numpy" not in {attr for _, attr in calls}


def test_pipeline_config_fields():
    """PipelineConfig holds the values an entry point sets; the blocking
    parameters are constants of sz_spark.blocking.  A new field must be
    added here on purpose."""
    import dataclasses

    from sz_spark.pipeline import PipelineConfig

    assert [f.name for f in dataclasses.fields(PipelineConfig)] == [
        "threshold", "max_block_size", "salt_up_to", "checkpoint_dir", "cc_max_iterations",
    ]


def test_build_session_parameters():
    """build_session takes the master, the app name and the conf in
    ``extra``; a shuffle width or any other setting goes through
    ``extra``.  A new parameter must be added here on purpose."""
    import inspect

    from sz_spark.session import build_session

    assert list(inspect.signature(build_session).parameters) == ["master", "app_name", "extra"]


def _run_pipeline_script():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_script", os.path.join(REPO, "scripts", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_pipeline_flag_defaults_are_pipeline_config():
    """With no pipeline flags the script runs PipelineConfig() exactly;
    a set flag changes only its own field, and the blocking constants
    have no flag."""
    from sz_spark.pipeline import PipelineConfig

    script = _run_pipeline_script()
    base = ["--sf-dir", "in", "--output", "out"]
    assert script._config(script._parser().parse_args(base)) == PipelineConfig()
    cfg = script._config(script._parser().parse_args(base + ["--threshold", "0.9"]))
    assert cfg == PipelineConfig(threshold=0.9)
    with pytest.raises(SystemExit):
        script._parser().parse_args(base + ["--ndim", "96"])


@pytest.fixture(scope="module")
def spark():
    from sz_spark.session import build_session

    s = build_session(master="local[2]", app_name="config-tests")
    yield s
    s.stop()


def test_max_block_size_flag_is_the_block_cap(spark):
    """--max-block-size 8 suppresses every block of more than 8 docs:
    on a corpus whose one shared key holds 9 docs, that block is the
    only suppressed one and no pair is emitted."""
    from sz_spark import blocking
    from sz_spark.pipeline import pairs_stage

    script = _run_pipeline_script()
    args = ["--sf-dir", "in", "--output", "out", "--max-block-size", "8"]
    cfg = script._config(script._parser().parse_args(args))
    # 9 docs share the prefix key 7; every band key is a singleton
    feats = spark.createDataFrame(
        [(d, 10, 7, [100 + d], bytes(192)) for d in range(9)],
        "did long, len int, pk long, bk array<long>, hist binary",
    )
    pairs, bcs = pairs_stage(feats, cfg)
    suppressed = blocking.suppressed_blocks(
        blocking.bands_from_features(feats, id_col="did"), cfg.max_block_size
    )
    try:
        assert [tuple(r) for r in suppressed.collect()] == [(-1, 7, 9)]
        assert pairs.count() == 0
    finally:
        for bc in bcs:
            bc.unpersist()
