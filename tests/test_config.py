"""The configuration surface: the SZ_* environment switches the library
reads and the flag defaults of scripts/run_pipeline.py."""

from __future__ import annotations

import importlib.util
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every SZ_* environment variable sz_spark reads; a new switch must be
#: added here on purpose
SWITCHES = {
    "SZ_GATHER_MAX_DOCS",
    "SZ_NATIVE_CACHE",
    "SZ_NO_NATIVE",
    "SZ_SPARK_DRIVER_MEM",
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


def _run_pipeline_script():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_script", os.path.join(REPO, "scripts", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_pipeline_flag_defaults_are_pipeline_config():
    """With no pipeline flags the script runs PipelineConfig() exactly;
    a set flag changes only its own field."""
    from sz_spark.pipeline import PipelineConfig

    script = _run_pipeline_script()
    base = ["--sf-dir", "in", "--output", "out"]
    assert script._config(script._parser().parse_args(base)) == PipelineConfig()
    cfg = script._config(script._parser().parse_args(base + ["--ndim", "64"]))
    assert cfg == PipelineConfig(ndim=64)
