"""bench_extra.py's plan-dump normalisation."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_extra():
    spec = importlib.util.spec_from_file_location(
        "bench_extra", os.path.join(REPO, "bench_extra.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_strip_plan_ids_ignores_session_numbering():
    """Two dumps of one plan that differ only in the session's plan,
    expression, RDD and lambda variable ids strip to equal text; a real
    operator change still differs."""
    strip = _bench_extra()._strip_plan_ids
    scan = (
        "(1) Scan ExistingRDD [codegen id : 1]\n"
        "Output [2]: [conv_id#{e}, cluster_id#{f}]\n"
        "Arguments: [conv_id#{e}, cluster_id#{f}], MapPartitionsRDD[{r}] at "
        "localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, "
        "UnknownPartitioning(0)\n"
        "(2) {op}\n"
        "Arguments: hashpartitioning(conv_id#{e}, 4), ENSURE_REQUIREMENTS, [plan_id={p}]\n"
        "Output: [size(filter(w#{e}, lambdafunction(NOT (lambda x_{x}#{e} = ), "
        "lambda x_{x}#{e}, false))) AS n#{f}, lambda left#{f}]\n"
    )
    a = scan.format(e=12, f=13, r=183, p=40, x=19, op="Exchange")
    b = scan.format(e=57, f=58, r=193, p=91, x=11, op="Exchange")
    c = scan.format(e=57, f=58, r=193, p=91, x=11, op="Sort")
    assert a != b and strip(a) == strip(b)
    assert "MapPartitionsRDD[]" in strip(a) and "plan_id" not in strip(a)
    assert "lambda x_#" in strip(a) and "lambda left#" in strip(a)
    assert strip(b) != strip(c)
