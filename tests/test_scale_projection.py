"""Formula checks for the 100x projection calculator (VERDICT r4 #6)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from scale_projection import CAL, Cluster, PipelineKnobs, Projection, render_markdown


def test_calibration_point_reproduces_measured():
    """Plugging the sf0.1 turn count back in must reproduce the measured
    stage cardinalities exactly (the rates ARE the calibration)."""
    p = Projection(n_turns=60947)
    assert abs(p.n_docs - 8339) < 1
    assert abs(p.band_rows - 208475) < 30
    assert abs(p.pairs - 3844) < 5
    assert abs(p.edges - 3753) < 5


def test_linear_scaling_of_cardinalities():
    a, b = Projection(n_turns=1e9), Projection(n_turns=1e11)
    for attr in ("n_docs", "corpus_bytes", "band_rows", "pairs", "edges"):
        assert abs(getattr(b, attr) / getattr(a, attr) - 100) < 1e-6, attr


def test_worst_case_pairs_is_cap_governed_and_dominates():
    p = Projection(n_turns=1e12)
    # cap bound must dominate the measured expectation (skew immunity)
    assert p.pairs_worst_case > p.pairs
    # and scale linearly with the cap knob
    cap = PipelineKnobs().max_block_size
    p2 = Projection(n_turns=1e12, knobs=PipelineKnobs(max_block_size=2 * cap))
    assert p2.pairs_worst_case > p.pairs_worst_case * 1.9


def test_cc_gate_switches_to_distributed():
    assert not Projection(n_turns=1e6).cc_distributed
    assert Projection(n_turns=1e12).cc_distributed


def test_envelope_clean_at_100tb_reference_cluster():
    p = Projection(n_turns=1e12)  # 1000 x 4-core x 16 GB
    assert p.check_envelope() == []
    # every stage must fit its task budget with the default 256 MB target
    assert all(r["fits_task_budget"] for r in p.stage_table())


def test_envelope_flags_too_small_tasks():
    tiny = Cluster(executors=2, cores_per_executor=64, executor_mem_gb=1.0,
                   target_partition_mb=4096)
    p = Projection(n_turns=1e12, cluster=tiny)
    assert p.check_envelope() != []


def test_partition_count_respects_target():
    p = Projection(n_turns=1e12)
    for r in p.stage_table():
        assert r["partition_bytes"] <= p.cluster.target_partition_mb * (1 << 20) + 1


def test_markdown_renders():
    """The projection renders clean, and SCALE_PROJECTION.md is what
    the script renders today."""
    md = render_markdown()
    assert "100 TB" in md and "Envelope: **clean**" in md
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALE_PROJECTION.md")
    with open(path, encoding="utf-8") as fh:
        assert fh.read() == md


def test_calibration_constants_match_docstring():
    assert abs(CAL["turns_per_doc"] - 7.309) < 0.01
    assert abs(CAL["pairs_per_doc"] - 0.461) < 0.01


def test_knob_defaults_are_the_pipeline_defaults():
    """PipelineKnobs copies no value by hand that the pipeline changed:
    the band count, the block cap and the connected-components driver
    gate are the pipeline's defaults."""
    import inspect

    from sz_spark import blocking, clustering
    from sz_spark.pipeline import PipelineConfig

    knobs = PipelineKnobs()
    gate = inspect.signature(clustering.connected_components).parameters["local_threshold"]
    assert knobs.n_bands == blocking.N_BANDS
    assert knobs.max_block_size == PipelineConfig().max_block_size
    assert knobs.cc_gate_edges == gate.default
