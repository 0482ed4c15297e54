"""The A/B summarizer of ``scripts/ab_perfbench.py`` on synthetic runs."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from ab_perfbench import main, metric_spec, summarize

METRICS = [("warm_cpu_s", "lower"), ("warm_turns_per_s", "higher")]


def _run(side, pair, cpu, tps, workload="w", returncode=0, correct=True):
    metrics = {"warm_cpu_s": {"value": cpu, "unit": "s"},
               "warm_turns_per_s": {"value": tps, "unit": "turns/s"}}
    return {"side": side, "workload": workload, "seed": 700 + pair, "pair": pair,
            "returncode": returncode,
            "result": {"correct": correct, "failed": 0 if correct else 1, "metrics": metrics}}


def _row(text, workload, metric):
    block = text.split(f"{workload}: ")[1]
    return next(line.split() for line in block.splitlines() if line.strip().startswith(metric))


def test_medians_quartiles_and_wins():
    runs = []
    for pair, (p_cpu, c_cpu) in enumerate([(5.0, 3.0), (4.0, 4.0), (6.0, 2.0), (5.5, 6.0), (4.5, 2.5)]):
        runs += [_run("parent", pair, p_cpu, 1000 + pair), _run("change", pair, c_cpu, 1000 - pair)]
    text = summarize(runs, METRICS)
    assert text.startswith("w: 5 complete pairs")
    # parent cpu 4.0 4.5 5.0 5.5 6.0; change 2.0 2.5 3.0 4.0 6.0
    assert _row(text, "w", "warm_cpu_s") == ["warm_cpu_s", "5", "[4.5,", "5.5]",
                                             "3", "[2.5,", "4]", "3/5"]
    # the tie in pair 0 counts for neither side
    assert _row(text, "w", "warm_turns_per_s")[-1] == "0/5"
    assert text.endswith("runs not correct or exited non-zero: 0")


def test_failed_and_incorrect_runs_are_listed_not_counted():
    runs = [_run("parent", 0, 5.0, 10), _run("change", 0, 1.0, 20),
            _run("parent", 1, 5.0, 10), _run("change", 1, 0.1, 99, correct=False),
            _run("parent", 2, 5.0, 10, workload="v", returncode=1),
            _run("change", 2, 1.0, 20, workload="v")]
    runs[4]["result"] = None
    text = summarize(runs, METRICS)
    assert "w: 1 complete pairs" in text and "v: 0 complete pairs" in text
    assert _row(text, "w", "warm_cpu_s")[-4:] == ["1", "[1,", "1]", "1/1"]
    assert _row(text, "v", "warm_cpu_s")[1] == "-"
    assert "runs not correct or exited non-zero: 2" in text
    assert "change w seed 701: exit 0, correct False, failed 1" in text
    assert "parent v seed 702: exit 1, correct None, failed None" in text


def test_setup_plus_cold_row_sums_each_run():
    def run(side, pair, setup, cold):
        return {"side": side, "workload": "w", "seed": 700 + pair, "pair": pair, "returncode": 0,
                "result": {"correct": True, "failed": 0,
                           "metrics": {"setup_s": {"value": setup, "unit": "s"},
                                       "cold_run_s": {"value": cold, "unit": "s"}}}}

    # change: setup up, cold down; the sum decides the wins
    sides = [(2.0, 3.0, 2.5, 2.0), (2.0, 2.0, 3.0, 1.5), (2.0, 4.0, 2.5, 2.5)]
    runs = []
    for pair, (p_setup, p_cold, c_setup, c_cold) in enumerate(sides):
        runs += [run("parent", pair, p_setup, p_cold), run("change", pair, c_setup, c_cold)]
    metrics = [("cold_run_s", "lower"), ("setup_s", "lower")]
    text = summarize(runs, metrics)
    # parent sums 5.0 4.0 6.0; change 4.5 4.5 5.0
    assert _row(text, "w", "setup_s+cold_run_s") == ["setup_s+cold_run_s", "5", "[4.5,", "5.5]",
                                                     "4.5", "[4.5,", "4.75]", "2/3"]
    assert _row(text, "w", "setup_s")[-1] == "0/3" and _row(text, "w", "cold_run_s")[-1] == "3/3"
    assert "setup_s+cold_run_s" not in summarize(runs, metrics[:1])


def test_metric_spec_and_saved_runs(tmp_path, capsys):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    workloads, metrics, seconds = metric_spec(repo)
    assert workloads and ("warm_turns_per_s", "higher") in metrics and seconds > 0
    saved = tmp_path / "runs.jsonl"
    saved.write_text("".join(json.dumps(r) + "\n"
                             for r in (_run("parent", 0, 2.0, 5), _run("change", 0, 1.0, 6))))
    assert main(["--summarize", str(saved)]) == 0
    out = capsys.readouterr().out
    assert _row(out, "w", "warm_cpu_s")[-1] == "1/1"
    assert _row(out, "w", "warm_turns_per_s")[-1] == "1/1"
    assert _row(out, "w", "cold_run_s")[1:] == ["-", "-", "0/0"]
    assert _row(out, "w", "setup_s+cold_run_s")[1:] == ["-", "-", "0/0"]
