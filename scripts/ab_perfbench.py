#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs in two checkouts.

    python3 scripts/ab_perfbench.py PARENT_DIR CHANGE_DIR --pairs N --seed0 S
    python3 scripts/ab_perfbench.py --summarize RUNS.jsonl

Each pair runs ``perfbench/run.py --workload W --seed S --seconds T`` in
both checkouts, for every workload of the change's ``BENCHMARK.json``,
with its ``run_seconds`` as ``T``;
pair ``i`` uses seed ``S + i`` and even pairs run the parent first, odd
pairs the change.  Before the timed pairs, one untimed warm-up run per
checkout and workload publishes each checkout's driver class archive and
Python worker tree, so no timed ``setup_s`` pays for them.

The warm-up runs use seed ``S - 1``.  Every timed run's result goes to
``--out`` (one JSON line per run, as it finishes), and the summary goes
to stdout: per workload and end-to-end metric, each side's median and
quartiles and the pairs the change won (ties count for neither side),
then every run that exited non-zero or was not ``correct``.  Those runs count toward neither the medians nor
the wins.  When the metrics hold ``setup_s`` and ``cold_run_s``, a last
row does the same for their sum per run, ``setup_s+cold_run_s``: the
fresh-process cost, where moving time from one to the other counts for
nothing.  ``--summarize`` prints the summary of a saved ``--out`` file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")

#: the summary row of ``setup_s + cold_run_s`` per run
FRESH = "setup_s+cold_run_s"


def metric_spec(checkout: str) -> tuple[list[str], list[tuple[str, str]], float]:
    """(workload names, [(end-to-end metric, "lower"|"higher")], run
    seconds) of a checkout's ``BENCHMARK.json``."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return (
        [w["name"] for w in bench["workloads"]],
        [(m["name"], m["better"]) for m in bench["end_to_end"]],
        bench["run_seconds"],
    )


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> tuple[int, dict | None]:
    """(exit code, result line or None) of one perfbench run."""
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=1800,
    )
    try:
        result = json.loads(done.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        result = None
    if done.returncode != 0:
        print(done.stderr[-2000:], file=sys.stderr)
    return done.returncode, result


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _fmt(value: float) -> str:
    return f"{value:,.0f}" if abs(value) >= 1000 else f"{value:.4g}"


def _ok(run: dict) -> bool:
    return run["returncode"] == 0 and bool(run["result"]) and run["result"].get("correct", False)


def _with_fresh(metrics: dict) -> dict:
    """A run's metrics plus ``FRESH``, the sum of its ``setup_s`` and
    ``cold_run_s``, when it has both."""
    if "setup_s" not in metrics or "cold_run_s" not in metrics:
        return metrics
    total = metrics["setup_s"]["value"] + metrics["cold_run_s"]["value"]
    return {**metrics, FRESH: {"value": total, "unit": "s"}}


def summarize(runs: list[dict], metrics: list[tuple[str, str]]) -> str:
    """The summary of ``runs`` (records as ``--out`` writes them) over
    ``metrics`` ([(name, "lower"|"higher")]), plus the ``FRESH`` row
    when ``metrics`` holds ``setup_s`` and ``cold_run_s``."""
    if {"setup_s", "cold_run_s"} <= {name for name, _ in metrics}:
        metrics = [*metrics, (FRESH, "lower")]
    lines = []
    for workload in sorted({r["workload"] for r in runs}):
        ok = {side: {r["pair"]: _with_fresh(r["result"]["metrics"]) for r in runs
                     if r["workload"] == workload and r["side"] == side and _ok(r)}
              for side in SIDES}
        pairs = sorted(ok["parent"].keys() & ok["change"].keys())
        lines.append(f"{workload}: {len(pairs)} complete pairs")
        lines.append(f"  {'metric':<18} {'parent median [q1, q3]':>30} "
                     f"{'change median [q1, q3]':>30}  change wins")
        for name, better in metrics:
            cells = []
            for side in SIDES:
                values = [m[name]["value"] for m in ok[side].values() if name in m]
                if values:
                    q1, q2, q3 = _quartiles(values)
                    cells.append(f"{_fmt(q2)} [{_fmt(q1)}, {_fmt(q3)}]")
                else:
                    cells.append("-")
            both = [p for p in pairs if name in ok["parent"][p] and name in ok["change"][p]]
            wins = 0
            for p in both:
                parent, change = ok["parent"][p][name]["value"], ok["change"][p][name]["value"]
                wins += change < parent if better == "lower" else change > parent
            lines.append(f"  {name:<18} {cells[0]:>30} {cells[1]:>30}  {wins}/{len(both)}")
    bad = [r for r in runs if not _ok(r)]
    lines.append(f"runs not correct or exited non-zero: {len(bad)}")
    for r in bad:
        res = r["result"] or {}
        lines.append(f"  {r['side']} {r['workload']} seed {r['seed']}: exit {r['returncode']}, "
                     f"correct {res.get('correct')}, failed {res.get('failed')}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seed0", type=int)
    ap.add_argument("--out", help="file for every run's JSON line")
    ap.add_argument("--summarize", metavar="RUNS_JSONL")
    args = ap.parse_args(argv)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if args.summarize:
        with open(args.summarize) as fh:
            runs = [json.loads(line) for line in fh if line.strip()]
        print(summarize(runs, metric_spec(repo)[1]))
        return 0
    if None in (args.parent, args.change, args.pairs, args.seed0, args.out):
        ap.error("PARENT_DIR, CHANGE_DIR, --pairs, --seed0 and --out are required "
                 "unless --summarize is given")
    dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    workloads, metrics, seconds = metric_spec(dirs["change"])
    for workload in workloads:
        for side in SIDES:
            t0 = time.perf_counter()
            code, _ = run_once(dirs[side], workload, args.seed0 - 1, seconds)
            print(f"[ab] warm-up {side} {workload}: exit {code}, "
                  f"{time.perf_counter() - t0:.0f} s", file=sys.stderr, flush=True)
    runs = []
    with open(args.out, "w") as out:
        for pair in range(args.pairs):
            seed = args.seed0 + pair
            order = SIDES if pair % 2 == 0 else SIDES[::-1]
            for workload in workloads:
                for side in order:
                    code, result = run_once(dirs[side], workload, seed, seconds)
                    run = {"side": side, "workload": workload, "seed": seed, "pair": pair,
                           "returncode": code, "result": result}
                    runs.append(run)
                    out.write(json.dumps(run) + "\n")
                    out.flush()
                    print(f"[ab] pair {pair} {side} {workload} seed {seed}: exit {code}",
                          file=sys.stderr, flush=True)
    print(summarize(runs, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
