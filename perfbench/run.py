#!/usr/bin/env python3
"""End-to-end benchmark of the sz_spark record-linkage pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process is one closed-loop client
running one job at a time at ``local[<cores>]``:

1. generate the workload's documents from the seed (``workloads.py``)
   and build the session through ``session.build_session`` (timed:
   ``setup_s``);
2. expand the documents with
   ``transcripts.build_transcripts_from_documents`` and
   ``localCheckpoint`` them (untimed);
3. ``pipeline.run_pipeline`` once in the fresh session (``cold_run_s``),
   then again until ``--seconds`` of measurement have passed (at least
   once; the median warm run gives ``warm_turns_per_s`` and
   ``warm_cpu_s``).  Times are corrected for hypervisor CPU steal
   (``procstat.steal_corrected``);
4. after every run, outside the timed region, check the clusters
   against the generated ground truth and against the previous run.

``--trace 1`` instead runs the pipeline cold with the layer spans of
``spans.py`` installed, then warm untraced and traced, and prints the
per-layer metrics of the traced warm run.  The last stdout line is the
JSON result; the line before it lists every timed sample (raw wall,
corrected time) with its box-load bracket.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import workloads
from procstat import (
    box_load,
    box_sample,
    cpu_split,
    descendants,
    peak_rss_mb,
    settle,
    steal_corrected,
)
from spans import GATE_SPANS, LAYERS, LINEAGE_STAGES, Tracer, funnel, task_metrics_by_group

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver JVM heap, pinned (and pre-touched, so it is resident from the
#: start) instead of growing lazily toward the library's 32g default:
#: peak RSS then moves with the off-heap and Python-side memory rather
#: than with the collector's heap-growth timing; identical on every run
DRIVER_MEMORY = "2g"

END_TO_END = (
    ("cold_run_s", "s"),
    ("warm_turns_per_s", "turns/s"),
    ("warm_cpu_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)

SPAN_LAYERS = (
    "canonicalize",
    "blocking.doc_features",
    "blocking.block_pairs",
    "scoring",
    "clustering",
    "lineage",
)
SPAN_METRICS = (
    ("wall_s", "s"),
    ("jvm_cpu_s", "s"),
    ("python_cpu_s", "s"),
    ("busy_cores", "cores"),
    ("jit_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
)
FUNNEL = (
    ("blocking.band_rows", "count"),
    ("blocking.raw_pairs", "count"),
    ("blocking.distinct_pairs", "count"),
    ("blocking.dedup_ratio", "ratio"),
    ("blocking.blocks_suppressed", "count"),
    ("scoring.survivors", "count"),
    ("scoring.survival_ratio", "ratio"),
    ("scoring.scored_mb", "MB"),
    ("scoring.edges", "count"),
    ("scoring.edge_yield", "ratio"),
    ("scoring.prune_broadcast_mb", "MB"),
    ("clustering.edges_in", "count"),
    ("clustering.clusters", "count"),
    ("lineage.bytes_written_mb", "MB"),
)


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{m}", unit) for layer in SPAN_LAYERS for m, unit in SPAN_METRICS]
    names += [("session.wall_s", "s"), ("scoring.gate_s", "s")]
    names += [(f"lineage.{stage}.wall_s", "s") for stage in LINEAGE_STAGES]
    names += list(FUNNEL)
    names += [("traced_wall_s", "s"), ("unattributed_s", "s"), ("trace_overhead_s", "s")]
    return names


class Work:
    """Scratch space of one run inside the checkout, removed at exit."""

    def __init__(self):
        self.root = os.path.join(HERE, "_work", f"run-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)  # left by a killed run
        os.makedirs(self.root)
        self.native = os.path.join(HERE, "_work", "native")
        os.makedirs(self.native, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def hermetic_env(work: Work) -> None:
    """Library defaults only (no SZ_* switches from the caller), every
    file Spark, the JVM and the workers write inside ``work``, and the
    workers import sz_spark from this checkout."""
    for key in [k for k in os.environ if k.startswith("SZ_")]:
        del os.environ[key]
    tmp = work.path("tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SZ_SPARK_LOCAL_DIR": work.path("local"),
            "SPARK_LOCAL_DIRS": work.path("local"),
            "SZ_NATIVE_CACHE": work.native,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build(extra: dict[str, str] | None = None):
    from sz_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        **(extra or {}),
    }
    return build_session(master=f"local[{cores()}]", app_name="perfbench", extra=conf)


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def make_input(spark, documents):
    from sz_spark.transcripts import build_transcripts_from_documents

    docs = spark.createDataFrame(documents)
    transcripts = build_transcripts_from_documents(docs).localCheckpoint(eager=True)
    return transcripts, transcripts.count()


class Runner:
    """Timed pipeline runs over one input, each checked afterwards."""

    def __init__(self, spark, transcripts, expected, workload, work):
        self.spark = spark
        self.transcripts = transcripts
        self.expected = expected
        self.workload = workload
        self.work = work
        self.samples: list[dict] = []
        self.previous: dict | None = None
        self.n_runs = 0

    def config(self):
        """A fresh config per run; a ``*_ckpt`` workload checkpoints
        every stage into a new directory, so no run resumes another's."""
        from sz_spark.pipeline import PipelineConfig

        self.n_runs += 1
        if self.workload.endswith("_ckpt"):
            return PipelineConfig(checkpoint_dir=self.work.path("ckpt", str(self.n_runs)))
        return PipelineConfig()

    def run(self, phase: str, tracer=None) -> tuple[dict | None, dict]:
        """One run_pipeline call; returns (stage frames or None on
        failure, sample)."""
        from sz_spark.pipeline import run_pipeline

        cfg = self.cfg = self.config()
        scope = tracer.installed(phase) if tracer else contextlib.nullcontext()
        settled = settle()  # the previous job's JIT and GC tail stays untimed
        b0, c0 = box_sample(), cpu_split()
        t0 = time.perf_counter()
        error = None
        stages = None
        try:
            with scope:
                stages = run_pipeline(self.spark, self.transcripts, cfg)
        except Exception as exc:  # a failed run is counted, never retried
            error = f"{type(exc).__name__}: {exc}"
        wall = time.perf_counter() - t0
        cpu = cpu_split() - c0
        load = box_load(b0, box_sample())
        sample = {
            "phase": phase,
            "settle_s": settled,
            "wall_s": wall,
            "timed_s": steal_corrected(wall, cpu.total, load["steal_cores"]),
            "cpu_s": cpu.total,
            "jvm_cpu_s": cpu.jvm,
            "python_cpu_s": cpu.python,
            **load,
        }
        if error is None:
            tbl = stages["clusters"].select("conv_id", "cluster_id").toArrow()
            convs, clusters = tbl.column(0).to_pylist(), tbl.column(1).to_pylist()
            error = workloads.check_clusters(convs, clusters, self.expected)
            got = dict(zip(convs, clusters))
            if error is None and self.previous is not None and got != self.previous:
                error = "clusters differ from the previous run's"
            self.previous = got
        sample["error"] = error
        self.samples.append(sample)
        log(f"{phase} run {wall:.2f} s, error={error}")
        return (stages if error is None else None), sample

    def drop_checkpoints(self) -> None:
        shutil.rmtree(self.work.path("ckpt"), ignore_errors=True)


def measure(runner: Runner, seconds: float, n_turns: int) -> dict[str, float]:
    """Cold run, then warm runs until ``seconds`` have passed."""
    t0 = time.perf_counter()
    _, cold = runner.run("cold")
    runner.drop_checkpoints()
    warm = []
    while not warm or time.perf_counter() - t0 < seconds:
        _, sample = runner.run("warm")
        runner.drop_checkpoints()
        warm.append(sample)
    return {
        "cold_run_s": cold["timed_s"],
        "warm_turns_per_s": n_turns / statistics.median(s["timed_s"] for s in warm),
        "warm_cpu_s": statistics.median(s["cpu_s"] for s in warm),
        "peak_rss_mb": peak_rss_mb(),
    }


def ckpt_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def trace(runner: Runner, tracer, setup_s: float) -> dict[str, float]:
    """Traced cold run, then an untraced and a traced warm run; returns
    the per-layer metrics except the event-log ones, which are read
    after the session stops."""
    runner.run("cold", tracer)
    runner.drop_checkpoints()
    untraced_stages, untraced = runner.run("untraced")
    # counted before the checkpoints they may read from are dropped
    untraced_counts = {}
    if untraced_stages is not None:
        untraced_counts = {
            key: untraced_stages[frame].count()
            for key, frame in (("distinct_pairs", "pairs"), ("survivors", "scored"))
        }
    runner.drop_checkpoints()
    stages, warm = runner.run("warm", tracer)
    metrics: dict[str, float] = {}
    counts: dict = {}
    if stages is not None:
        metrics["lineage.bytes_written_mb"] = ckpt_bytes(runner.work.path("ckpt")) / 2**20
        counts = funnel(stages, tracer.frames, runner.cfg)
        for key, value in untraced_counts.items():
            if counts[key] != value:
                warm["error"] = f"traced {key} {counts[key]} != untraced {value}"
    runner.drop_checkpoints()

    cold_walls = tracer.layer_walls("cold")
    warm_walls = tracer.layer_walls("warm")
    for layer in warm_walls:
        cpu = tracer.layer_cpu("warm", layer)
        wall = warm_walls[layer]
        metrics[f"{layer}.wall_s"] = wall
        metrics[f"{layer}.jvm_cpu_s"] = cpu.jvm
        metrics[f"{layer}.python_cpu_s"] = cpu.python
        metrics[f"{layer}.busy_cores"] = cpu.total / wall if wall > 0 else 0.0
        metrics[f"{layer}.jit_s"] = cold_walls[layer] - wall
    metrics["session.wall_s"] = setup_s
    metrics["scoring.gate_s"] = tracer.wall("warm", GATE_SPANS)
    for stage in LINEAGE_STAGES:
        metrics[f"lineage.{stage}.wall_s"] = tracer.wall("warm", (f"lineage.{stage}",))
    metrics["traced_wall_s"] = warm["wall_s"]
    metrics["unattributed_s"] = warm["wall_s"] - tracer.top_level_wall("warm")
    metrics["trace_overhead_s"] = warm["wall_s"] - untraced["wall_s"]
    if counts:
        metrics.update(
            {
                "blocking.band_rows": counts["band_rows"],
                "blocking.raw_pairs": counts["raw_pairs"],
                "blocking.distinct_pairs": counts["distinct_pairs"],
                "blocking.dedup_ratio": counts["distinct_pairs"] / max(counts["raw_pairs"], 1),
                "blocking.blocks_suppressed": counts["blocks_suppressed"],
                "scoring.survivors": counts["survivors"],
                "scoring.survival_ratio": counts["survivors"] / max(counts["distinct_pairs"], 1),
                "scoring.scored_mb": counts["scored_mb"],
                "scoring.edges": counts["edges"],
                "scoring.edge_yield": counts["edges"] / max(counts["survivors"], 1),
                "scoring.prune_broadcast_mb": tracer.prune_broadcast_bytes / 2**20,
                "clustering.edges_in": counts["edges"],
                "clustering.clusters": counts["clusters"],
            }
        )
    return metrics


def make_result(metrics: dict[str, float], samples: list[dict], traced: bool) -> dict:
    """The result line: every declared metric of the mode, a failed
    count over all checked runs, and ``correct`` only when no run failed
    and no metric is missing."""
    declared = per_layer_names() if traced else list(END_TO_END)
    failed = sum(1 for s in samples if s["error"])
    return {
        "correct": failed == 0 and all(name in metrics for name, _ in declared),
        "attempted": len(samples),
        "failed": failed,
        "metrics": {
            name: {"value": metrics.get(name, 0.0), "unit": unit} for name, unit in declared
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    t0 = time.perf_counter()
    documents = workloads.generate(args.workload, args.seed)
    expected, n_turns = workloads.expected_conversations(documents)
    log(f"generated {n_turns} turns in {time.perf_counter() - t0:.2f} s")

    work = Work()
    spark = None
    try:
        hermetic_env(work)
        sys.path.insert(0, ROOT)
        from sz_spark import native

        native.get_lib()  # compile the kernel once, outside the timed set-up
        extra = {}
        if args.trace:
            os.makedirs(work.path("events"))
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + work.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        b0, c0, t0 = box_sample(), cpu_split(), time.perf_counter()
        spark = build(extra)
        setup = {"wall_s": time.perf_counter() - t0, **box_load(b0, box_sample())}
        setup_s = steal_corrected(setup["wall_s"], (cpu_split() - c0).total, setup["steal_cores"])
        log(f"session built in {setup['wall_s']:.2f} s")
        t0 = time.perf_counter()
        transcripts, counted = make_input(spark, documents)
        log(f"input checkpointed in {time.perf_counter() - t0:.2f} s")
        if counted != n_turns:
            raise RuntimeError(f"input has {counted} turns, generator expects {n_turns}")
        runner = Runner(spark, transcripts, expected, args.workload, work)

        if args.trace:
            metrics = trace(runner, Tracer(spark), setup_s)
        else:
            metrics = measure(runner, args.seconds, n_turns)
            metrics["setup_s"] = setup_s
        t0 = time.perf_counter()
        shutdown(spark)
        log(f"session stopped in {time.perf_counter() - t0:.2f} s")
        spark = None
        if args.trace:
            groups = task_metrics_by_group(work.path("events"))
            for layer, names in LAYERS.items():
                for key in ("shuffle_write_mb", "spill_mb", "gc_s"):
                    metrics[f"{layer}.{key}"] = sum(
                        groups.get(f"warm|{n}", {}).get(key, 0.0) for n in names
                    )
    finally:
        if spark is not None:
            shutdown(spark)
        work.close()

    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "turns": n_turns,
                "conversations": len(expected),
                "cores": cores(),
                "setup": setup,
                "samples": runner.samples,
                "hostile_samples": sum(1 for s in runner.samples if s["hostile"]),
            }
        )
    )
    result = make_result(metrics, runner.samples, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
