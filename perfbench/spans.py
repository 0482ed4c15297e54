"""Layer spans around the real ``run_pipeline``, recorded from outside.

:class:`Tracer` wraps the public entry points that ``run_pipeline``
calls — ``CheckpointManager.materialize`` (by stage name) and its
per-partition metric writer, ``scoring.gather_gate``,
``scoring.build_prune_broadcast`` and
``clustering.connected_components`` — and then the benchmark calls
``run_pipeline`` itself, so the traced flow is the production flow.

Each span records its wall, the JVM-vs-Python CPU of the process tree
across it (``/proc``), and tags the Spark jobs it launches with a job
group ``<phase>|<span>``; :func:`task_metrics_by_group` reads the task
metrics of those groups back from the session's event log.  A stage is
forced inside the ``materialize`` call of its checkpoint, so that span
carries the stage's compute; the checkpoint's metric-row job is a
nested ``lineage.<stage>`` span.  Layers report self time: a span's
wall and CPU minus those of the spans nested in it, so the layers are
disjoint and sum to the top-level spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from dataclasses import dataclass, field

from procstat import CpuSplit, cpu_split

#: run_pipeline checkpoint stage -> layer span that forces it
STAGE_SPANS = {
    "canonical_docs": "canonicalize",
    "doc_features": "blocking.doc_features",
    "pairs": "blocking.block_pairs",
    "scored": "scoring.score",
    "clusters": "clustering.clusters",
}
LINEAGE_STAGES = tuple(STAGE_SPANS)

#: reported layer -> the span names it sums
LAYERS = {
    "canonicalize": ("canonicalize",),
    "blocking.doc_features": ("blocking.doc_features",),
    "blocking.block_pairs": ("blocking.block_pairs",),
    "scoring": ("scoring.gather_gate", "scoring.build_prune_broadcast", "scoring.score"),
    "clustering": ("clustering.connected_components", "clustering.clusters", "clustering.cc_iter"),
    # a checkpointed connected-components round's metric job is
    # ``lineage.cc_iter`` (none at the benchmark's sizes)
    "lineage": (*(f"lineage.{s}" for s in LINEAGE_STAGES), "lineage.cc_iter"),
}
GATE_SPANS = ("scoring.gather_gate", "scoring.build_prune_broadcast")


def _span_of_stage(stage: str) -> str | None:
    if stage.startswith("cc_iter_"):
        return "clustering.cc_iter"
    return STAGE_SPANS.get(stage)


def _lineage_span(stage: str) -> str:
    return "lineage.cc_iter" if stage.startswith("cc_iter_") else f"lineage.{stage}"


@dataclass
class Span:
    """A finished span; ``wall``/``cpu`` are self time (minus the spans
    nested in it), ``total_wall`` includes them."""

    name: str
    phase: str
    wall: float
    cpu: CpuSplit
    total_wall: float
    nested: bool


@dataclass
class _Open:
    child_wall: float = 0.0
    child_cpu: CpuSplit = CpuSplit(0.0, 0.0)


@dataclass
class Tracer:
    """Spans of the traced runs of one process, kept in memory."""

    spark: object
    phase: str = ""
    spans: list[Span] = field(default_factory=list)
    #: last materialized frame per checkpoint stage (for funnel queries)
    frames: dict = field(default_factory=dict)
    prune_broadcast_bytes: int = 0
    _open: list[_Open] = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"{self.phase}|{name}"

    def _span(self, name: str, fn, *args, **kwargs):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", self.group(name))
        me = _Open()
        self._open.append(me)
        c0, t0 = cpu_split(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            cpu = cpu_split() - c0
            self._open.pop()
            if self._open:
                parent = self._open[-1]
                parent.child_wall += wall
                parent.child_cpu += cpu
            self_cpu = cpu - me.child_cpu
            self.spans.append(
                Span(name, self.phase, wall - me.child_wall, self_cpu, wall, bool(self._open))
            )
            sc.setLocalProperty("spark.jobGroup.id", prev)

    @contextlib.contextmanager
    def installed(self, phase: str):
        """Wrap the layer entry points for one run; the whole run is
        tagged ``<phase>|pipeline`` so jobs outside every span still
        land in a group."""
        from sz_spark import clustering, scoring
        from sz_spark.lineage import CheckpointManager

        tracer = self
        self.phase = phase
        originals = [
            (CheckpointManager, "materialize", CheckpointManager.materialize),
            (CheckpointManager, "_write_metrics", CheckpointManager._write_metrics),
            (scoring, "gather_gate", scoring.gather_gate),
            (scoring, "build_prune_broadcast", scoring.build_prune_broadcast),
            (clustering, "connected_components", clustering.connected_components),
        ]
        materialize, write_metrics = originals[0][2], originals[1][2]
        gather_gate, build_bc, cc = (o[2] for o in originals[2:])

        def t_materialize(mgr, stage, df):
            name = _span_of_stage(stage)
            if name is None:  # a stage no layer claims stays unattributed
                return materialize(mgr, stage, df)
            out = tracer._span(name, materialize, mgr, stage, df)
            tracer.frames[stage] = out
            return out

        def t_write_metrics(mgr, stage, df):
            return tracer._span(_lineage_span(stage), write_metrics, mgr, stage, df)

        def t_build_bc(feats):
            bc = tracer._span("scoring.build_prune_broadcast", build_bc, feats)
            tracer.prune_broadcast_bytes = sum(a.nbytes for a in bc.value)
            return bc

        CheckpointManager.materialize = t_materialize
        CheckpointManager._write_metrics = t_write_metrics
        scoring.gather_gate = lambda feats: tracer._span("scoring.gather_gate", gather_gate, feats)
        scoring.build_prune_broadcast = t_build_bc
        clustering.connected_components = lambda *a, **kw: tracer._span(
            "clustering.connected_components", cc, *a, **kw
        )
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", self.group("pipeline"))
        try:
            yield self
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for owner, attr, orig in originals:
                setattr(owner, attr, orig)

    def wall(self, phase: str, names) -> float:
        """Summed self wall of the phase's spans with these names."""
        return sum(s.wall for s in self.spans if s.phase == phase and s.name in names)

    def layer_walls(self, phase: str) -> dict[str, float]:
        return {layer: self.wall(phase, names) for layer, names in LAYERS.items()}

    def layer_cpu(self, phase: str, layer: str) -> CpuSplit:
        total = CpuSplit(0.0, 0.0)
        for s in self.spans:
            if s.phase == phase and s.name in LAYERS[layer]:
                total += s.cpu
        return total

    def top_level_wall(self, phase: str) -> float:
        return sum(s.total_wall for s in self.spans if s.phase == phase and not s.nested)


def task_metrics_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: summed task GC seconds, shuffle-write MB and spill
    MB (memory + disk), from the (uncompressed) event log in
    ``event_dir``.  Stages map to the group of the first job that
    listed them; later jobs only skip them."""
    files = [p for p in glob.glob(f"{event_dir}/*") if not p.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = out.setdefault(
                    str(stage_group.get(ev.get("Stage ID"))),
                    {"gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
                )
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                shuffle = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 2**20
                spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                acc["spill_mb"] += spill / 2**20
    return out


def funnel(stages: dict, frames: dict, cfg, id_col: str = "did") -> dict[str, float]:
    """Row funnel of one run, from untimed queries over its stage frames:
    band rows -> raw triangle pairs (from the kept block sizes) ->
    distinct pairs -> prune survivors (= scored rows) -> edges ->
    clusters, plus the text bytes the survivors carried into scoring."""
    from pyspark.sql import functions as F

    from sz_spark import blocking

    docs = stages["docs"]
    bands = blocking.bands_from_features(frames["doc_features"], docs, id_col=id_col)
    size = F.col("count")
    drop_above = max(cfg.salt_up_to, cfg.max_block_size)
    kept = (size >= 2) & (size <= drop_above)
    blocks = (
        bands.groupBy("band_id", "band_hash")
        .count()
        .agg(
            F.sum(size).alias("band_rows"),
            F.sum(F.when(kept, size * (size - 1) / 2).otherwise(0)).alias("raw_pairs"),
            F.sum(F.when(size > drop_above, 1).otherwise(0)).alias("suppressed"),
        )
        .collect()[0]
    )
    scored = stages["scored"]
    doc_bytes = docs.select("conv_id", F.octet_length("doc").alias("b"))
    sides = scored.select("id_a", "id_b", (F.col("sim") >= cfg.threshold).alias("edge"))
    agg = (
        sides.join(doc_bytes.withColumnRenamed("conv_id", "id_a").withColumnRenamed("b", "ba"), "id_a")
        .join(doc_bytes.withColumnRenamed("conv_id", "id_b").withColumnRenamed("b", "bb"), "id_b")
        .agg(
            F.count(F.lit(1)).alias("survivors"),
            F.sum(F.col("edge").cast("long")).alias("edges"),
            F.sum(F.col("ba") + F.col("bb")).alias("bytes"),
        )
        .collect()[0]
    )
    n_scored = scored.count()
    if agg["survivors"] != n_scored:
        raise RuntimeError(f"scored rows {n_scored} lost ids in the byte join ({agg['survivors']})")
    return {
        "band_rows": int(blocks["band_rows"]),
        "raw_pairs": int(blocks["raw_pairs"]),
        "blocks_suppressed": int(blocks["suppressed"]),
        "distinct_pairs": stages["pairs"].count(),
        "survivors": n_scored,
        "edges": int(agg["edges"] or 0),
        "scored_mb": (agg["bytes"] or 0) / 2**20,
        "clusters": stages["clusters"].select("cluster_id").distinct().count(),
    }
