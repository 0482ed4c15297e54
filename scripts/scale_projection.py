#!/usr/bin/env python
"""100x-readiness projection: from measured sf0.1 per-stage rates,
project every shuffle/table/pair/edge cardinality of the ER pipeline to
10 TB / 100 TB (10^12-turn) inputs and CHECK the plan against a
cluster's executor-memory envelope (VERDICT r4 task #6 — turns the
"would survive 100x" claim from prose into an asserted table).

Calibration (measured on /root/testdata/sf0.1, run_pipeline defaults,
2026-08-17): 60,947 turns -> 8,339 canonical docs (7.31 turns/doc,
avg 666 doc bytes), band table 208,475 rows (25 keys/doc = 24 minhash
bands + 1 prefix key), 3,844 candidate pairs after caps (0.461/doc),
3,753 scored >= tau (0.450/doc) — the planted corpus pairs ~45% of
docs, a HIGH dup-rate bound for web-scale corpora.

Every formula is load-bearing in tests/test_scale_projection.py; run
as a script to (re)generate SCALE_PROJECTION.md.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# --- measured calibration constants (sf0.1, see module docstring) ----------

CAL = {
    "turns_per_doc": 60947 / 8339,
    "avg_doc_bytes": 666.0,
    "pairs_per_doc": 3844 / 8339,
    "edges_per_doc": 3753 / 8339,
    # histogram-prune survivor fraction, measured at bench scale 16
    # (66,166 of 1,460,319 candidates survive the length+histogram
    # prunes and receive doc bytes)
    "prune_survivor_ratio": 66166 / 1460319,
}

#: UnsafeRow-ish per-row overhead applied to every shuffled row (null
#: bitmap + offsets; measured Spark shuffle files run 16-32B over raw)
ROW_OVERHEAD = 24


@dataclass
class PipelineKnobs:
    """The pipeline values the projection reads; their defaults are the
    pipeline's own, pinned by tests/test_scale_projection.py."""

    n_bands: int = 24  # blocking.N_BANDS
    max_block_size: int = 1024  # PipelineConfig's block-size cap
    cc_gate_edges: int = 2_000_000  # driver union-find fast path cap


@dataclass
class Cluster:
    executors: int = 1000
    cores_per_executor: int = 4
    executor_mem_gb: float = 16.0
    #: fraction of executor memory usable for a task working set after
    #: Spark overheads (unified memory region defaults)
    mem_fraction: float = 0.6
    target_partition_mb: float = 256.0

    @property
    def total_cores(self) -> int:
        return self.executors * self.cores_per_executor

    @property
    def task_budget_bytes(self) -> float:
        """Per-task memory budget: the usable region split across the
        executor's concurrently running tasks."""
        return (
            self.executor_mem_gb * (1 << 30) * self.mem_fraction
            / self.cores_per_executor
        )


@dataclass
class Projection:
    n_turns: float
    knobs: PipelineKnobs = field(default_factory=PipelineKnobs)
    cluster: Cluster = field(default_factory=Cluster)
    turns_per_doc: float = CAL["turns_per_doc"]
    avg_doc_bytes: float = CAL["avg_doc_bytes"]
    pairs_per_doc: float = CAL["pairs_per_doc"]
    edges_per_doc: float = CAL["edges_per_doc"]

    # --- cardinalities ------------------------------------------------

    @property
    def n_docs(self) -> float:
        return self.n_turns / self.turns_per_doc

    @property
    def corpus_bytes(self) -> float:
        """Canonicalized doc bytes (the turn->doc concat output)."""
        return self.n_docs * self.avg_doc_bytes

    @property
    def band_rows(self) -> float:
        return self.n_docs * (self.knobs.n_bands + 1)

    @property
    def band_bytes(self) -> float:
        # (did long, band_id int, band_hash long) + row overhead
        return self.band_rows * (8 + 4 + 8 + ROW_OVERHEAD)

    @property
    def pairs(self) -> float:
        """Expected candidate pairs (measured rate)."""
        return self.n_docs * self.pairs_per_doc

    @property
    def pairs_worst_case(self) -> float:
        """Adversarial bound: every band key at the block cap — each of
        the band_rows rows pairs with at most (cap - 1) block-mates /2.
        Larger blocks are suppressed, so the cap bounds per-block pair
        work REGARDLESS of skew."""
        return self.band_rows * (self.knobs.max_block_size - 1) / 2

    @property
    def attach_bytes(self) -> float:
        """Pair-scoring shuffle under the prune-first flow (r5 session 3):
        every candidate ships only (len, 96-bucket int hist) per side,
        and the doc BYTES join only the prune survivors.  Survivor ratio
        measured at bench scale 16: 66,166 / 1,460,319 candidates
        (histogram prune drops 95.5%); projected at 2x that, i.e. ~9%,
        to stay conservative for corpora with weaker byte-histogram
        contrast."""
        attr_per_pair = 2 * (96 * 4 + 8 + 8) + ROW_OVERHEAD
        text_per_pair = 2 * (self.avg_doc_bytes + 8) + ROW_OVERHEAD
        survivor_ratio = 2 * CAL["prune_survivor_ratio"]
        return self.pairs * (attr_per_pair + survivor_ratio * text_per_pair)

    @property
    def edges(self) -> float:
        return self.n_docs * self.edges_per_doc

    @property
    def cc_iteration_bytes(self) -> float:
        """One large-star/small-star round shuffles ~2 rows/edge of
        (long, long)."""
        return self.edges * 2 * (16 + ROW_OVERHEAD)

    @property
    def cc_distributed(self) -> bool:
        return self.edges > self.knobs.cc_gate_edges

    # --- partitioning -------------------------------------------------

    def partitions_for(self, stage_bytes: float) -> int:
        return max(1, math.ceil(stage_bytes / (self.cluster.target_partition_mb * (1 << 20))))

    def stage_table(self) -> list[dict]:
        c = self.cluster
        rows = []
        for name, nbytes, cardinality in (
            ("canonicalize shuffle", self.corpus_bytes, self.n_turns),
            ("band table", self.band_bytes, self.band_rows),
            ("pair scoring shuffle", self.attach_bytes, self.pairs),
            ("cc iteration shuffle", self.cc_iteration_bytes, self.edges),
        ):
            parts = self.partitions_for(nbytes)
            per_part = nbytes / parts
            rows.append(
                {
                    "stage": name,
                    "rows": cardinality,
                    "bytes": nbytes,
                    "partitions": parts,
                    "partition_bytes": per_part,
                    "waves": math.ceil(parts / c.total_cores),
                    "fits_task_budget": per_part <= c.task_budget_bytes,
                }
            )
        return rows

    def check_envelope(self) -> list[str]:
        """Every violated invariant, empty when the plan fits."""
        problems = []
        for r in self.stage_table():
            if not r["fits_task_budget"]:
                problems.append(
                    f"{r['stage']}: partition {r['partition_bytes'] / 1e6:.0f} MB "
                    f"> task budget {self.cluster.task_budget_bytes / 1e6:.0f} MB"
                )
        # the Python DP/fingerprint workers are cache-resident by design:
        # kernels.fingerprints_flat's default batch_bytes (2 MiB) and the
        # <=512-pair int16 DP chunks are orders below the task budget —
        # assert the constants stay sane
        if 2 * (1 << 21) > self.cluster.task_budget_bytes:
            problems.append("fingerprint batch exceeds task budget")
        if self.pairs_worst_case < self.pairs:
            problems.append("measured pairs exceed the cap-derived worst case")
        return problems


def _fmt(v: float) -> str:
    for unit, div in (("PB", 1e15), ("TB", 1e12), ("GB", 1e9), ("MB", 1e6)):
        if v >= div:
            return f"{v / div:.2f} {unit}"
    return f"{v:.0f} B"


def render_markdown() -> str:
    out = [
        "# SCALE_PROJECTION — ER pipeline at 10/100 TB (generated by "
        "scripts/scale_projection.py)",
        "",
        "Calibrated on measured sf0.1 rates (see script docstring); the "
        "dup-rate there (~45% of docs pair) is far above web-corpus "
        "reality, so pair/edge projections are conservative.",
        "",
    ]
    for label, turns, cluster in (
        ("sf0.1 calibration (8 cores)", 60947, Cluster(executors=1, cores_per_executor=8, executor_mem_gb=8)),
        ("10 TB / 10^11 turns (250 exec x 4 cores)", 1e11, Cluster(executors=250)),
        ("100 TB / 10^12 turns (1000 exec x 4 cores)", 1e12, Cluster()),
    ):
        p = Projection(n_turns=turns, cluster=cluster)
        out.append(f"## {label}")
        out.append("")
        out.append(
            f"docs {p.n_docs:.3g} · corpus {_fmt(p.corpus_bytes)} · "
            f"edges {p.edges:.3g} ({'distributed CC' if p.cc_distributed else 'driver union-find gate'})"
        )
        out.append("")
        out.append("| stage | rows | bytes | partitions | bytes/part | waves | fits |")
        out.append("|---|---|---|---|---|---|---|")
        for r in p.stage_table():
            out.append(
                f"| {r['stage']} | {r['rows']:.3g} | {_fmt(r['bytes'])} | "
                f"{r['partitions']} | {_fmt(r['partition_bytes'])} | "
                f"{r['waves']} | {'yes' if r['fits_task_budget'] else 'NO'} |"
            )
        probs = p.check_envelope()
        out.append("")
        out.append(
            "Envelope: **clean**" if not probs else "Envelope problems: " + "; ".join(probs)
        )
        out.append("")
    out.append(
        "Worst-case pair bound (cap-governed, skew-independent): "
        f"{Projection(n_turns=1e12).pairs_worst_case:.3g} pairs at 100 TB — "
        "the block cap makes the scoring stage's size a function of the "
        "CAP, not of key skew.  Since the fused block_pairs plan, pair "
        "generation is in-array per block (one groupBy shuffle; the "
        "window cap drops oversize blocks BEFORE any list is collected, "
        "bounding both aggregation-state memory and per-task emission at "
        "cap and cap^2 respectively) — there is no pair self-join left "
        "to skew, and no block is salted.  AQE handles residual "
        "partition imbalance.  Knob: max_block_size bounds per-block pair "
        "work and DP — larger blocks are suppressed."
    )
    out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    md = render_markdown()
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_PROJECTION.md")
    with open(path, "w") as f:
        f.write(md)
    print(md)
