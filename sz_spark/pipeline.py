"""End-to-end record-linkage pipeline (BASELINE.json north_rule):

transcripts -> canonicalize -> doc features (MinHash fingerprints in
the reference math, LSH band keys, prune histograms) -> blocks with
stop-band suppression -> length + histogram prune -> banded-DP
edit-similarity scoring -> threshold -> connected components -> entity
clusters.

Each stage is resumable via CheckpointManager.  The BASELINE.json
pairwise F1 is measured by tests/test_pipeline.py test_f1_gate with
tests/oracles.py evaluate_pairs, not by a stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sz_spark import blocking, canonicalize as canon, clustering, scoring
from sz_spark.lineage import CheckpointManager


@dataclass
class PipelineConfig:
    """The knobs an entry point sets; the blocking parameters are
    constants of sz_spark.blocking (N_BANDS x ROWS_PER_BAND = NDIM)."""

    # true variants sit >= 0.96, cross-entity pairs <= 0.905 by the salt
    # construction (sz_spark.transcripts docstring) — 0.94 splits with
    # guaranteed margin on both sides
    threshold: float = 0.94
    # the block-size cap: blocks of more than max_block_size members
    # are suppressed as stop-bands (listed by blocking.suppressed_blocks);
    # every smaller block emits all its pairs in-array, unsalted
    # (blocking.block_pairs); None means uncapped
    max_block_size: int | None = 1024
    # unread by the library (no block is salted); perfbench's funnel
    # still takes max(salt_up_to, max_block_size) as the cap
    salt_up_to: int = 0
    checkpoint_dir: str | None = None
    cc_max_iterations: int = 20


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Returns {'docs', 'doc_features', 'pairs', 'scored', 'clusters'}.

    ``doc_features`` holds the per-doc block keys and prune attributes
    (blocking.doc_features); blocking.suppressed_blocks lists the
    stop-band blocks from them on demand.  ``pairs`` holds the
    candidate pairs (surrogate ``did`` ids, id_a < id_b) that SURVIVE
    the length + histogram prune — on both tiers, so a ``pairs``
    checkpoint resumes straight into scoring; the raw deduplicated
    candidate set is never materialized.  ``scored`` holds those pairs'
    edit distances and similarities under conv_ids."""
    cfg = cfg or PipelineConfig()
    ckpt = CheckpointManager(spark, cfg.checkpoint_dir)

    # Long surrogate key for every shuffle-heavy stage: the band table
    # and the candidate-pair set are shuffled several times each, and a
    # string conv_id costs ~3x the bytes of a long in UnsafeRow format.
    # xxhash64 is deterministic across runs/executors; the collision
    # probability for n docs is n^2/2^65 (~2e-9 at 1M docs), and
    # pairs_stage makes one fail loudly.  conv_id comes back only where
    # the texts join the (small) prune-survivor set, and in the clusters.
    docs = ckpt.stage(
        "canonical_docs",
        lambda: canon.canonicalize(transcripts).withColumn(
            "did", F.xxhash64("conv_id")
        ),
    )

    # Fused per-document features: block keys + prune len/histogram from
    # ONE Python pass over the corpus (blocking.doc_features) — the
    # text crosses the JVM->Python boundary once, and the checkpoint
    # stores the narrow 133k-row feature table instead of the exploded
    # band table.
    feats = ckpt.stage(
        "doc_features", lambda: blocking.doc_features(docs, id_col="did")
    )

    # the gather tier's broadcast, released (executor blocks) once
    # `pairs` is materialized or has failed — the checkpoint truncates
    # the lineage, so nothing re-executes the kernel that captured it;
    # unpersist (not destroy) keeps the driver copy as a safety net
    gather_bcs: list = []

    def _pairs():
        out, bcs = pairs_stage(feats, cfg)
        gather_bcs.extend(bcs)
        return out

    try:
        pairs = ckpt.stage("pairs", _pairs)
    finally:
        for bc in gather_bcs:
            bc.unpersist()

    scored = ckpt.stage("scored", lambda: scored_stage(pairs, docs, cfg))

    edges = scored.filter(F.col("sim") >= cfg.threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc_ckpt = (
        (lambda df, i: ckpt.materialize(f"cc_iter_{i}", df))
        if cfg.checkpoint_dir
        else None
    )
    assignments = clustering.connected_components(
        edges, max_iterations=cfg.cc_max_iterations, checkpoint=cc_ckpt
    )
    clusters = ckpt.stage(
        "clusters",
        lambda: clustering.clusters_with_singletons(assignments, docs, "conv_id"),
    )

    return {
        "docs": docs,
        "doc_features": feats,
        "pairs": pairs,
        "scored": scored,
        "clusters": clusters,
    }


def pairs_stage(feats: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, list]:
    """run_pipeline's ``pairs`` stage frame — the prune survivors (did
    ids, id_a < id_b) — and the broadcasts it captured, to unpersist
    once the frame is materialized.  Raises on a did collision before
    it returns, so a collision never leaves a ``pairs`` checkpoint.

    Two tiers (scoring.py "Gathered" block).  Below the gate every
    doc's prune attributes and block keys ship ONCE per worker, and
    blocking.block_pairs_gathered rebuilds the blocks from those keys
    in one narrow pass (no band rows, no exchange): each candidate
    leaves exactly one block and is pruned in the same pass; the
    broadcast's sorted ids show a collision as a repeat.  Beyond the
    gate (SZ_GATHER_MAX_DOCS=0 puts every non-empty corpus there) one
    aggregate over ``feats`` checks the ids, the band rows are shuffled
    into blocks, the candidates deduplicated, and their (len, hist)
    joined on.  Both tiers keep the identical pair set
    (tests/test_pipeline.py parity tests)."""
    if scoring.gather_gate(feats):
        prune_bc = scoring.build_prune_broadcast(feats)
        ids = prune_bc.value[0]  # id-sorted: a collision is a repeat
        try:
            _check_surrogate_keys(len(ids), len(ids) - int((ids[1:] == ids[:-1]).sum()))
        except RuntimeError:
            prune_bc.unpersist()
            raise
        pairs = blocking.block_pairs_gathered(
            feats.sparkSession, prune_bc, cfg.threshold, cfg.max_block_size
        )
        return pairs, [prune_bc]
    # doc_features emits one row per canonical doc, and canonicalize
    # one per conv_id, so count(*) == countDistinct(did) iff no collision
    row = feats.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(F.col("did")).alias("n_did")
    ).collect()[0]
    _check_surrogate_keys(row["n"], row["n_did"])
    candidates = blocking.block_pairs(
        blocking.bands_from_features(feats, id_col="did"),
        id_col="did", max_block_size=cfg.max_block_size,
    )
    # prune BEFORE attaching texts: the prunes need only (len, hist)
    # per side and drop ~95% of candidates; the doc bytes join only the
    # survivors (measured funnel in scoring.attach_prune_attrs)
    attrs = scoring.attach_prune_attrs(
        candidates, feats.select("did", "len", "hist")
    )
    return scoring.prune_pairs_arrow(attrs, cfg.threshold), []


def scored_stage(pairs: DataFrame, docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """run_pipeline's ``scored`` stage frame: the pairs' edit distances
    and similarities under conv_ids.  conv_id rides through the two
    text joins on did (scoring.attach_texts ``carry``), so no join maps
    the surrogates back."""
    with_texts = scoring.attach_texts(pairs, docs, id_col="did", carry=("conv_id",))
    return scoring.score_pairs(with_texts, bounded=cfg.threshold).select(
        F.col("conv_id_a").alias("id_a"),
        F.col("conv_id_b").alias("id_b"),
        "edit_distance",
        "sim",
    )


def _check_surrogate_keys(n_docs: int, n_distinct: int) -> None:
    """A did collision would silently merge two conversations through
    blocking/scoring and FAN OUT rows where the texts join on did —
    corrupting clusters instead of erroring — so fail loudly."""
    if n_docs != n_distinct:
        raise RuntimeError(
            f"xxhash64(conv_id) surrogate-key collision: {n_docs} docs "
            f"-> {n_distinct} distinct dids; rerun with a string key "
            "or a salted surrogate"
        )
