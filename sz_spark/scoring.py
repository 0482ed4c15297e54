"""Pairwise scoring of candidate pairs.

Scores run in an Arrow-batched mapInArrow over the batched-DP kernels
(sz_spark.kernels) — the reference's candidate-lane design
(similarities/serial.hpp:613-693) with the Arrow batch as the lane axis.

Scale notes:
* the texts join onto the prune SURVIVORS only — sort-merge joins on
  the surrogate ``did`` against the (much smaller) canonical-docs
  table; the texts are NEVER carried through the band explosion (that
  would multiply text bytes by n_bands in the shuffle).
* a length-difference + byte-histogram prune (arrow_kernels.prune_keep)
  runs before the DP, in a Python Arrow pass on both tiers
  (prune_pairs_arrow above the gather gate,
  blocking.block_pairs_gathered below it): |len(a)-len(b)| /
  max(len) > 1-τ already bounds similarity below τ (edit distance ≥
  length difference), and so does half the histogram L1, so those
  pairs never reach the DP.  This mirrors the reference's algorithm
  tiering by input size (serial.hpp:2948-2994).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# module-level on purpose: importing the pipeline loads the kernels
# here, not inside its first (timed) run
from sz_spark.arrow_kernels import (
    arrow_from_numpy,
    make_bounded_lev_arrow_fn,
    numpy_view,
    prune_keep,
    unpack_histograms,
)


def attach_texts(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "doc",
    carry: tuple = (),
) -> DataFrame:
    """pairs(id_a, id_b) ⋈ docs -> (id_a, id_b, doc_a, doc_b, len_a,
    len_b), plus ``<c>_a`` / ``<c>_b`` for each docs column ``c`` in
    ``carry`` (the pipeline carries conv_id through the same two joins
    instead of joining it back on after scoring)."""
    cols = [(F.col(id_col), "id"), (F.col(text_col), "doc"),
            (F.length(text_col), "len")] + [(F.col(c), c) for c in carry]
    out = pairs
    for side in ("a", "b"):
        slim = docs.select(*(e.alias(f"{name}_{side}") for e, name in cols))
        out = out.join(slim, f"id_{side}")
    return out


def attach_prune_attrs(pairs: DataFrame, attrs_frame: DataFrame) -> DataFrame:
    """pairs(id_a, id_b) ⋈ attrs -> + (len_a, len_b, hist_a, hist_b):
    the prune-only attributes, WITHOUT the texts.  ``attrs_frame`` is an
    (id, len, hist) frame — ``blocking.doc_features`` sliced to those
    columns, so one Python pass over the corpus serves both blocking
    and pruning; ``hist`` is the packed 192-byte blob
    (arrow_kernels.pack_histograms), ~55% fewer bytes through the two
    pair joins than an array<int> in UnsafeRow format.

    The join tier attaches these first, prunes, and only then attaches
    texts (attach_texts) to the survivors.  Measured funnel at bench
    scale 16 (133k docs, avg 666 B): 1.46M candidate pairs, of which
    the histogram prune drops 95.5% — attaching texts up front shuffled
    ~1.3 KB of doc bytes per candidate (2x666 B) that the prune then
    discarded, ~2/3 of the scored-stage join traffic."""
    cols = attrs_frame.columns
    slim = attrs_frame.select(
        F.col(cols[0]).alias("_id"),
        F.col(cols[1]).alias("_len"),
        F.col(cols[2]).alias("_hist"),
    )
    return (
        pairs.join(slim.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnRenamed("_len", "len_a")
        .withColumnRenamed("_hist", "hist_a")
        .join(slim.withColumnRenamed("_id", "id_b"), "id_b")
        .withColumnRenamed("_len", "len_b")
        .withColumnRenamed("_hist", "hist_b")
    )


def prune_pairs_arrow(attrs: DataFrame, threshold: float) -> DataFrame:
    """Fused length + histogram prune over the prune-attr frame
    (:func:`attach_prune_attrs`) — returns the surviving (id_a, id_b).

    The bounds are arrow_kernels.prune_keep's, evaluated vectorized in a
    mapInArrow batch: the same decisions as the gather tier's in-pass
    prune.  The Spark-expression form walked two interpreted
    zip_with/aggregate lambdas over 96 bins per candidate pair — at the
    probe's 1.46M candidates that was the pipeline's largest remaining
    interpreted surface (guide §4.2), and it re-paid the JIT-warmup
    cliff per fresh JVM; tests/ keeps it as the oracle."""
    from pyspark.sql import types as T

    src = attrs.select("id_a", "id_b", "len_a", "len_b", "hist_a", "hist_b")
    out_schema = T.StructType([src.schema["id_a"], src.schema["id_b"]])

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            lens = np.concatenate([numpy_view(batch.column(i)) for i in (2, 3)])
            hists = np.concatenate(
                [unpack_histograms(batch.column(i)) for i in (4, 5)]
            )
            rows = np.arange(n)
            keep = prune_keep(lens, hists, rows, rows + n, threshold)
            idx = arrow_from_numpy(np.nonzero(keep)[0].astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(idx), batch.column(1).take(idx)],
                ["id_a", "id_b"],
            )

    return src.mapInArrow(fn, out_schema)


# ---------------------------------------------------------------------------
# Gathered (broadcast) prune: the small-corpus fast tier
# ---------------------------------------------------------------------------
#
# The join-based prune path is the scale-correct design: per-pair
# attribute transport grows with the PAIR count and never assumes the
# doc table fits anywhere.  But when the corpus is small enough that
# its feature table fits comfortably in each Python worker, shipping
# the doc table ONCE per worker as a Spark broadcast and gathering
# per-pair attributes locally beats joining them onto every candidate
# row: at the 975k-turn probe the join path moved ~560 MB of per-pair
# histograms through two sort-merge joins plus the Arrow boundary.
# With every doc's block keys and block sizes in the same broadcast,
# blocking.block_pairs_gathered rebuilds the blocks from those keys,
# emits each candidate pair from exactly one block and prunes it in
# that pass, so the tier needs no band rows and no shuffle at all.
# This is the same two-tier trade Spark's own broadcast-hash join
# makes, and the same hybrid posture as
# clustering.connected_components' driver union-find fast path.
#
# Memory math for the default gate (SZ_GATHER_MAX_DOCS = 1M docs, 24
# bands + the prefix key): per doc the broadcast holds id 8 B + len
# 8 B + hist 192 B + 25 block keys x 8 B + 25 block sizes x 4 B =
# 508 B, so <= 508 MB at the gate.  Each Python worker process holds
# one copy while it lives, so an executor running W workers pays
# <= W x ~0.5 GB — the same per-worker budget the tier had before it
# carried keys (208 MB prune table + a 256 MB text blob, now removed),
# sized for standard 4-8 GB executors.  On top of the broadcast, a
# pairs task holds per key row the keys' argsort and its sorted copy,
# the run bounds and the kept-run positions: a few O(n) int64 arrays
# (~8 MB each at the gate), freed before the next row.  The driver
# transiently holds the collected Arrow table and the sorted arrays
# (~1 GB at the gate).
# Above the gate the join path runs unchanged (SZ_GATHER_MAX_DOCS=0
# sends every non-empty corpus there: the twin the differential tests
# compare against).


def gather_gate(feats: DataFrame) -> bool:
    """True when the corpus is small enough for the broadcast-gather
    tier (one cheap count over the — checkpointed — feature table).
    The broadcast is 508 B/doc regardless of text size, so only the doc
    count gates it (default 1M docs, SZ_GATHER_MAX_DOCS overrides); a
    malformed SZ_GATHER_MAX_DOCS raises ValueError."""
    raw = os.environ.get("SZ_GATHER_MAX_DOCS", "1000000")
    try:
        max_docs = int(raw)
    except ValueError:
        raise ValueError(
            f"SZ_GATHER_MAX_DOCS must be an integer doc count, got {raw!r}"
        ) from None
    row = feats.agg(F.count(F.lit(1)).alias("n")).collect()[0]
    return row["n"] <= max_docs


def build_prune_broadcast(feats: DataFrame):
    """Collect a :func:`blocking.doc_features` table (id, len, pk, bk,
    hist) to the driver, pack it as id-sorted NumPy arrays, and
    broadcast it for :func:`blocking.block_pairs_gathered`.

    ``value = (ids i64 (n,), char_lens i64 (n,), hists u16 (n, 96),
    keys i64 (1 + n_bands, n), sizes i32 (1 + n_bands, n))``: key row 0
    is the prefix key (band -1), row k+1 band k; ``sizes`` is the size
    of the block each key falls in (one np.unique per band — the same
    counts as block_pairs' window count).  The hist bytes are exactly
    the packed u16 blobs doc_features emits, so gathered prune
    decisions are value-identical to the join path's.  Collection is
    Arrow-native (DataFrame.toArrow); no per-row Python objects on the
    driver."""
    import numpy as np

    spark = feats.sparkSession
    ftbl = feats.select(feats.columns[0], "len", "pk", "bk", "hist").toArrow()
    n = ftbl.num_rows
    ids = ftbl.column(0).to_numpy().astype(np.int64, copy=False)
    lens = ftbl.column(1).to_numpy().astype(np.int64)
    bk_vals = np.asarray(ftbl.column(3).combine_chunks().flatten(), dtype=np.int64)
    bk_vals = bk_vals.reshape(n, len(bk_vals) // max(n, 1))
    keys = np.vstack([ftbl.column(2).to_numpy()[None, :], bk_vals.T])
    sizes = np.empty(keys.shape, dtype=np.int32)
    for j, row in enumerate(keys):
        _, inv, cnt = np.unique(row, return_inverse=True, return_counts=True)
        sizes[j] = cnt[inv]
    hists = unpack_histograms(ftbl.column(4).combine_chunks())
    order = np.argsort(ids, kind="stable")
    return spark.sparkContext.broadcast(
        (
            ids[order],
            lens[order],
            hists[order],
            np.ascontiguousarray(keys[:, order]),
            np.ascontiguousarray(sizes[:, order]),
        )
    )


def score_pairs(pairs_with_texts: DataFrame, bounded: float) -> DataFrame:
    """(*carry, doc_a, doc_b, len_a, len_b) -> (*carry, edit_distance,
    sim), sim = 1 - edit_distance / max(len_a, len_b), and 1.0 for two
    empty docs (two equal strings; the division would raise
    DIVIDE_BY_ZERO under ANSI mode).

    The banded DP is exact below the τ = ``bounded`` bound (~10x cheaper
    than the full DP); a pair beyond its own bound comes back as
    ``int((1-τ) * max byte length) + 2`` whatever shares its Arrow batch
    (arrow_kernels.make_bounded_lev_arrow_fn), so the rows do not depend
    on partitioning or batch size.  The worker reads the
    binary columns' flat buffers straight into the DP — no pandas
    Series, no per-row bytes objects — and the output deliberately
    DROPS doc_a/doc_b: shipping the texts back JVM-side would double
    the Arrow transfer for columns no consumer reads.
    """
    from pyspark.sql import types as T

    # Round-robin before the DP, always: the pairs arrive hash-partitioned
    # by attach_texts' join key, so one hot document's pairs (whose DP
    # cost scales with its length) share one partition — measured ~2 s
    # of straggler wall at 8 cores without it.  The width is the one
    # those joins produce, spark.sql.shuffle.partitions, capped at 4x
    # cores (a wider fan-out only multiplies Python task overhead).
    sess = pairs_with_texts.sparkSession
    width = min(
        4 * sess.sparkContext.defaultParallelism,
        int(sess.conf.get("spark.sql.shuffle.partitions")),
    )
    pairs_with_texts = pairs_with_texts.repartition(width)
    carry = [c for c in pairs_with_texts.columns if c not in ("doc_a", "doc_b")]
    src = pairs_with_texts.select(
        *carry,
        F.encode(F.col("doc_a"), "utf-8").alias("_ba"),
        F.encode(F.col("doc_b"), "utf-8").alias("_bb"),
    )
    out_schema = T.StructType(
        [src.schema[c] for c in carry]
        + [T.StructField("edit_distance", T.LongType(), False)]
    )
    out = src.mapInArrow(make_bounded_lev_arrow_fn(bounded), out_schema)
    longer = F.greatest("len_a", "len_b").cast("double")
    return out.withColumn(
        "sim",
        F.when(longer == 0, F.lit(1.0)).otherwise(
            F.lit(1.0) - F.col("edit_distance") / longer
        ),
    )
