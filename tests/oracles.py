"""Reference implementations the differential tests compare production
operators against, and the measures that only tests take.  Each
reference computes the same values as its production counterpart by a
different route — Spark expressions where production runs an Arrow
batch, plain Python/NumPy on the driver, the full DP where production
runs a banded one, or a scalar or width-grouped loop where
sz_spark.kernels runs a fused NumPy kernel.  ``evaluate_pairs`` scores a
pipeline run against ground truth.  Nothing here runs in the pipeline
or the query registry.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sz_spark.kernels import (
    MAX_HASH_U32,
    FingerprintParams,
    fingerprint_params,
    levenshtein_batch,
)
from sz_spark.textops import word_shingles


def shingle_minhash_bands_exprs(
    docs: DataFrame,
    text_col: str = "doc",
    id_col: str = "conv_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """blocking.shingle_minhash_bands in Spark expressions: the md5
    signatures through higher-order-function lambdas over
    textops.word_shingles."""
    rows_per_band = n_hashes // n_bands
    d = docs.select(
        id_col, word_shingles(text_col, shingle_words).alias("shingles")
    ).filter(F.size("shingles") > 0)
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("shingles"),
                lambda s: F.md5(F.concat(F.lit(f"{k}|"), s)),
            )
        ).alias(f"mh_{k}")
        for k in range(n_hashes)
    ]
    sigs = d.select(id_col, *sig_cols)
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    return sigs.select(id_col, *band_cols)


def distinct_shingles_exprs(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """dedup._distinct_shingles_exploded in Spark expressions."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("sh"),
    )


def explode_lower_triangle_exprs(
    blocks: DataFrame, ids_col: str = "ids", out: tuple = ("id_a", "id_b")
) -> DataFrame:
    """blocking.explode_lower_triangle in Spark expressions: two chained
    explodes (each element with the slice of later elements), each pair
    ordered by least/greatest, which order structs
    field-lexicographically."""
    ids = F.col(ids_col)
    halves = blocks.select(
        F.explode(
            F.transform(
                ids,
                lambda x, i: F.struct(
                    x.alias("lhs"),
                    F.slice(ids, i + F.lit(2), F.size(ids)).alias("rest"),
                ),
            )
        ).alias("h")
    )
    return halves.select(
        F.col("h.lhs").alias("_lhs"), F.explode("h.rest").alias("_rhs")
    ).select(
        F.least("_lhs", F.col("_rhs")).alias(out[0]),
        F.greatest("_lhs", F.col("_rhs")).alias(out[1]),
    )


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(x):
    return F.sqrt(
        F.aggregate(F.transform(x, lambda p: p * p), F.lit(0.0), lambda a, v: a + v)
    )


def cosine_exprs(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "_cos_raw"
) -> DataFrame:
    """ann.attach_cosine_arrow in Spark expressions: the same
    left-to-right f64 accumulation through aggregate lambdas."""
    return df.withColumn(
        out_col,
        _dot(F.col(a_col), F.col(b_col))
        / (_norm(F.col(a_col)) * _norm(F.col(b_col))),
    ).drop(a_col, b_col)


def embedding_near_pairs(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Brute-force cosine near-dup pairs: the quadratic baseline that
    dedup.embedding_near_pairs_lsh's recall is checked against.  f64 on
    both sides (f32 noise would poke through the 6-decimal rounding)."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a, b = F.col("a.embedding"), F.col("b.embedding")
    return (
        e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def byte_histogram(text: str | None) -> list[int]:
    """The 96 counts of bytes 0x20..0x7F in ``text``'s UTF-8 encoding."""
    data = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
    return np.bincount(data, minlength=256)[32:128].tolist()


def prune_attrs_frame(
    spark, docs: DataFrame, id_col: str = "conv_id", text_col: str = "doc"
) -> DataFrame:
    """(id, len, hist array<int>) per document, computed on the driver
    from the collected texts — unclamped :func:`byte_histogram` counts
    and Python's codepoint length."""
    rows = [
        (r[0], len(r[1] or ""), byte_histogram(r[1]))
        for r in docs.select(id_col, text_col).collect()
    ]
    id_type = docs.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        rows, f"{id_col} {id_type}, len int, hist array<int>"
    )


def length_prune(pairs: DataFrame, threshold: float) -> DataFrame:
    """Drop pairs whose length gap alone caps similarity below τ."""
    max_len = F.greatest("len_a", "len_b")
    min_len = F.least("len_a", "len_b")
    return pairs.filter(
        (max_len - min_len) <= ((F.lit(1.0) - F.lit(threshold)) * max_len)
    )


def histogram_prune(pairs: DataFrame, threshold: float) -> DataFrame:
    """Drop pairs whose halved histogram L1 caps similarity below τ,
    over array<int> histograms (hist_a, hist_b)."""
    l1 = F.aggregate(
        F.zip_with("hist_a", "hist_b", lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    max_len = F.greatest("len_a", "len_b")
    return pairs.filter(
        (l1 / 2) <= ((F.lit(1.0) - F.lit(threshold)) * max_len)
    ).drop("hist_a", "hist_b")


def union_find_local(edge_rows: list[tuple[str, str]]) -> dict[str, str]:
    """Dict union-find with path compression and min-id roots, one edge
    at a time: the per-edge twin of clustering._components_local (the
    driver tier of clustering.connected_components)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for s, d in edge_rows:
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    return {x: find(x) for x in parent}


# ---------------------------------------------------------------------------
# independent twins of the NumPy kernels in sz_spark.kernels
# ---------------------------------------------------------------------------


def fingerprint_padded_batch_grouped(
    batch: list[bytes], params: FingerprintParams
) -> tuple[np.ndarray, np.ndarray]:
    """Width-group-major batch kernel over a length-ASCENDING batch.
    Round-1 production path, retained as a structurally independent
    differential twin of the fused kernel (tests assert equality).

    Three structural speedups over a naive loop, all exactness-preserving:

    * dims sharing a window width process together, so the discarded-byte
      gather is ONE padded column per step (not a per-dim fancy index);
    * the modular reduction is the reference's own f64 Barrett pass
      (floor-multiply by 1/m + clamp) — proven == integer ``x mod m``
      because every intermediate stays an exact integer < 2^53
      (fingerprints/serial.hpp:489-508; cross-checked in tests against
      both the big-int and the IEEE-mirror oracles).  f64 multiply+floor
      vectorizes ~10x faster than uint64 division in NumPy;
    * the batch arrives sorted by length, so rows still active at byte
      position p form a contiguous SUFFIX — updates run on slices, no
      masks anywhere in the hot loop.
    """
    b = len(batch)
    ndim = params.ndim
    lengths = np.asarray([len(t) for t in batch], dtype=np.int64)
    assert b == 0 or (np.diff(lengths) >= 0).all(), "batch must be length-sorted"
    max_len = int(lengths.max()) if b else 0
    widths = params.widths  # (D,) int64

    terms = np.zeros((b, max_len + 1), dtype=np.float64)
    for i, t in enumerate(batch):
        if t:
            terms[i, : len(t)] = np.frombuffer(t, dtype=np.uint8)
    terms += 1.0  # byte + 1, exact in f64

    sentinel = np.float64(2.0**60)  # larger than any state < 2^42
    hashes = np.full((b, ndim), MAX_HASH_U32, dtype=np.uint32)
    counts = np.zeros((b, ndim), dtype=np.uint32)

    for w in np.unique(widths):
        dims = np.nonzero(widths == w)[0]
        mult = params.mult[dims].astype(np.float64)[None, :]  # (1, G)
        mod = params.mod[dims].astype(np.float64)[None, :]
        inv_mod = 1.0 / mod
        disc = params.disc[dims].astype(np.float64)[None, :]
        g = len(dims)
        w = int(w)
        state = np.zeros((b, g), dtype=np.float64)
        minv = np.full((b, g), sentinel, dtype=np.float64)
        count = np.zeros((b, g), dtype=np.float64)

        def barrett(x, m, im):
            r = x - np.floor(x * im) * m
            r += m * (r < 0.0)
            r -= m * (r >= m)
            return r

        prefix_end = min(w, max_len)
        for p in range(prefix_end):
            k = int(np.searchsorted(lengths, p, side="right"))
            s = state[k:]
            x = s * mult + terms[k:, p][:, None]
            state[k:] = barrett(x, mod, inv_mod)
        # boundary: first full window (texts with length >= w)
        j0 = int(np.searchsorted(lengths, w, side="left"))
        minv[j0:] = state[j0:]
        count[j0:] = 1.0

        for p in range(w, max_len):
            k = int(np.searchsorted(lengths, p, side="right"))
            s = state[k:]
            x = s * mult + terms[k:, p][:, None] + disc * terms[k:, p - w][:, None]
            s = barrett(x, mod, inv_mod)
            state[k:] = s
            mv = minv[k:]
            c = count[k:]
            c *= s >= mv
            c += s <= mv
            np.minimum(mv, s, out=mv)

        set_mask = minv < sentinel
        hashes[:, dims] = np.where(
            set_mask,
            minv.astype(np.uint64) & np.uint64(MAX_HASH_U32),
            np.uint64(MAX_HASH_U32),
        ).astype(np.uint32)
        counts[:, dims] = np.where(set_mask, count, 0.0).astype(np.uint32)

    return hashes, counts



def fingerprint_one_scalar(
    text: bytes, ndim: int = 128, widths: Sequence[int] | None = None, seed: int = 0
) -> tuple[list[int], list[int]]:
    """Slow, independent scalar oracle in pure-Python big-int arithmetic.

    Used only by tests to cross-check kernels.fingerprints (the same
    differential-testing strategy as the reference's in-test NumPy
    Wagner-Fischer oracle, test/similarities.py:48-66).
    """
    params = fingerprint_params(ndim, widths, seed)
    out_h, out_c = [], []
    data = list(text)
    for d in range(ndim):
        w = int(params.widths[d])
        m = int(params.mod[d])
        mul = int(params.mult[d])
        if len(data) < w:
            out_h.append(MAX_HASH_U32)
            out_c.append(0)
            continue
        state = 0
        for i in range(w):
            state = (state * mul + data[i] + 1) % m
        best, cnt = state, 1
        for i in range(w, len(data)):
            state = (state * mul + data[i] + 1 - (data[i - w] + 1) * pow(mul, w, m)) % m
            if state < best:
                best, cnt = state, 1
            elif state == best:
                cnt += 1
        out_h.append(best & MAX_HASH_U32)
        out_c.append(cnt)
    return out_h, out_c


def fingerprint_one_f64(
    text: bytes, ndim: int = 128, widths: Sequence[int] | None = None, seed: int = 0
) -> tuple[list[int], list[int]]:
    """IEEE-f64 mirror of the reference's floating path, for conformance.

    Follows the exact op sequence of fingerprints/serial.hpp:1240-1264
    (two-reduction roll with the negative discarding multiplier and the
    clamped Barrett mod of :1309-1321).  Tests assert it agrees with the
    uint64 production path bit-for-bit, evidencing that our integers ARE
    the reference's f64 states.
    """
    params = fingerprint_params(ndim, widths, seed)
    out_h, out_c = [], []
    data = list(text)
    for d in range(ndim):
        w = int(params.widths[d])
        m = float(params.mod[d])
        mul = float(params.mult[d])
        inv_m = 1.0 / m
        neg_disc = 1.0
        for _ in range(w - 1):
            neg_disc = np.fmod(neg_disc * mul, m)
        neg_disc = -neg_disc

        def barrett(x: float) -> float:
            q = np.floor(x * inv_m)
            r = x - q * m
            r += m * (r < 0.0)
            r -= m * (r >= m)
            return float(r)

        if len(data) < w:
            out_h.append(MAX_HASH_U32)
            out_c.append(0)
            continue
        state = 0.0
        for i in range(w):
            state = barrett(state * mul + (data[i] + 1.0))
        best, cnt = state, 1
        for i in range(w, len(data)):
            state = barrett(neg_disc * (data[i - w] + 1.0) + state)
            state = barrett(state * mul + (data[i] + 1.0))
            cnt = cnt * (state >= best) + (state <= best)
            best = min(best, state)
        out_h.append(int(best) & MAX_HASH_U32)
        out_c.append(int(cnt))
    return out_h, out_c



def levenshtein_scalar(a: bytes, b: bytes) -> int:
    """Slow Wagner-Fischer oracle for tests — mirrors the reference's own
    in-test baseline (test/similarities.py:48-66)."""
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(a) + 1))
    for i, cb in enumerate(b, 1):
        cur = [i] + [0] * len(a)
        for j, ca in enumerate(a, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        prev = cur
    return prev[-1]


def gotoh_scalar(
    a: bytes,
    b: bytes,
    sub,
    gap_open: int,
    gap_extend: int,
    minimize: bool,
    local: bool,
) -> int:
    """Slow full-Gotoh (explicit E/F/H) oracle — validates the vectorized
    kernel's no-reopen shortcut."""
    big = 1 << 40
    worst = big if minimize else -big
    pick = min if minimize else max
    la, lb = len(a), len(b)
    H = [[0] * (la + 1) for _ in range(lb + 1)]
    E = [[worst] * (la + 1) for _ in range(lb + 1)]
    F = [[worst] * (la + 1) for _ in range(lb + 1)]
    if not local:
        for j in range(1, la + 1):
            H[0][j] = gap_open + gap_extend * (j - 1)
        for i in range(1, lb + 1):
            H[i][0] = gap_open + gap_extend * (i - 1)
    best = 0
    for i in range(1, lb + 1):
        for j in range(1, la + 1):
            E[i][j] = pick(H[i][j - 1] + gap_open, E[i][j - 1] + gap_extend)
            F[i][j] = pick(H[i - 1][j] + gap_open, F[i - 1][j] + gap_extend)
            h = pick(pick(E[i][j], F[i][j]), H[i - 1][j - 1] + sub(a[j - 1], b[i - 1]))
            if local:
                h = max(h, 0)
                best = max(best, h)
            H[i][j] = h
    return best if local else H[lb][la]


def normalized_edit_similarity(a: list[bytes], b: list[bytes]) -> np.ndarray:
    """``1 - dist/max(len)`` by the full DP, and 1.0 for two empty
    strings: scoring.score_pairs' ``sim``."""
    if not a:
        return np.zeros(0, dtype=np.float64)
    dist = levenshtein_batch(a, b).astype(np.float64)
    denom = np.maximum([len(x) for x in a], [len(x) for x in b]).astype(np.float64)
    return np.where(denom == 0, 1.0, 1.0 - dist / np.maximum(denom, 1.0))


def evaluate_pairs(
    scored: DataFrame,
    docs_with_entity: DataFrame,
    threshold: float,
) -> dict[str, float]:
    """Pairwise P/R/F1 on labeled pairs at the pipeline's blocking key.

    A candidate pair is labeled positive iff both conversations derive
    from the same ground-truth entity; predicted positive iff sim >= τ.
    Recall additionally counts ground-truth pairs the blocking missed
    (they are false negatives even though never scored).
    """
    ent = docs_with_entity.select("conv_id", "entity_id")
    labeled = (
        scored.join(ent.withColumnRenamed("conv_id", "id_a"), "id_a")
        .withColumnRenamed("entity_id", "ent_a")
        .join(ent.withColumnRenamed("conv_id", "id_b"), "id_b")
        .withColumnRenamed("entity_id", "ent_b")
        .withColumn("label", (F.col("ent_a") == F.col("ent_b")).cast("int"))
        .withColumn("pred", (F.col("sim") >= threshold).cast("int"))
    )
    agg = labeled.agg(
        F.sum(F.col("label") * F.col("pred")).alias("tp"),
        F.sum((1 - F.col("label")) * F.col("pred")).alias("fp"),
        F.sum(F.col("label") * (1 - F.col("pred"))).alias("fn_scored"),
    ).collect()[0]
    tp = agg["tp"] or 0
    fp = agg["fp"] or 0
    fn = agg["fn_scored"] or 0

    # ground-truth pairs missed by blocking entirely
    total_true = (
        ent.groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("t"))
        .collect()[0]["t"]
        or 0
    )
    fn_missed = int(total_true) - tp - fn
    fn_total = fn + max(fn_missed, 0)

    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn_total) if tp + fn_total else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": float(tp),
        "fp": float(fp),
        "fn": float(fn_total),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }

