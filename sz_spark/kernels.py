"""Pure-NumPy, reference-conformant string kernels (importable WITHOUT Spark).

Re-implements, from the published semantics of ashvardanian/StringZilla
(v5.0.3), the math of:

* rolling-hash MinHash / Count-Min fingerprints
  (reference spec: include/stringzillas/fingerprints/serial.hpp:44-51
  splitmix64; :467-593 floating_rolling_hasher<f64>; :1114-1328 sliced
  serial core; c/stringzillas/fingerprints.cuh:42-159 width assignment)
* batched Levenshtein distances with linear or affine gap costs
  (include/stringzillas/similarities/serial.hpp:1440-1475 empty-string
  edge, :1135-1186 affine recurrences/boundaries)
* Needleman-Wunsch global and Smith-Waterman local alignment scores
  (include/stringzillas/stringzillas.h:339-472)
* Jaro-Winkler similarity (NOT in the reference — implemented to
  Winkler 1990, labeled as a pipeline-level extra)

Design note: the reference computes rolling hashes in exact-integer f64
(every intermediate provably < 2^52, see serial.hpp:489-508 asserts), so
the identical values are reproducible in uint64 modular arithmetic.  We
implement the production path in uint64 (vectorized across a batch of
texts x fingerprint dimensions); an IEEE-faithful f64 mirror in
tests/oracles.py must agree with it bit-for-bit.

All kernels are vectorized across the *batch* axis (the reference's
"candidate lane" design, similarities/serial.hpp:613-693) — the right
axis when pairs >> cores, and the one that maps onto Arrow record
batches inside mapInArrow kernels (sz_spark.arrow_kernels) and pandas
UDFs (sz_spark.udfs).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

# ---------------------------------------------------------------------------
# splitmix64 + fingerprint parameter derivation
# ---------------------------------------------------------------------------

#: Default MinHash window widths (c/stringzillas/fingerprints.cuh:42).
DEFAULT_WINDOW_WIDTHS: tuple[int, ...] = (3, 4, 5, 7, 9, 11, 15, 31)

#: Base modulo for the f64 rolling hasher (fingerprints/serial.hpp:474).
MODULO_BASE = 4_503_599_626_977

#: Dimensions per sliced hasher block (c/stringzillas/stringzillas.cuh:771).
FINGERPRINT_SLICE = 64

#: Sentinel exported for texts shorter than the window width
#: (fingerprints/serial.hpp:1183-1184, 1276-1286).
MAX_HASH_U32 = 0xFFFFFFFF

_U64 = np.uint64


def splitmix64(state):
    """Vectorized splitmix64 (fingerprints/serial.hpp:44-51 semantics).

    Accepts an int or ndarray; returns uint64 of the same shape.
    uint64 wraparound is the algorithm, not an accident — suppress the
    overflow warning locally.
    """
    with np.errstate(over="ignore"):
        z = np.asarray(state, dtype=_U64) + _U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        return z ^ (z >> _U64(31))


def dim_window_widths(ndim: int, widths: Sequence[int] | None = None) -> np.ndarray:
    """Window width per fingerprint dimension.

    Mirrors the engine-selection rule of c/stringzillas/fingerprints.cuh:
    when ``ndim`` splits evenly into 64-dim blocks per width the "sliced"
    engine assigns ``widths[block % len(widths)]`` per 64-dim block
    (:56,:63-74); otherwise the fallback engine interleaves per dimension
    ``widths[dim % len(widths)]`` (:154-159).
    """
    widths = tuple(widths) if widths else DEFAULT_WINDOW_WIDTHS
    n_w = len(widths)
    w_arr = np.asarray(widths, dtype=np.int64)
    per_width = ndim // n_w
    sliced = (ndim % n_w == 0) and (per_width % FINGERPRINT_SLICE == 0)
    dims = np.arange(ndim, dtype=np.int64)
    if sliced:
        return w_arr[(dims // FINGERPRINT_SLICE) % n_w]
    return w_arr[dims % n_w]


class FingerprintParams:
    """Per-dimension rolling-hash parameters (fingerprints/serial.hpp:555-567).

    multiplier[d] = 256 + splitmix64(seed+d) % 384          (in [256, 640))
    modulo[d]     = 4503599626977 - splitmix64(splitmix64(seed+d)) % 2^20
    disc[d]       = (modulo - multiplier^width mod modulo) mod modulo
                    — the non-negative complement folding both the head
                    removal and the shift into one fused update
                    (serial.hpp:497-506).
    """

    __slots__ = ("ndim", "seed", "widths", "mult", "mod", "disc")

    def __init__(self, ndim: int, widths: Sequence[int] | None = None, seed: int = 0):
        self.ndim = ndim
        self.seed = seed
        self.widths = dim_window_widths(ndim, widths)
        dims = np.arange(ndim, dtype=np.uint64) + _U64(seed)
        s1 = splitmix64(dims)
        self.mult = _U64(256) + s1 % _U64(384)
        self.mod = _U64(MODULO_BASE) - splitmix64(s1) % _U64(1 << 20)
        # disc = (m - mult^w mod m) mod m, via Python ints (exact pow-mod)
        disc = np.empty(ndim, dtype=_U64)
        for d in range(ndim):
            m = int(self.mod[d])
            disc[d] = (m - pow(int(self.mult[d]), int(self.widths[d]), m)) % m
        self.disc = disc


_PARAMS_CACHE: dict[tuple, FingerprintParams] = {}


def fingerprint_params(
    ndim: int, widths: Sequence[int] | None = None, seed: int = 0
) -> FingerprintParams:
    key = (ndim, tuple(widths) if widths else None, seed)
    p = _PARAMS_CACHE.get(key)
    if p is None:
        p = _PARAMS_CACHE[key] = FingerprintParams(ndim, widths, seed)
    return p


# ---------------------------------------------------------------------------
# MinHash / Count-Min fingerprints (batch, uint64 exact arithmetic)
# ---------------------------------------------------------------------------


def flat_from_bytes(texts: Sequence[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Pack a list of byte strings into the flat (data, offsets) layout
    the *_flat kernels ingest: ``data`` is every byte concatenated,
    ``offsets`` (n+1 int64) bounds text i at data[offsets[i]:offsets[i+1]].
    This is exactly Arrow's variable-binary layout, so Arrow-native
    callers (arrow_kernels.arrow_binary_flat) skip this copy entirely."""
    n = len(texts)
    offsets = np.zeros(n + 1, dtype=np.int64)
    if n:
        np.cumsum([len(t) for t in texts], out=offsets[1:])
    data = (
        np.frombuffer(b"".join(texts), dtype=np.uint8)
        if n and offsets[-1]
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offsets


def fingerprints(
    texts: Sequence[bytes],
    ndim: int = 128,
    widths: Sequence[int] | None = None,
    seed: int = 0,
    batch_bytes: int = 1 << 21,
    with_counts: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Rolling-hash MinHash + Count-Min fingerprints for a batch of texts.

    Returns ``(min_hashes, min_counts)``, both ``uint32 (n_texts, ndim)``.
    Semantics match stringzillas' ``Fingerprints(ndim, widths, seed)``
    engine (fingerprints/serial.hpp:1180-1286): per dimension ``d`` a
    Rabin-Karp rolling hash with seeded multiplier/modulo slides a
    width-``w[d]`` window over the text; the exported hash is the 32 low
    bits of the minimum state, the count is the number of windows
    attaining the minimum; texts shorter than ``w[d]`` export
    ``(0xFFFFFFFF, 0)``.

    With ``with_counts=False`` the count bookkeeping is skipped and the
    returned counts array is ALL ZEROS (never stale partial data) —
    hashes are identical either way.
    """
    data, offsets = flat_from_bytes(texts)
    return fingerprints_flat(
        data,
        offsets,
        ndim=ndim,
        widths=widths,
        seed=seed,
        batch_bytes=batch_bytes,
        with_counts=with_counts,
    )


def fingerprints_flat(
    data: np.ndarray,
    offsets: np.ndarray,
    ndim: int = 128,
    widths: Sequence[int] | None = None,
    seed: int = 0,
    batch_bytes: int = 1 << 21,
    with_counts: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`fingerprints` over the flat Arrow-style (data, offsets)
    layout — the zero-copy entry for Arrow-native UDF transport (text i
    is data[offsets[i]:offsets[i+1]]; no per-row Python objects are ever
    created).  Bit-identical to :func:`fingerprints`.

    ``batch_bytes`` caps the padded sub-batch of the NumPy fallback (the
    compiled twin ignores it): the default 2^21 keeps the working set
    L2-resident for one worker; scripts/bench_fp_kernel.py sweeps it."""
    params = fingerprint_params(ndim, widths, seed)
    offsets = np.asarray(offsets, dtype=np.int64)
    lengths = np.diff(offsets)
    n = len(lengths)
    hashes = np.full((n, ndim), MAX_HASH_U32, dtype=np.uint32)
    counts = np.zeros((n, ndim), dtype=np.uint32)
    if n == 0:
        return hashes, counts

    # Compiled twin first (sz_spark.native): identical f64 Barrett math
    # in a gcc-vectorized inner loop (~10x this kernel; guide §4.2), the
    # NumPy strip-mined path below is the reference and the fallback.
    # Bit-exactness is gated by the pinned compiled-reference vectors
    # plus the forced native-vs-NumPy differential test.
    from sz_spark import native as _native

    res = _native.fp_batch_native(
        data, offsets[:-1], lengths, params, with_counts
    )
    if res is not None:
        return res

    # Sort by length so each padded sub-batch wastes little work.
    order = np.argsort(lengths, kind="stable")
    start = 0
    while start < n:
        # grow the sub-batch until its padded matrix would exceed batch_bytes
        end = start + 1
        max_len = int(lengths[order[start]])
        while end < n:
            cand_len = max(max_len, int(lengths[order[end]]))
            if (end - start + 1) * cand_len * 8 > batch_bytes and end > start:
                break
            max_len = cand_len
            end += 1
        idx = order[start:end]
        h, c = _fp_padded_flat(
            data, offsets[idx], lengths[idx], params, with_counts=with_counts
        )
        hashes[idx] = h
        counts[idx] = c
        start = end
    return hashes, counts


def _fp_padded_flat(
    data: np.ndarray,
    starts: np.ndarray,
    lengths: np.ndarray,
    params: FingerprintParams,
    with_counts: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Fused all-dims kernel over a length-ASCENDING batch of rows
    ``data[starts[i]:][:lengths[i]]``, gathered into the padded layout in
    one vectorized step (no per-row Python in the transport).

    ``with_counts=False`` skips the count-of-min bookkeeping (3 of the
    ~13 memory passes per position) for consumers that only need the
    min-hashes — the LSH blocking path
    (arrow_kernels.make_doc_features_arrow_fn) never reads counts.  Hash values are identical either way.

    One Python step per BYTE POSITION updates all ``ndim`` dimensions at
    once (the round-1 kernel looped positions separately per width
    group — 4-8x more interpreter steps on 4-8x narrower arrays, which
    measured 0.5 MB/s/core; this layout measures 2-4x that).  Three
    phases per dimension, tracked by position vs its window width w:

    * p <  w-1 : prefix — state rolls in new bytes, no discard, no min
    * p == w-1 : boundary — first full window; min := state, count := 1
    * p >= w   : rolling — fused discard+shift update, min/count track

    Once p >= max(widths) every dimension is rolling and the hot loop
    runs branch- and mask-free: one contiguous position-row read for the
    discarded bytes (terms_t[p - w]), the fused multiply-add, the
    reference's f64 Barrett reduction, and the min/count update — all
    in-place on preallocated buffers.  Memory layout matters as much as
    op count here: terms is stored POSITION-major so per-position reads
    are contiguous, and the default batch_bytes (2^21) keeps the whole
    working set (state/minv/tmp + terms strip) L2-resident — measured
    2.0x over the row-major 2^24 layout on one core, and better 2->8-core
    scaling because cache-resident batches don't fight for DRAM
    bandwidth.  Exactness is unchanged: same op sequence per dimension,
    guarded by the uint64 == f64-mirror == big-int conformance suite
    (tests/test_kernels.py).
    """
    b = len(starts)
    ndim = params.ndim
    lengths = np.asarray(lengths, dtype=np.int64)
    assert b == 0 or (np.diff(lengths) >= 0).all(), "batch must be length-sorted"
    max_len = int(lengths.max()) if b else 0

    hashes = np.full((b, ndim), MAX_HASH_U32, dtype=np.uint32)
    counts = np.zeros((b, ndim), dtype=np.uint32)
    if b == 0 or max_len == 0:
        return hashes, counts

    # permute dims width-contiguous so the hot loop's discarded-byte term
    # is a per-group broadcast column (no (rows x ndim) gather); results
    # scatter back through `perm` at the end
    perm = np.argsort(params.widths, kind="stable")
    widths = params.widths[perm].astype(np.int64)
    groups = [
        (int(w), slice(int(i0), int(i0 + n)))
        for w, i0, n in zip(*np.unique(widths, return_index=True, return_counts=True))
    ]

    # position-major layout: terms_t[p] is the CONTIGUOUS vector of byte
    # p across the batch — the hot loop reads whole positions, and the
    # row-major (b, max_len) layout made every such read a stride-max_len
    # gather (one useful 8-byte value per 64-byte cache line)
    terms_t = np.zeros((max_len + 1, b), dtype=np.float64)
    # vectorized gather fill: terms_t[p, i] = data[starts[i] + p] for
    # p < lengths[i] — one fancy-indexed assignment instead of b
    # per-row slice copies (the masked index is computed first, so
    # out-of-range positions of shorter rows are never dereferenced)
    pos = np.arange(max_len, dtype=np.int64)[:, None]
    mask = pos < lengths[None, :]
    gidx = starts[None, :] + pos
    terms_t[:max_len][mask] = data[gidx[mask]]
    terms_t += 1.0  # byte + 1, exact in f64

    mult = params.mult[perm].astype(np.float64)[None, :]  # (1, D)
    mod = params.mod[perm].astype(np.float64)[None, :]
    # 1/mod rounded UP: the Barrett quotient t = floor(s * inv_mod) is
    # then provably in {q, q+1} for every exact-integer s < 2^52 (with
    # inv rounded up, the product is >= s/mod minus half an ulp, so the
    # floor never drops to q-1; and the error margin ~2^-41.5 cannot
    # push it past q+1).  Consequence: the reduced state sits in
    # (-mod, mod) — the >=mod clamp AND its full-array max() detection
    # pass disappear from the hot loop; only the rare negative case
    # (t = q+1, probability ~2^-41 per element) needs one min() guard.
    # Residues are bit-identical (tests/test_kernels.py conformance
    # suite + the directed-rounding boundary stress test).
    inv_mod = np.nextafter(1.0 / mod, np.inf)
    disc = params.disc[perm].astype(np.float64)[None, :]

    sentinel = np.float64(2.0**60)
    state = np.zeros((b, ndim), dtype=np.float64)
    minv = np.full((b, ndim), sentinel, dtype=np.float64)
    # count fits float32 exactly (values <= positions < 2^24)
    count = np.zeros((b, ndim), dtype=np.float32)

    # first active row per position (rows are length-ascending)
    ks = np.searchsorted(lengths, np.arange(max_len), side="right")
    max_w = int(widths.max())
    tmp = np.empty((b, ndim), dtype=np.float64)

    # --- warm-up phase: prefix/boundary/rolling coexist (p < max_w) ---
    for p in range(min(max_w, max_len)):
        k = int(ks[p])
        s = state[k:]
        s *= mult
        s += terms_t[p, k:][:, None]
        for w, sl in groups:
            if w <= p:  # rolling: discard the byte leaving the window
                s[:, sl] += disc[:, sl] * terms_t[p - w, k:][:, None]
        t = tmp[: s.shape[0]]
        np.multiply(s, inv_mod, out=t)
        np.floor(t, out=t)
        t *= mod
        s -= t
        # inv_mod rounds up => t in {q, q+1} => s in (-mod, mod): only
        # the negative branch can occur (no >=mod clamp anywhere)
        s += mod * (s < 0.0)
        for w, sl in groups:
            if w - 1 == p:  # boundary: first full window
                minv[k:, sl] = s[:, sl]
                count[k:, sl] = 1.0
            elif w <= p:  # rolling: min/count track
                s2 = s[:, sl]
                mv = minv[k:, sl]
                if with_counts:
                    c = count[k:, sl]
                    c *= s2 >= mv
                    c += s2 <= mv
                    count[k:, sl] = c
                minv[k:, sl] = np.minimum(mv, s2)

    # --- hot loop: every dimension rolling, no masks, all in-place ---
    ge_buf = np.empty((b, ndim), dtype=bool)
    for p in range(max_w, max_len):
        k = int(ks[p])
        s = state[k:]
        t = tmp[: b - k]
        s *= mult
        s += terms_t[p, k:][:, None]
        for w, sl in groups:
            tsl = t[:, sl]
            np.multiply(disc[:, sl], terms_t[p - w, k:][:, None], out=tsl)
            s[:, sl] += tsl
        np.multiply(s, inv_mod, out=t)
        np.floor(t, out=t)
        t *= mod
        s -= t
        # inv_mod rounds up => t in {q, q+1} => s in (-mod, mod); the
        # >=mod clamp and its max() detection pass are provably dead,
        # and the negative branch (t = q+1, ~2^-41 per element) costs
        # one scalar min() reduction on the common all-in-range path
        if s.min() < 0.0:
            s += mod * (s < 0.0)
        mv = minv[k:]
        if with_counts:
            c = count[k:]
            g = ge_buf[: s.shape[0]]
            np.greater_equal(s, mv, out=g)
            c *= g
            np.less_equal(s, mv, out=g)
            c += g
        np.minimum(mv, s, out=mv)

    set_mask = minv < sentinel
    hashes[:, perm] = np.where(
        set_mask,
        minv.astype(np.uint64) & _U64(MAX_HASH_U32),
        np.uint64(MAX_HASH_U32),
    ).astype(np.uint32)
    if with_counts:
        counts[:, perm] = np.where(set_mask, count, np.float32(0.0)).astype(np.uint32)
    # else: counts stay all-zero — the boundary phase wrote stale 1s into
    # `count` that are NOT real count-of-min data (ADVICE r2); zeros make
    # the "counts not computed" contract unmistakable to callers
    return hashes, counts


def merge_count_min_sketches(
    hashes_a: np.ndarray,
    counts_a: np.ndarray,
    hashes_b: np.ndarray,
    counts_b: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Associative, commutative sketch merge (fingerprints/serial.hpp:601-625):
    elementwise min of hashes; counts add where hashes tie, else the
    winning side's count.  This is exactly Spark's partial→final
    aggregation contract, enabling chunked/streaming fingerprints.
    """
    take_a = hashes_a < hashes_b
    tie = hashes_a == hashes_b
    hashes = np.where(take_a, hashes_a, hashes_b)
    counts = np.where(take_a, counts_a, np.where(tie, counts_a + counts_b, counts_b))
    return hashes, counts


# ---------------------------------------------------------------------------
# Batched pairwise alignment (Levenshtein / NW / SW) — Gotoh, vectorized
# ---------------------------------------------------------------------------


def _as_byte_matrix(strs: Sequence[bytes], max_len: int) -> np.ndarray:
    out = np.zeros((len(strs), max_len), dtype=np.int64)
    for i, s in enumerate(strs):
        if s:
            out[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    return out


def _gotoh_batch(
    a_mat: np.ndarray,
    a_len: np.ndarray,
    b_mat: np.ndarray,
    b_len: np.ndarray,
    sub_cost,
    gap_open: int,
    gap_extend: int,
    minimize: bool,
    local: bool,
) -> np.ndarray:
    """Batched affine-gap alignment, vectorized across the pair axis.

    Row-sweep DP where the same-row (horizontal-gap) dependency is
    resolved with a running cumulative min/max — valid whenever opening a
    gap costs at least as much as extending it (asserted by callers),
    because then an optimal path never closes and immediately reopens a
    gap.  This replaces the reference's anti-diagonal traversal
    (similarities/serial.hpp:546+) with batch-axis vectorization, the
    reference's own "candidate lane" layout (serial.hpp:613-693).

    ``sub_cost(j_bytes_col, b_char_col) -> (B, La)`` substitution costs.
    Gap of length L costs ``gap_open + (L-1)*gap_extend``
    (serial.hpp:1135, :1687).
    """
    big = np.int64(1 << 40)
    sign = 1 if minimize else -1
    pick = np.minimum if minimize else np.maximum
    worst = big * sign

    n = a_mat.shape[0]
    la_max = int(a_len.max()) if n else 0
    lb_max = int(b_len.max()) if n else 0
    cols = la_max + 1

    j_idx = np.arange(cols, dtype=np.int64)
    # H row 0: 0, open, open+ext, ... (global); all zeros (local)
    if local:
        h_prev = np.zeros((n, cols), dtype=np.int64)
    else:
        h_prev = np.where(
            j_idx == 0, 0, gap_open + gap_extend * np.maximum(j_idx - 1, 0)
        )[None, :].repeat(n, axis=0)
    # mask out columns beyond each pair's own a-length: harmless (we only
    # read the cell at (b_len, a_len) at the end) but keep F sane.
    f_prev = np.full((n, cols), worst, dtype=np.int64)
    best_local = np.zeros(n, dtype=np.int64)
    result = h_prev[np.arange(n), a_len].copy()  # correct when b is empty

    ext = np.int64(gap_extend)
    opn = np.int64(gap_open)
    k_idx = j_idx  # alias

    for i in range(1, lb_max + 1):
        row_active = b_len >= i  # (B,)
        b_char = b_mat[:, i - 1]  # (B,)
        sub = sub_cost(a_mat, b_char)  # (B, La)

        # F: vertical gaps, elementwise from previous row
        f_cur = pick(h_prev + opn, f_prev + ext)

        # G: best entry into column j that does not come via a same-row gap
        g = np.empty((n, cols), dtype=np.int64)
        if local:
            g[:, 0] = 0
        else:
            g[:, 0] = opn + ext * (i - 1)
        diag = h_prev[:, :-1] + sub
        g[:, 1:] = pick(diag, f_cur[:, 1:])
        if local:
            g = np.maximum(g, 0)

        # E: horizontal gaps via running cumulative min/max of G[k] - ext*k
        shifted = g - ext * k_idx[None, :]
        run = (
            np.minimum.accumulate(shifted, axis=1)
            if minimize
            else np.maximum.accumulate(shifted, axis=1)
        )
        e = np.empty((n, cols), dtype=np.int64)
        e[:, 0] = worst
        e[:, 1:] = opn + ext * (j_idx[1:] - 1) + run[:, :-1]

        h_cur = pick(g, e)
        if local:
            h_cur = np.maximum(h_cur, 0)

        # freeze rows for pairs whose b is exhausted
        h_cur = np.where(row_active[:, None], h_cur, h_prev)
        f_cur = np.where(row_active[:, None], f_cur, f_prev)

        if local:
            # only consider columns within each pair's a-length
            col_ok = j_idx[None, :] <= a_len[:, None]
            row_best = np.where(col_ok & row_active[:, None], h_cur, 0).max(axis=1)
            best_local = np.maximum(best_local, row_best)

        done_now = b_len == i
        if done_now.any():
            result = np.where(done_now, h_cur[np.arange(n), a_len], result)

        h_prev, f_prev = h_cur, f_cur

    return best_local if local else result


def levenshtein_batch(
    a: Sequence[bytes],
    b: Sequence[bytes],
    match: int = 0,
    mismatch: int = 1,
    gap_open: int = 1,
    gap_extend: int = 1,
) -> np.ndarray:
    """Byte-level edit distances for parallel lists of byte strings.

    Mirrors ``szs.LevenshteinDistances`` semantics (stringzillas.h:181-238):
    unit costs by default, affine gaps when ``gap_open != gap_extend``
    (gap of length L costs ``open + (L-1)*extend``); empty-string edge:
    ``dist = gap_open_or_extend * other_len`` for linear costs
    (serial.hpp:1455-1460) and ``open + extend*(L-1)`` for affine
    (serial.hpp:1687-1690).
    """
    assert gap_open >= gap_extend > 0, "vectorized Gotoh needs open >= extend"
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    a_len = np.asarray([len(x) for x in a], dtype=np.int64)
    b_len = np.asarray([len(x) for x in b], dtype=np.int64)
    a_mat = _as_byte_matrix(a, int(a_len.max()) if n else 0)
    b_mat = _as_byte_matrix(b, int(b_len.max()) if n else 0)

    m, mm = np.int64(match), np.int64(mismatch)

    def sub_cost(a_m, b_char):
        return np.where(a_m == b_char[:, None], m, mm)

    out = _gotoh_batch(
        a_mat, a_len, b_mat, b_len, sub_cost, gap_open, gap_extend, True, False
    )
    # empty-string edge (the DP already handles it, but keep the exact
    # reference formula explicit for affine costs)
    ea = a_len == 0
    eb = b_len == 0
    if ea.any() or eb.any():
        other = np.where(ea, b_len, a_len)
        edge = np.where(other == 0, 0, gap_open + gap_extend * np.maximum(other - 1, 0))
        out = np.where(ea | eb, edge, out)
    return out


def bounded_lev_ladder(
    da: np.ndarray,
    sa: np.ndarray,
    a_len: np.ndarray,
    db: np.ndarray,
    sb: np.ndarray,
    lens_b: np.ndarray,
    bound: int,
    first_rung: int = 16,
) -> np.ndarray:
    """Iterative-deepening wrapper over :func:`bounded_lev_flat` (same
    contract): score the batch with a narrow band first, escalate ONLY
    the pairs the small band clamps (classic exponential band search,
    cf. Myers' O(nd) refinement; similarities/serial.hpp:2948-2994 tiers
    by input size the same way).

    Output-identical to one full-bound pass: the banded DP is exact
    whenever dist <= band, so rung successes (dist <= first_rung) equal
    the full-band value, and rung failures re-run at the SAME ``bound``
    as the single-pass path (same exact value or same bound+1 clamp).
    Measured on the ER corpus (τ=0.94, ~666-byte docs): every
    histogram-prune survivor has dist <= 14 vs a τ-band of ~41, so
    ~100% of pairs finish in the W=33 band — ~2.5x less DP work."""
    if bound <= first_rung:
        return bounded_lev_flat(da, sa, a_len, db, sb, lens_b, bound)
    out = bounded_lev_flat(da, sa, a_len, db, sb, lens_b, first_rung)
    fail = np.nonzero(out > first_rung)[0]
    if len(fail):
        out[fail] = bounded_lev_flat(
            da, sa[fail], a_len[fail], db, sb[fail], lens_b[fail], bound
        )
    return out


def bounded_lev_flat(
    da: np.ndarray,
    sa: np.ndarray,
    a_len: np.ndarray,
    db: np.ndarray,
    sb: np.ndarray,
    lens_b: np.ndarray,
    bound: int,
) -> np.ndarray:
    """Banded unit-cost Levenshtein of ``da[sa[i]:][:a_len[i]]`` against
    ``db[sb[i]:][:lens_b[i]]``: exact when dist <= bound, else bound+1.
    Rows may be ARBITRARY (fancy-indexed) slices of the flat buffers, so
    Arrow callers can chunk by length without re-packing.

    The ER pipeline thresholds on ``sim = 1 - dist/max(len) >= τ``, so it
    only needs exact distances up to ``(1-τ)*max(len)`` — the classic
    banded-DP trick (SURVEY.md §4 'bounded scorer with exactness
    preserved below the bound').  Work drops from O(La*Lb) to
    O(max(L)*(2*bound+1)) per pair, vectorized across the pair batch.
    Band coordinates: cell (i, j) lives at d = j - i + k (k = bound), so
    the substitution parent is prev[d], the deletion parent prev[d+1],
    and insertions resolve along d with the same running-cummin trick as
    :func:`_gotoh_batch`."""
    oa, ob = sa, sb
    b_len = lens_b
    n = len(a_len)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    k = int(bound)
    out = np.full(n, k + 1, dtype=np.int64)
    feasible = np.abs(a_len - b_len) <= k
    if not feasible.any():
        return out
    # exact equality fast path (common for exact-dup pairs): only rows
    # with equal lengths are candidates; compare their byte views
    eq = np.zeros(n, dtype=bool)
    for i in np.nonzero(a_len == b_len)[0]:
        la = a_len[i]
        eq[i] = la == 0 or bool(
            (da[oa[i] : oa[i] + la] == db[ob[i] : ob[i] + la]).all()
        )
    todo = feasible & ~eq
    out[eq] = 0
    if not todo.any():
        return out
    idx = np.nonzero(todo)[0]
    # compiled twin first (sz_spark.native): same banded-DP contract
    # (exact <= k, clamped k+1 above) computed integer-exactly, so the
    # outputs are identical; ~10x the NumPy chunks (guide §4.2).  Falls
    # through to the NumPy path when unavailable or the band needs
    # int64 cells.
    from sz_spark import native as _native

    res = _native.lev_bounded_native(
        da, oa[idx], a_len[idx], db, ob[idx], b_len[idx], k
    )
    if res is not None:
        out[idx] = res
        return out
    # cache-resident chunks: the DP working set (int16 band arrays +
    # uint8 byte matrices) must fit each worker's PRIVATE cache, or
    # concurrent executors serialize on DRAM bandwidth (measured: the
    # int64/1024-chunk variant scaled 1.6x from 8->32 cores; this one
    # scales near-linearly).
    W = 2 * k + 1
    small = W <= 4000  # int16 distances need k + W + slack < 32767
    chunk = max(64, min(512, (1 << 17) // max(W, 1)))
    res_all = np.empty(len(idx), dtype=np.int64)
    for s in range(0, len(idx), chunk):
        sub_idx = idx[s : s + chunk]
        res_all[s : s + chunk] = _bounded_lev_chunk(
            _gather_byte_matrix(da, oa[sub_idx], a_len[sub_idx]),
            _gather_byte_matrix(db, ob[sub_idx], b_len[sub_idx]),
            a_len[sub_idx],
            b_len[sub_idx],
            k,
            np.int16 if small else np.int64,
        )
    out[idx] = res_all
    return out


def _gather_byte_matrix(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Row-major zero-padded (m, max_len) uint8 matrix from the flat
    layout via one vectorized gather (no per-row Python objects)."""
    m = len(starts)
    max_len = int(lens.max()) if m else 0
    mat = np.zeros((m, max(max_len, 1)), dtype=np.uint8)
    if max_len:
        pos = np.arange(max_len, dtype=np.int64)[None, :]
        mask = pos < lens[:, None]
        gidx = starts[:, None] + pos
        mat[:, :max_len][mask] = data[gidx[mask]]
    return mat


def _bounded_lev_chunk(a_mat, b_mat, al, bl, k, dtype) -> np.ndarray:
    m = a_mat.shape[0]
    la_max = int(al.max())
    lb_max = int(bl.max())

    W = 2 * k + 1
    BIG = dtype(16000 if dtype == np.int16 else 1 << 40)
    one = dtype(1)
    d_idx = np.arange(W, dtype=dtype)
    j0 = np.arange(W, dtype=np.int64) - k
    cur = np.where(j0 >= 0, j0, int(BIG)).astype(dtype)
    cur = np.broadcast_to(cur, (m, W)).copy()
    cur[j0[None, :] > al[:, None]] = BIG

    # the band's a-window at row i is the CONTIGUOUS byte range
    # [i-k-1, i+k-1] — pre-pad so each row reads a zero-copy slice
    # instead of a gathered fancy-index (the gather dominated DRAM
    # traffic and killed multi-worker scaling)
    a_pad = np.zeros((m, max(la_max, lb_max) + W + 1), dtype=np.uint8)
    a_pad[:, k + 1 : k + 1 + la_max] = a_mat[:, :la_max]

    # b empty: the row loop never reaches i == 0, handle directly
    res = np.where(bl == 0, np.minimum(al, k + 1), k + 1).astype(np.int64)
    arange_m = np.arange(m)
    for i in range(1, lb_max + 1):
        row_active = bl >= i
        b_char = b_mat[:, i - 1]  # (m,)
        js = i + j0  # (W,) column index per band slot
        valid = (js >= 1)[None, :] & (js[None, :] <= al[:, None])  # (m, W)
        a_chars = a_pad[:, i : i + W]  # zero-copy contiguous view
        sub = (a_chars != b_char[:, None]).astype(dtype)
        sub += cur
        prev_shift = np.empty_like(cur)
        prev_shift[:, :-1] = cur[:, 1:]
        prev_shift[:, -1] = BIG
        prev_shift += one
        tmp = np.minimum(sub, prev_shift)
        np.copyto(tmp, BIG, where=~valid)
        # boundary column j == 0 lives at d = k - i
        if i <= k:
            tmp[:, k - i] = dtype(i)
        # same-row insertions: cummin of (tmp - d) + d
        shifted = tmp - d_idx[None, :]
        np.minimum.accumulate(shifted, axis=1, out=shifted)
        shifted += d_idx[None, :]
        new = np.minimum(tmp, shifted)
        new = np.minimum(new, BIG, out=new)
        np.copyto(cur, new, where=row_active[:, None])
        done_now = bl == i
        if done_now.any():
            d_final = (al - i + k).astype(np.int64)
            ok = done_now & (d_final >= 0) & (d_final < W)
            vals = cur[arange_m, np.clip(d_final, 0, W - 1)].astype(np.int64)
            res = np.where(ok, np.minimum(vals, k + 1), res)

    return res


def levenshtein_utf8_batch(a: Sequence[str], b: Sequence[str], **kw) -> np.ndarray:
    """Codepoint-level edit distances (szs.LevenshteinDistancesUTF8,
    stringzillas.h:255-312): operates on decoded runes, so
    ``"αβγδ" ↔ "αγδ"`` is 1, not 2."""
    a_b = [s.encode("utf-32-le") for s in a]
    b_b = [s.encode("utf-32-le") for s in b]
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    a_len = np.asarray([len(s) for s in a], dtype=np.int64)
    b_len = np.asarray([len(s) for s in b], dtype=np.int64)
    a_mat = np.zeros((n, int(a_len.max()) if n else 0), dtype=np.int64)
    b_mat = np.zeros((n, int(b_len.max()) if n else 0), dtype=np.int64)
    for i, s in enumerate(a_b):
        if s:
            a_mat[i, : a_len[i]] = np.frombuffer(s, dtype=np.uint32)
    for i, s in enumerate(b_b):
        if s:
            b_mat[i, : b_len[i]] = np.frombuffer(s, dtype=np.uint32)

    match = np.int64(kw.get("match", 0))
    mismatch = np.int64(kw.get("mismatch", 1))
    gap_open = kw.get("gap_open", 1)
    gap_extend = kw.get("gap_extend", 1)
    assert gap_open >= gap_extend > 0

    def sub_cost(a_m, b_char):
        return np.where(a_m == b_char[:, None], match, mismatch)

    out = _gotoh_batch(
        a_mat, a_len, b_mat, b_len, sub_cost, gap_open, gap_extend, True, False
    )
    ea, eb = a_len == 0, b_len == 0
    if ea.any() or eb.any():
        other = np.where(ea, b_len, a_len)
        edge = np.where(other == 0, 0, gap_open + gap_extend * np.maximum(other - 1, 0))
        out = np.where(ea | eb, edge, out)
    return out


def _alignment_scores(
    a: Sequence[bytes],
    b: Sequence[bytes],
    substitution: np.ndarray,
    gap_open: int,
    gap_extend: int,
    local: bool,
) -> np.ndarray:
    assert substitution.shape == (256, 256)
    assert gap_open <= gap_extend < 0, "scores maximize; opening must cost >= extend"
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    a_len = np.asarray([len(x) for x in a], dtype=np.int64)
    b_len = np.asarray([len(x) for x in b], dtype=np.int64)
    a_mat = _as_byte_matrix(a, int(a_len.max()) if n else 0)
    b_mat = _as_byte_matrix(b, int(b_len.max()) if n else 0)
    subs = substitution.astype(np.int64)

    def sub_cost(a_m, b_char):
        return subs[a_m, b_char[:, None]]

    out = _gotoh_batch(
        a_mat, a_len, b_mat, b_len, sub_cost, gap_open, gap_extend, False, local
    )
    if not local:
        # empty-string edge for global scores (serial.hpp:1925-1930 /
        # :2078-2081): score = open + extend*(L-1) against the empty side
        ea, eb = a_len == 0, b_len == 0
        if ea.any() or eb.any():
            other = np.where(ea, b_len, a_len)
            edge = np.where(
                other == 0, 0, gap_open + gap_extend * np.maximum(other - 1, 0)
            )
            out = np.where(ea | eb, edge, out)
    return out


def needleman_wunsch_batch(
    a: Sequence[bytes],
    b: Sequence[bytes],
    substitution: np.ndarray | None = None,
    gap_open: int = -1,
    gap_extend: int = -1,
) -> np.ndarray:
    """Global alignment scores (szs.NeedlemanWunschScores,
    stringzillas.h:339-397).  ``substitution`` is a full 256x256 i64
    matrix (build one from a byte->class map + 32x32 class costs with
    :func:`expand_class_costs`)."""
    if substitution is None:
        substitution = unit_substitution(match=0, mismatch=-1)
    return _alignment_scores(a, b, substitution, gap_open, gap_extend, False)


def smith_waterman_batch(
    a: Sequence[bytes],
    b: Sequence[bytes],
    substitution: np.ndarray | None = None,
    gap_open: int = -1,
    gap_extend: int = -1,
) -> np.ndarray:
    """Local alignment scores, floored at 0 (szs.SmithWatermanScores,
    stringzillas.h:414-472)."""
    if substitution is None:
        substitution = unit_substitution(match=1, mismatch=-1)
    return _alignment_scores(a, b, substitution, gap_open, gap_extend, True)


def unit_substitution(match: int, mismatch: int) -> np.ndarray:
    subs = np.full((256, 256), mismatch, dtype=np.int64)
    np.fill_diagonal(subs, match)
    return subs


def expand_class_costs(byte_to_class: np.ndarray, class_costs: np.ndarray) -> np.ndarray:
    """256x256 substitution matrix from a byte->class map (len 256) and a
    class-costs matrix (the reference's ``error_costs_32x32_t`` shape,
    similarities/serial.hpp:189-311)."""
    b2c = np.asarray(byte_to_class, dtype=np.int64)
    cc = np.asarray(class_costs, dtype=np.int64)
    return cc[b2c[:, None], b2c[None, :]]


# ---------------------------------------------------------------------------
# Jaro-Winkler (pipeline extra — NOT reference-derived; Winkler 1990)
# ---------------------------------------------------------------------------


def jaro_similarity(a: str, b: str) -> float:
    """Jaro similarity; empty-string convention follows DuckDB's
    ``jaro_similarity`` (0.0 whenever either side is empty, including
    both-empty) so the SQL oracle comparisons are exact."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    b_used = [False] * lb
    matches = 0
    a_match = []
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_used[j] and b[j] == ca:
                b_used[j] = True
                matches += 1
                a_match.append((i, j))
                break
    if matches == 0:
        return 0.0
    a_seq = [a[i] for i, _ in a_match]
    b_seq = [b[j] for j in sorted(j for _, j in a_match)]
    transpositions = sum(1 for x, y in zip(a_seq, b_seq) if x != y) // 2
    m = float(matches)
    return (m / la + m / lb + (m - transpositions) / m) / 3.0


def jaro_winkler_similarity(
    a: str, b: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7
) -> float:
    jaro = jaro_similarity(a, b)
    if jaro <= boost_threshold:
        return jaro
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca != cb:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def jaro_winkler_batch(a: Sequence[str], b: Sequence[str]) -> np.ndarray:
    return np.asarray(
        [jaro_winkler_similarity(x, y) for x, y in zip(a, b)], dtype=np.float64
    )
