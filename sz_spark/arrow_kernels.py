"""The pipeline's mapInArrow kernels, over sz_spark.kernels.

Everything here crosses the JVM<->Python boundary as Arrow record
batches and reaches the kernels through flat NumPy views of the Arrow
buffers: no pandas Series, no per-row Python objects.  The module
imports numpy, pyarrow and sz_spark.kernels only, so a Python worker
that runs the pipeline never loads pandas.

With pyarrow 16, three conversions load pandas through pyarrow's pandas
shim: ``pa.array`` of an ndarray or a list, ``Array.to_numpy`` and
``np.asarray`` of an Arrow array; so do ``pa.scalar`` and
``Array.fill_null`` with a Python value.  ``pa.Array.from_buffers``,
``pa.py_buffer``, ``take``, ``to_pylist`` and ``pyarrow.compute`` over
arrays do not.  So arrays are built by :func:`arrow_from_numpy` and
integer columns read by :func:`numpy_view`, the way
:func:`arrow_binary_flat` reads binary columns.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from sz_spark import kernels as K


def arrow_from_numpy(values) -> pa.Array:
    """Null-free Arrow array over a 1-D numeric NumPy array's buffer (no
    copy when ``values`` is contiguous).  Not for bool: Arrow packs
    booleans into bits."""
    values = np.ascontiguousarray(values)
    if values.dtype == np.bool_:
        raise TypeError("bool arrays need Arrow's bit-packed layout")
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(values.dtype), len(values), [None, pa.py_buffer(values)]
    )


def numpy_view(arr) -> np.ndarray:
    """Zero-copy NumPy view of a null-free Arrow integer array; raises
    on nulls (a null slot's buffer value is undefined)."""
    t = arr.type
    if not pa.types.is_integer(t):  # pragma: no cover - schema bug
        raise TypeError(f"not an integer arrow array: {t}")
    if arr.null_count:
        raise ValueError(f"integer column holds {arr.null_count} nulls")
    kind = "i" if pa.types.is_signed_integer(t) else "u"
    return np.frombuffer(arr.buffers()[1], dtype=f"<{kind}{t.bit_width // 8}")[
        arr.offset : arr.offset + len(arr)
    ]


def arrow_binary_flat(arr) -> tuple:
    """Zero-copy (data uint8[], offsets int64[n+1]) view of an Arrow
    binary/string array — the layout kernels.*_flat ingest natively.
    Nulls (never produced by our JVM-side F.encode stages) read as
    empty, through a coalesce with an all-empty array."""
    t = arr.type
    if pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        odt = np.int64
    elif pa.types.is_binary(t) or pa.types.is_string(t):
        odt = np.int32
    else:  # pragma: no cover - schema bug
        raise TypeError(f"not a binary/string arrow array: {t}")
    if arr.null_count:
        import pyarrow.compute as pc

        empty = pa.Array.from_buffers(
            t, len(arr), [None, pa.py_buffer(np.zeros(len(arr) + 1, odt)), pa.py_buffer(b"")]
        )
        arr = pc.coalesce(arr, empty)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return data, off


def band_keys(h, n_bands: int, rows_per_band: int):
    """(n, n_bands) int64 LSH band keys from an (n, ndim) fingerprint
    matrix: band b folds its ``rows_per_band`` min-hashes into a
    splitmix64 chain seeded with b + 1."""
    n = h.shape[0]
    out = np.empty((n, n_bands), dtype=np.uint64)
    for b in range(n_bands):
        acc = np.full(n, np.uint64(b + 1), dtype=np.uint64)
        for r in range(rows_per_band):
            acc = K.splitmix64(acc ^ h[:, b * rows_per_band + r].astype(np.uint64))
        out[:, b] = acc
    return out.astype(np.int64)


#: bins of the prune histogram: printable ASCII, bytes 0x20..0x7F
HIST_BINS = 96


def pack_histograms(data, off):
    """Arrow binary array of packed prune histograms for the documents
    at (data, off) (the :func:`arrow_binary_flat` layout): per document
    the counts of bytes 0x20..0x7F as 96 little-endian u16 bins (192 B),
    clamped at 65535, from one flat bincount over the batch.

    Half the L1 distance of two histograms is a lower bound on their
    edit distance.  Clamping is a contraction, so the clamped L1 stays a
    valid bound for any document size; bins only saturate where one
    byte value repeats > 65535 times (docs >= 64 KB), where the prune
    merely weakens, never misprunes."""
    n = len(off) - 1
    dslice = data[off[0] : off[-1]]
    rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(off))
    mask = (dslice >= 32) & (dslice < 32 + HIST_BINS)
    cnt = np.bincount(
        rows[mask] * HIST_BINS + (dslice[mask].astype(np.int64) - 32),
        minlength=n * HIST_BINS,
    ).reshape(n, HIST_BINS)
    h16 = np.minimum(cnt, 65535).astype("<u2")
    width = 2 * HIST_BINS
    offs = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(h16.tobytes())]
    )


def unpack_histograms(arr):
    """(n, 96) u16 view of an Arrow binary array of packed histograms
    (:func:`pack_histograms`); raises on a blob of any other size."""
    data, off = arrow_binary_flat(arr)
    if len(arr) and not (np.diff(off) == 2 * HIST_BINS).all():
        raise ValueError(f"prune histograms must be {HIST_BINS} u16 bins")
    return data[off[0] : off[-1]].view("<u2").reshape(len(arr), HIST_BINS)


def prune_keep(lens, hists, ia, ib, threshold: float, step: int = 4096):
    """Keep mask of the candidate pairs (ia[k], ib[k]) — row indices into
    ``lens`` (char lengths) and ``hists`` (:func:`unpack_histograms`
    rows): a pair survives iff (max - min) <= (1-τ)*max AND
    L1(hist)/2 <= (1-τ)*max, both compared in f64.  Either bound failing
    caps the similarity below τ, so such pairs never reach the DP.  The
    L1 runs over length survivors only, in slices of ``step`` pairs so
    the (pairs, 96) gathers stay small; int32 holds any sum of 96 u16
    differences exactly."""
    la, lb = lens[ia], lens[ib]
    maxlen = np.maximum(la, lb)
    bound = (1.0 - threshold) * maxlen
    keep = (maxlen - np.minimum(la, lb)) <= bound
    sub = np.nonzero(keep)[0]
    for s0 in range(0, len(sub), step):
        ss = sub[s0 : s0 + step]
        l1 = np.abs(
            hists[ia[ss]].astype(np.int32) - hists[ib[ss]].astype(np.int32)
        ).sum(axis=1)
        keep[ss] &= (l1 / 2.0) <= bound[ss]
    return keep


def _list_column(mat):
    """Arrow list<long> array of the rows of a 2-D integer matrix."""
    n, width = mat.shape
    return pa.ListArray.from_arrays(
        arrow_from_numpy(np.arange(0, (n + 1) * width, width, dtype=np.int32)),
        arrow_from_numpy(mat.astype(np.int64).reshape(-1)),
    )


def make_doc_features_arrow_fn():
    """Fused per-document feature kernel: RecordBatch (id, len, pk,
    text binary) -> (id, len, pk, bk array<long>, hist binary).

    One pass over the doc bytes computes BOTH the LSH band keys
    (:func:`band_keys` over the blocking.NDIM fingerprint dimensions)
    and the packed prune histogram (:func:`pack_histograms`) — the
    corpus crosses the JVM->Python boundary once, and the pipeline
    materializes one narrow feature table (guide §4.1: pass whole
    batches once, derive everything needed).  ``len`` (F.length,
    characters) and ``pk`` (the prefix block key) are computed JVM-side
    and carried through."""
    from sz_spark.blocking import FP_SEED, FP_WIDTHS, N_BANDS, NDIM, ROWS_PER_BAND

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            data, off = arrow_binary_flat(batch.column(3))
            h, _c = K.fingerprints_flat(
                data, off, ndim=NDIM, widths=FP_WIDTHS, seed=FP_SEED, with_counts=False
            )
            yield pa.RecordBatch.from_arrays(
                [
                    *batch.columns[:3],
                    _list_column(band_keys(h, N_BANDS, ROWS_PER_BAND)),
                    pack_histograms(data, off),
                ],
                [*batch.schema.names[:3], "bk", "hist"],
            )

    return fn


def make_fingerprint_arrow_fn(ndim: int = 128, widths=None, seed: int = 0):
    """Fingerprints over mapInArrow: RecordBatch (id, text
    binary) -> (id, hashes array<long>, counts array<long>), via the
    flat kernel with zero per-row Python objects."""

    def fn(batches):
        for batch in batches:
            data, off = arrow_binary_flat(batch.column(1))
            h, c = K.fingerprints_flat(data, off, ndim=ndim, widths=widths, seed=seed)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _list_column(h), _list_column(c)],
                [batch.schema.names[0], "hashes", "counts"],
            )

    return fn


def make_bounded_lev_arrow_fn(threshold: float, chunk: int = 1024):
    """Arrow-batched bounded edit distance for threshold-τ pair scoring:
    RecordBatch (*carry, _ba binary, _bb binary) -> (*carry,
    edit_distance long).

    Each pair's distance is ``min(d, own_bound + 1)`` with ``own_bound
    = int((1-τ) * maxlen) + 1`` over the pair's own longer byte length:
    exact wherever ``1 - dist/max(len) >= threshold`` could hold, and
    otherwise clamped to a value the pair alone decides, so no row
    depends on which pairs share its Arrow batch.  Pairs are sorted by
    length inside each batch and scored in chunks so the band width
    tracks each chunk's actual sizes (the reference's input-size
    algorithm tiering, similarities/serial.hpp:2948-2994, re-expressed
    batch-wise); a chunk's bound is its longest pair's, never below a
    member's own, so the clamp only lowers distances beyond the own
    bound."""

    def fn(batches):
        for batch in batches:
            ncol = batch.num_columns
            da, oa = arrow_binary_flat(batch.column(ncol - 2))
            db, ob = arrow_binary_flat(batch.column(ncol - 1))
            sa, la = oa[:-1], np.diff(oa)
            sb, lb = ob[:-1], np.diff(ob)
            n = len(la)
            out = np.zeros(n, dtype=np.int64)
            if n:
                maxlen = np.maximum(la, lb)
                order = np.argsort(maxlen, kind="stable")
                for s in range(0, n, chunk):
                    idx = order[s : s + chunk]
                    m = int(maxlen[idx].max())
                    bound = int((1.0 - threshold) * m) + 1
                    out[idx] = K.bounded_lev_ladder(
                        da, sa[idx], la[idx], db, sb[idx], lb[idx], bound
                    )
                own_bound = ((1.0 - threshold) * maxlen).astype(np.int64) + 1
                np.minimum(out, own_bound + 1, out=out)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(ncol - 2)] + [arrow_from_numpy(out)],
                batch.schema.names[: ncol - 2] + ["edit_distance"],
            )

    return fn
