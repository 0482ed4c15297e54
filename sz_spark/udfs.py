"""Vectorized pandas/Arrow UDFs wrapping sz_spark.kernels.

Everything compute-heavy crosses the JVM<->Python boundary in Arrow
record batches (never per-row Python), per BASELINE.json input_hint.
Cheap expressions stay in native pyspark.sql.functions and never enter
Python at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from sz_spark import kernels as K


def _to_bytes(series: pd.Series) -> list[bytes]:
    return [(s if isinstance(s, bytes) else str(s).encode("utf-8")) if s is not None else b"" for s in series]


# ---------------------------------------------------------------------------
# pairwise scorers (SURVEY.md §2.8 similarity engines)
# ---------------------------------------------------------------------------


@pandas_udf(T.LongType())
def levenshtein_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Byte-level unit-cost edit distance (szs.LevenshteinDistances)."""
    return pd.Series(K.levenshtein_batch(_to_bytes(a), _to_bytes(b)))


def make_levenshtein_affine_udf(match=0, mismatch=1, gap_open=1, gap_extend=1):
    @pandas_udf(T.LongType())
    def lev_affine(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            K.levenshtein_batch(
                _to_bytes(a), _to_bytes(b),
                match=match, mismatch=mismatch,
                gap_open=gap_open, gap_extend=gap_extend,
            )
        )

    return lev_affine


@pandas_udf(T.LongType())
def levenshtein_utf8_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Codepoint-level edit distance (szs.LevenshteinDistancesUTF8)."""
    return pd.Series(
        K.levenshtein_utf8_batch(
            ["" if x is None else str(x) for x in a],
            ["" if x is None else str(x) for x in b],
        )
    )


@pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        K.jaro_winkler_batch(
            ["" if x is None else str(x) for x in a],
            ["" if x is None else str(x) for x in b],
        )
    )


def make_nw_udf(substitution=None, gap_open=-1, gap_extend=-1):
    @pandas_udf(T.LongType())
    def nw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            K.needleman_wunsch_batch(
                _to_bytes(a), _to_bytes(b), substitution, gap_open, gap_extend
            )
        )

    return nw


def make_sw_udf(substitution=None, gap_open=-1, gap_extend=-1):
    @pandas_udf(T.LongType())
    def sw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            K.smith_waterman_batch(
                _to_bytes(a), _to_bytes(b), substitution, gap_open, gap_extend
            )
        )

    return sw


# ---------------------------------------------------------------------------
# Arrow-native transport (mapInArrow): zero-copy flat buffers, no pandas
# ---------------------------------------------------------------------------
#
# pandas transport materializes one Python bytes/str object PER ROW on
# the worker (BASELINE.md r4 measured the in-Spark kernels at ~60% of
# standalone throughput, attributed to exactly this).  The mapInArrow
# path hands the kernels the Arrow binary column's (data, offsets)
# buffers directly — zero per-row objects, zero copies on ingest.


def arrow_binary_flat(arr) -> tuple:
    """Zero-copy (data uint8[], offsets int64[n+1]) view of an Arrow
    binary/string array — the layout kernels.*_flat ingest natively.
    Nulls (never produced by our JVM-side F.encode stages) fall back to
    a fill-null copy."""
    import numpy as np
    import pyarrow as pa

    if arr.null_count:
        arr = arr.fill_null(b"" if pa.types.is_binary(arr.type) else "")
    t = arr.type
    if pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        odt = np.int64
    elif pa.types.is_binary(t) or pa.types.is_string(t):
        odt = np.int32
    else:  # pragma: no cover - schema bug
        raise TypeError(f"not a binary/string arrow array: {t}")
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
    import numpy as np

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
    import numpy as np
    import pyarrow as pa

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
    import numpy as np

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
    import numpy as np

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
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            data, off = arrow_binary_flat(batch.column(3))
            h, _c = K.fingerprints_flat(
                data, off, ndim=NDIM, widths=FP_WIDTHS, seed=FP_SEED, with_counts=False
            )
            lst = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * N_BANDS, N_BANDS, dtype=np.int32),
                    type=pa.int32(),
                ),
                pa.array(band_keys(h, N_BANDS, ROWS_PER_BAND).reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns[:3], lst, pack_histograms(data, off)],
                [*batch.schema.names[:3], "bk", "hist"],
            )

    return fn


def make_fingerprint_arrow_fn(ndim: int = 128, widths=None, seed: int = 0):
    """Fingerprints over mapInArrow: RecordBatch (id, text
    binary) -> (id, hashes array<long>, counts array<long>), via the
    flat kernel with zero per-row Python objects."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            data, off = arrow_binary_flat(batch.column(1))
            h, c = K.fingerprints_flat(data, off, ndim=ndim, widths=widths, seed=seed)
            n = h.shape[0]
            offs32 = pa.array(
                np.arange(0, (n + 1) * ndim, ndim, dtype=np.int32), type=pa.int32()
            )

            def lst(mat):
                return pa.ListArray.from_arrays(
                    offs32,
                    pa.array(mat.astype(np.int64).reshape(-1), type=pa.int64()),
                )

            yield pa.RecordBatch.from_arrays(
                [ids, lst(h), lst(c)], [batch.schema.names[0], "hashes", "counts"]
            )

    return fn


def make_bounded_lev_arrow_fn(threshold: float, chunk: int = 1024):
    """Arrow-batched bounded edit distance for threshold-τ pair scoring:
    RecordBatch (*carry, _ba binary, _bb binary) -> (*carry,
    edit_distance long).

    Exact wherever ``1 - dist/max(len) >= threshold`` could hold; pairs
    beyond the bound come back clamped (> bound), which the τ-filter
    drops anyway.  Pairs are sorted by length inside each batch and
    scored in chunks so the band width tracks each chunk's actual sizes
    (the reference's input-size algorithm tiering,
    similarities/serial.hpp:2948-2994, re-expressed batch-wise)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

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
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(ncol - 2)] + [pa.array(out)],
                batch.schema.names[: ncol - 2] + ["edit_distance"],
            )

    return fn


# ---------------------------------------------------------------------------
# misc string kernels
# ---------------------------------------------------------------------------


@pandas_udf(T.StringType())
def utf8_casefold_udf(texts: pd.Series) -> pd.Series:
    """Full Unicode case folding (utf8_uncased_fold, reference
    python/README.md:613-628; kernels utf8_uncased.h).  Python's
    str.casefold IS the oracle the reference tests against
    (test/uncased.py), and it differs from lower() exactly where the
    reference does: ß→ss, İ→i+U+0307, ligatures, etc."""
    return texts.map(lambda s: None if s is None else str(s).casefold())


def make_utf8_norm_udf(form: str = "NFC"):
    """Unicode normalization (utf8_norm NFC/NFD/NFKC/NFKD,
    python/stringzilla.c:3986-4155).  unicodedata.normalize is the
    reference's own test oracle (test/utf8_norm.py:84-87)."""
    assert form in ("NFC", "NFD", "NFKC", "NFKD")

    @pandas_udf(T.StringType())
    def norm(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(
            lambda s: None if s is None else unicodedata.normalize(form, str(s))
        )

    return norm


def _batch_texts(texts: pd.Series) -> list[str]:
    return ["" if s is None else str(s) for s in texts]


@pandas_udf(T.ArrayType(T.StringType()))
def utf8_sentences_udf(texts: pd.Series) -> pd.Series:
    """Full UAX-29 SB1-SB11 sentence tiling — vectorized batch engine
    (sz_spark.uax_vec, differential-tested against uax29.sentence_segments)."""
    from sz_spark.uax_vec import sentence_segments_batch

    return pd.Series(sentence_segments_batch(_batch_texts(texts)))


@pandas_udf(T.ArrayType(T.StringType()))
def utf8_wordbreaks_udf(texts: pd.Series) -> pd.Series:
    """utf8_wordbreaks (full UAX-29 WB1-WB16) — tiling of words +
    separators; vectorized batch engine (sz_spark.uax_vec)."""
    from sz_spark.uax_vec import word_segments_batch

    return pd.Series(word_segments_batch(_batch_texts(texts)))


def make_translate_lut_udf(lut: bytes):
    """Full 256-byte LUT translate (sz translate, memory.h:153 sz_lookup
    — the 21 GB/s headline kernel, bench README.md:217-237).  Unlike
    F.translate (char-level), this is the reference's byte-level map,
    via Python's C-speed bytes.translate over Arrow batches."""
    assert len(lut) == 256

    @pandas_udf(T.StringType())
    def translate(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: None
            if s is None
            else str(s).encode("utf-8").translate(lut).decode("utf-8", "replace")
        )

    return translate


@pandas_udf(T.LongType())
def bytesum_udf(texts: pd.Series) -> pd.Series:
    """Additive byte checksum (sz.bytesum, hash.h:110)."""
    import numpy as np

    return pd.Series(
        [
            int(np.frombuffer(t, dtype=np.uint8).sum()) if t else 0
            for t in _to_bytes(texts)
        ]
    )


@pandas_udf(T.IntegerType())
def linebreak_opps_udf(texts: pd.Series) -> pd.Series:
    """Count of FULL-ENGINE UAX-14 break opportunities (LB1-LB31 chain,
    vectorized pair-table engine sz_spark.uax_vec — differential twin of
    uax14.linebreak_opportunities) — driver-checked against the regex
    twin on the letters+spaces scaffold where the two provably coincide
    (each space run / hyphen-before-letter / newline is exactly one
    opportunity)."""
    from sz_spark.uax_vec import count_linebreaks_batch

    n_opps, _ = count_linebreaks_batch(_batch_texts(texts))
    return pd.Series(n_opps).astype("int32")


@pandas_udf(T.IntegerType())
def grapheme_count_udf(texts: pd.Series) -> pd.Series:
    """Extended-grapheme-cluster count from the in-repo GB1-GB999 engine
    (UCD-conformant property tables, GB9c Indic conjuncts, GB11 emoji
    ZWJ; vectorized pair-table engine sz_spark.uax_vec — differential
    twin of uax29_graphemes.grapheme_segments), driver-checked against
    the Java \\X column and the NFC-composition oracle on the
    synthesized column where all three provably agree."""
    from sz_spark.uax_vec import count_graphemes_batch

    return pd.Series(count_graphemes_batch(_batch_texts(texts))).astype("int32")
