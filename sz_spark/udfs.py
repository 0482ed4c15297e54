"""Vectorized pandas/Arrow UDFs wrapping sz_spark.kernels.

Everything compute-heavy crosses the JVM<->Python boundary in Arrow
record batches (never per-row Python), per BASELINE.json input_hint.
Cheap expressions stay in native pyspark.sql.functions and never enter
Python at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
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


def make_bounded_levenshtein_udf(threshold: float, chunk: int = 1024):
    """Arrow-batched bounded edit distance for threshold-τ pair scoring.

    Exact wherever ``1 - dist/max(len) >= threshold`` could hold; pairs
    beyond the bound come back clamped (> bound), which the τ-filter
    drops anyway.  Pairs are sorted by length inside each Arrow batch and
    scored in chunks so the band width and padding track each chunk's
    actual sizes (the reference's input-size algorithm tiering,
    similarities/serial.hpp:2948-2994, re-expressed batch-wise).
    """
    import numpy as np

    @pandas_udf(T.LongType())
    def bounded_lev(a: pd.Series, b: pd.Series) -> pd.Series:
        A, B = _to_bytes(a), _to_bytes(b)
        n = len(A)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        maxlen = np.asarray([max(len(x), len(y)) for x, y in zip(A, B)])
        order = np.argsort(maxlen, kind="stable")
        for s in range(0, n, chunk):
            idx = order[s : s + chunk]
            m = int(maxlen[idx].max())
            bound = int((1.0 - threshold) * m) + 1
            out[idx] = K.levenshtein_batch_bounded(
                [A[i] for i in idx], [B[i] for i in idx], bound
            )
        return pd.Series(out)

    return bounded_lev


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


#: logical operators that put an exchange between the source and ``df``
#: (line-anchored: plan tree lines start with indentation/branch glyphs,
#: so column aliases in expression lists cannot false-match)
_SHUFFLE_NODE_RE = None


def upstream_width(df) -> int:
    """Partition count ``df`` will execute with — WITHOUT running jobs.

    The naive probe (``df.rdd.getNumPartitions()``) is only plan-time
    for exchange-free lineage (scans, checkpoints, map-only chains).
    Under AQE, converting a plan that CONTAINS exchanges to an RDD
    materializes its shuffle map stages as real jobs — which the
    subsequent action then re-executes (a new query execution gets new
    shuffle ids, so nothing is reused): the probe would silently run
    most of the query twice.  So shuffle-bearing plans report the
    session's configured shuffle width instead — which is exactly what
    their output width will be — and only exchange-free plans use the
    (job-free) RDD probe.  Returns 0 when nothing can be determined,
    which includes shuffle-bearing plans while AQE partition coalescing
    is on: the post-shuffle width then depends on shuffle bytes, not on
    the configured width, so callers repartition rather than risk a
    Python stage on one or two coalesced partitions."""
    import re

    global _SHUFFLE_NODE_RE
    if _SHUFFLE_NODE_RE is None:
        _SHUFFLE_NODE_RE = re.compile(
            r"(?m)^[\s:+-]*(Join|Aggregate|Repartition|"
            r"RepartitionByExpression|Rebalance|Window|Deduplicate|Sort)\b"
        )
    sess = df.sparkSession
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover — internals moved; stay safe
        plan = None
    if plan is None or _SHUFFLE_NODE_RE.search(plan):
        try:
            if all(
                sess.conf.get(key).strip().lower() == "true"
                for key in (
                    "spark.sql.adaptive.enabled",
                    "spark.sql.adaptive.coalescePartitions.enabled",
                )
            ):
                return 0
            return int(sess.conf.get("spark.sql.shuffle.partitions"))
        except Exception:  # pragma: no cover
            return 0
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — never fail the query path
        return 0


def spread_for_python(df, target_partitions: int):
    """Round-robin repartition ONLY when ``df`` has fewer partitions
    than the session's parallelism.

    Opaque Python stages (mapInArrow / pandas UDFs) run on however many
    partitions the input happens to have, and the optimizer cannot see
    their per-row CPU cost (guide §2, §4): a small parquet scan arrives
    as ONE partition and would run the whole kernel single-core.  But
    when the upstream plan already spread the rows (a groupBy/join
    leaves spark.sql.shuffle.partitions partitions), the extra exchange
    only costs — measured +0.3-1 s of pure task/scheduler overhead per
    query at bench scale.  The width probe (:func:`upstream_width`) is
    plan-time only — no job runs."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if upstream_width(df) < par:
        return df.repartition(target_partitions)
    return df


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


def make_band_keys_arrow_fn(
    ndim: int = 128,
    widths=None,
    seed: int = 0,
    n_bands: int = 32,
    rows_per_band: int = 4,
):
    """mapInArrow twin of make_band_keys_udf: RecordBatch (id, text
    binary) -> RecordBatch (id, bk array<long>).  Same math
    (fingerprints_flat is bit-identical to fingerprints); only the
    transport changes."""
    assert n_bands * rows_per_band <= ndim

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            data, off = arrow_binary_flat(batch.column(1))
            h, _c = K.fingerprints_flat(
                data, off, ndim=ndim, widths=widths, seed=seed, with_counts=False
            )
            n = h.shape[0]
            out = np.empty((n, n_bands), dtype=np.uint64)
            for b in range(n_bands):
                acc = np.full(n, np.uint64(b + 1), dtype=np.uint64)
                for r in range(rows_per_band):
                    acc = K.splitmix64(
                        acc ^ h[:, b * rows_per_band + r].astype(np.uint64)
                    )
                out[:, b] = acc
            flat = out.astype(np.int64).reshape(-1)
            lst = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * n_bands, n_bands, dtype=np.int32),
                    type=pa.int32(),
                ),
                pa.array(flat, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, lst], [batch.schema.names[0], "bk"]
            )

    return fn


def make_doc_features_arrow_fn(
    ndim: int = 128,
    widths=None,
    seed: int = 0,
    n_bands: int = 32,
    rows_per_band: int = 4,
):
    """Fused per-document feature kernel: RecordBatch (id, len, pk,
    text binary) -> (id, len, pk, bk array<long>, hist binary).

    One pass over the doc bytes computes BOTH the LSH band keys
    (identical math to make_band_keys_arrow_fn) and the packed 96-bin
    u16 histogram the candidate prune consumes (identical bytes to
    scoring._prune_attrs_packed) — the corpus crosses the JVM->Python
    boundary once instead of twice, and the pipeline materializes one
    narrow feature table instead of feeding two separate Python stages
    (guide §4.1: pass whole batches once, derive everything needed).
    ``len`` (F.length, characters) and ``pk`` (the prefix block key)
    are computed JVM-side and carried through, so downstream length and
    prefix-key semantics match the unfused path exactly."""
    assert n_bands * rows_per_band <= ndim

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            data, off = arrow_binary_flat(batch.column(3))
            # band keys (fingerprint + splitmix combine)
            h, _c = K.fingerprints_flat(
                data, off, ndim=ndim, widths=widths, seed=seed, with_counts=False
            )
            out = np.empty((n, n_bands), dtype=np.uint64)
            for b in range(n_bands):
                acc = np.full(n, np.uint64(b + 1), dtype=np.uint64)
                for r in range(rows_per_band):
                    acc = K.splitmix64(
                        acc ^ h[:, b * rows_per_band + r].astype(np.uint64)
                    )
                out[:, b] = acc
            lst = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * n_bands, n_bands, dtype=np.int32),
                    type=pa.int32(),
                ),
                pa.array(out.astype(np.int64).reshape(-1), type=pa.int64()),
            )
            # packed u16 histogram (same bytes as _prune_attrs_packed)
            dslice = data[off[0] : off[-1]]
            blens = np.diff(off)
            rows = np.repeat(np.arange(n, dtype=np.int64), blens)
            mask = (dslice >= 32) & (dslice < 128)
            hcnt = np.bincount(
                rows[mask] * 96 + (dslice[mask].astype(np.int64) - 32),
                minlength=n * 96,
            ).reshape(n, 96)
            h16 = np.minimum(hcnt, 65535).astype("<u2")
            offs = np.arange(0, (n + 1) * 192, 192, dtype=np.int32)
            hist = pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(h16.tobytes())],
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns[:3], lst, hist],
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
    """mapInArrow twin of make_bounded_levenshtein_udf: RecordBatch
    (*carry, _ba binary, _bb binary) -> (*carry, edit_distance long).
    Pairs are length-sorted and scored in chunks with a per-chunk band
    bound, exactly like the pandas path (sub-τ pairs come back clamped
    above the bound, which the τ-filter drops)."""

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


from sz_spark.uax29 import sentence_segments, wordbreak_segments  # scalar twins (tests)


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


def hash_multiseed_xxhash(col, seeds=(0, 1, 42, 314159)):
    """Pure-JVM multiseed hashing (sz.hash_multiseed analog, hash.h:173):
    one xxhash64 per seed, no Python anywhere.  This is the production
    feature-hashing path; the registry's md5-PRF variant exists for the
    DuckDB cross-engine check (SURVEY.md §2.7 interchangeable-PRF
    stance).  Returns array<long>, one element per seed."""
    return F.array(*[F.xxhash64(col, F.lit(int(s))) for s in seeds])


def make_sz_hash_exact_udf(seed: int = 0):
    """Arrow-batched pandas UDF computing the EXACT AES-based `sz.hash`
    (hash.h:139, README.md:752-830) via sz_spark.szhash — bit-identical
    to the reference (pinned against 138 compiled-kernel vectors,
    tests/test_szhash.py).  Returns the u64 hash as its int64 bit
    pattern, the repo's 'u64 hashes in signed types' convention.

    Use this when porting STORED sz-hash values; the interchangeable-PRF
    xxhash64 path (hash_multiseed_xxhash) stays the default for
    blocking/dedup where only PRF quality matters, since it never leaves
    the JVM.

    NULL convention: NULL inputs hash as the empty string (both map to
    hash(b"") via the batch's None -> b"" coercion), NOT to NULL.  When
    porting stored values whose source kept NULLs, mask first:
    ``F.when(col.isNotNull(), sz_hash_exact(col))``."""
    from sz_spark.szhash import sz_hash_batch

    @pandas_udf(T.LongType())
    def sz_hash_exact(texts: pd.Series) -> pd.Series:
        h = sz_hash_batch(_to_bytes(texts), seed=seed)
        return pd.Series(h.astype("int64"))

    return sz_hash_exact


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


@pandas_udf(T.LongType())
def simhash64_udf(token_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash over a pre-tokenized array column; returned as the
    signed-int64 bit pattern (Spark has no u64)."""
    toks = [
        [] if arr is None else [t.encode() for t in arr] for arr in token_arrays
    ]
    sigs = K.simhash64(toks)
    return pd.Series(sigs.astype("int64"))


@pandas_udf(T.ArrayType(T.IntegerType()))
def byte_histogram_udf(texts: pd.Series) -> pd.Series:
    """96-bin histogram of printable-ASCII bytes (0x20..0x7F), used by the
    counting-filter prune: L1(hist_a, hist_b)/2 is a lower bound on edit
    distance, so pairs whose histogram gap alone exceeds the tau bound
    never enter the DP.

    One flat bincount over (row * 96 + bin) covers the whole batch —
    the per-row frombuffer/bincount loop it replaces paid Python
    dispatch per document (guide §4.2)."""
    import numpy as np

    bts = _to_bytes(texts)
    n = len(bts)
    if n == 0:
        return pd.Series([], dtype=object)
    lens = np.fromiter((len(t) for t in bts), dtype=np.int64, count=n)
    data = np.frombuffer(b"".join(bts), dtype=np.uint8)
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    mask = (data >= 32) & (data < 128)
    h = (
        np.bincount(rows[mask] * 96 + (data[mask] - 32), minlength=n * 96)
        .reshape(n, 96)
        .astype("int32")
    )
    return pd.Series(list(h))


def make_band_keys_udf(
    ndim: int = 128,
    widths=None,
    seed: int = 0,
    n_bands: int = 32,
    rows_per_band: int = 4,
):
    """text -> array<long> of LSH band keys, computed entirely inside one
    Arrow batch: fingerprint (reference math) + per-band splitmix64 hash
    combine.  Returning 32 longs instead of the 2x128-long fingerprint
    struct cuts the Python->JVM Arrow transfer ~8x and removes the
    JVM-side slice/hash work — the fp+bands stage was transfer-bound.
    """
    assert n_bands * rows_per_band <= ndim

    @pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(texts: pd.Series) -> pd.Series:
        import numpy as np

        # counts never feed the band keys — skip their bookkeeping
        h, _c = K.fingerprints(
            _to_bytes(texts), ndim=ndim, widths=widths, seed=seed, with_counts=False
        )
        n = h.shape[0]
        out = np.empty((n, n_bands), dtype=np.uint64)
        for b in range(n_bands):
            acc = np.full(n, np.uint64(b + 1), dtype=np.uint64)
            for r in range(rows_per_band):
                acc = K.splitmix64(acc ^ h[:, b * rows_per_band + r].astype(np.uint64))
            out[:, b] = acc
        signed = out.astype(np.int64)
        return pd.Series(list(signed))

    return band_keys




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
