"""The registry's vectorized pandas UDFs wrapping sz_spark.kernels.

Each crosses the JVM<->Python boundary in Arrow record batches (never
per-row Python), per BASELINE.json input_hint, and loads pandas into
the worker that runs it.  Cheap expressions stay in native
pyspark.sql.functions and never enter Python at all.  The pipeline's
kernels live in sz_spark.arrow_kernels, which never imports pandas.
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
