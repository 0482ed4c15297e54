"""Text-analysis operators for a large-scale training-data pipeline:
language-ID heuristic, quality scoring, token counting, document
fingerprinting.  Everything here is native Spark SQL expressions
(JVM-side, whole-stage-codegen'd) — no Python in the hot path — and
each has an exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Function-word profiles for the language detector: top stopwords per
# language, scored as MULTISET token hits (every occurrence counts —
# list_intersect/array_intersect would collapse to distinct hits and
# lose the frequency signal real detectors rely on).  Ambiguous words
# ("la", "de", "a") appear in several profiles on purpose; the argmax
# with a fixed priority-order tie-break resolves them.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "a", "in", "is", "it", "that", "for",
           "on", "with", "as", "are", "this"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "du", "que",
           "est", "dans", "pour", "qui", "sur"),
    "es": ("el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
           "es", "del", "por", "con", "para"),
    "de": ("der", "die", "das", "und", "ist", "von", "den", "mit", "ein",
           "eine", "zu", "im", "nicht", "auch", "auf"),
    "it": ("il", "la", "di", "e", "che", "un", "una", "per", "con", "del",
           "non", "sono", "le", "si", "da"),
    "pt": ("o", "os", "as", "de", "e", "que", "um", "uma", "do", "da",
           "em", "para", "com", "por", "mais"),
    "nl": ("de", "het", "een", "en", "van", "is", "dat", "op", "te",
           "met", "voor", "aan", "niet", "zijn", "er"),
}
_LANG_ORDER = tuple(LANG_STOPWORDS)  # priority order for argmax ties


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))


def _multiset_hits_expr(text_col: str, words: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        f"size(filter(split({text_col}, ' '), t -> array_contains(array({arr}), t)))"
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language detector over en/fr/es/de/it/pt/nl:
    per-language multiset function-word counts (native JVM expressions,
    one pass over the token array per language), argmax with a fixed
    priority-order tie-break, 'unk' when nothing matches.  A heuristic,
    not fastText — but frequency-weighted over 15-word profiles across
    7 languages, and exactly reproduced by the DuckDB twin."""
    scores = {
        lang: F.expr(_multiset_hits_expr(text_col, ws)).alias(f"{lang}_score")
        for lang, ws in LANG_STOPWORDS.items()
    }
    best = F.greatest(*[F.expr(_multiset_hits_expr(text_col, ws))
                        for ws in LANG_STOPWORDS.values()])
    chain = F.when(best <= 0, "unk")
    for lang, ws in LANG_STOPWORDS.items():
        chain = chain.when(
            F.expr(_multiset_hits_expr(text_col, ws)) == best, lang
        )
    pred = chain.otherwise("unk")
    return docs.select("doc_id", *scores.values(), pred.alias("pred_lang"))


def lang_id_sql() -> str:
    def hits(ws: tuple[str, ...]) -> str:
        arr = ", ".join(f"'{w}'" for w in ws)
        return f"len(list_filter(string_split(text, ' '), t -> list_contains([{arr}], t)))"

    score_cols = ",\n         ".join(
        f"{hits(ws)} AS {lang}_score" for lang, ws in LANG_STOPWORDS.items()
    )
    best = "greatest(" + ", ".join(f"{l}_score" for l in _LANG_ORDER) + ")"
    whens = "\n         ".join(
        f"WHEN {lang}_score = {best} THEN '{lang}'" for lang in _LANG_ORDER
    )
    return f"""
WITH s AS (
  SELECT doc_id,
         {score_cols}
  FROM documents
)
SELECT doc_id, {', '.join(f'{l}_score' for l in _LANG_ORDER)},
       CASE WHEN {best} <= 0 THEN 'unk'
         {whens}
         ELSE 'unk'
       END AS pred_lang
FROM s
"""


LANG_ID_SQL = lang_id_sql()


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/stopword-ratio quality features + a bounded linear score."""
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    stop_hits = _hits(toks, ("the", "a", "of"))
    stop_ratio = stop_hits / n_tok.cast("double")
    quality = F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (F.lit(1.0) - stop_ratio)
    return docs.select(
        "doc_id",
        F.length(text_col).alias("n_chars_obs"),
        n_tok.alias("n_tokens"),
        F.round(F.length(text_col) / n_tok.cast("double"), 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


QUALITY_SQL = """
SELECT doc_id,
       length(text) AS n_chars_obs,
       len(string_split(text, ' ')) AS n_tokens,
       round(length(text) / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS avg_token_len,
       round(len(list_intersect(string_split(text,' '), ['the','a','of']))
             / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS stopword_ratio,
       round(least(1.0, len(string_split(text,' ')) / 100.0)
             * (1.0 - len(list_intersect(string_split(text,' '), ['the','a','of']))
                / CAST(len(string_split(text,' ')) AS DOUBLE)), 6) AS quality
FROM documents
"""


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish regex piece count."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias(
            "bpe_pieces"
        ),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_pieces
FROM documents
"""


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Array of word n-grams (shared by dedup + fingerprinting).

    Built from ``n`` aligned shifted copies of the token array fused by
    nested ``zip_with`` — every lambda reads ONLY its element arguments.
    The previous formulation referenced the outer ``split(text)``
    expression inside a ``transform`` lambda, and Catalyst re-evaluates
    captured outer expressions per array element (no cross-invocation
    CSE inside higher-order functions), making shingling O(words^2)
    splits per document — measured 8x slower on the sf0.1 corpus
    (guide §1.2 'per-task work': same values, different expression
    shape).  zip_with pads the shorter side with nulls; concat
    propagates them and the final slice drops exactly that tail, so the
    output equals array_join(slice(toks, i, n), ' ') for every i."""
    toks = F.split(F.col(text_col), " ")
    cnt = F.size(toks)
    big = F.greatest(cnt, F.lit(1))
    parts = [toks] + [F.slice(toks, k + 1, big) for k in range(1, n)]
    joined = parts[-1]
    for p in reversed(parts[:-1]):
        joined = F.zip_with(p, joined, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(
        cnt >= n, F.slice(joined, 1, cnt - F.lit(n - 1))
    ).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(docs: DataFrame, text_col: str = "text", k: int = 4) -> DataFrame:
    """Min-k document fingerprint: the k smallest md5 values over word
    3-shingles (a winnowing-style sketch, SQL-reproducible)."""
    hashes = F.array_sort(
        F.transform(word_shingles(text_col), lambda s: F.md5(s))
    )
    # try_element_at: NULL out of range (matching DuckDB list indexing)
    # where ANSI element_at would throw INVALID_ARRAY_INDEX on docs with
    # fewer than k shingles
    return docs.select(
        "doc_id",
        *[F.try_element_at(hashes, F.lit(i + 1)).alias(f"fp_{i}") for i in range(k)],
    )


DOC_FINGERPRINT_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_sort(list_transform(
           list_transform(
             range(1, len(string_split(text,' ')) - 1),
             i -> array_to_string(string_split(text,' ')[i : i + 2], ' ')
           ), s -> md5(s))) AS hs
  FROM documents
)
SELECT doc_id, hs[1] AS fp_0, hs[2] AS fp_1, hs[3] AS fp_2, hs[4] AS fp_3
FROM sh
"""
