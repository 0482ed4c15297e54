"""Reference implementations the differential tests compare production
operators against.  Each computes the same values as its production
counterpart by a different route — Spark expressions where production
runs an Arrow batch, or plain Python/NumPy on the driver — and none of
them runs in the pipeline or the query registry.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
