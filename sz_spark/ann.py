"""Approximate-nearest-neighbor search over an embedding column.

* :func:`cosine_topk` — brute-force cosine top-k: the exactness baseline
  (oracle-checkable vs DuckDB's list_cosine_similarity).  The query set
  is broadcast; the corpus is scanned once; per-query top-k via a rank
  window partitioned by query.  Linear in corpus size — correct at any
  scale when the query set is small.
* :func:`random_hyperplane_buckets` / :func:`lsh_topk` — the scale path:
  sign-random-projection (SimHash-for-vectors) buckets; candidates only
  join within a bucket (multi-probe over H tables), then exact cosine
  re-ranking.  Hyperplanes derive from splitmix64 so the whole index is
  deterministic and reproducible across runs/executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def attach_cosine_arrow(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "_cos_raw"
) -> DataFrame:
    """df + unrounded cosine(a_col, b_col) computed in a mapInArrow batch,
    BIT-IDENTICAL to the Spark-expression form (zip_with/aggregate
    dot product over sqrt-of-aggregate norms, kept in tests/ as the
    oracle): the accumulation loops over dimensions sequentially
    (``acc += a[:, d] * b[:, d]``), which is exactly the JVM aggregate's
    left-to-right f64 op order — same products, same addition order,
    same sqrt/divide — so the transport cannot move a value across a
    rounding boundary.  The caller keeps F.round in the JVM.  The
    expression form evaluated one interpreted lambda per element per
    pair (guide §4.2; it also repaid the JIT-warmup cliff per fresh
    JVM) and measured slower on dedup_embedding_cosine and
    ann_cosine_topk.  Rows whose two lists differ in length or are
    non-uniform fall back per-batch to an exact per-row loop (same op
    order); NULL lists yield NULL like the expression form.
    Zero-norm/empty inputs yield NULL where the ANSI expression form
    would raise DIVIDE_BY_ZERO — no corpus contains them, and NULL is
    the tolerant contract (the threshold/rank consumers drop it)."""
    carry = [c for c in df.columns if c not in (a_col, b_col)]
    src = df.select(*carry, a_col, b_col)
    out_schema = T.StructType(
        [src.schema[c] for c in carry] + [T.StructField(out_col, T.DoubleType(), True)]
    )

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        def seq_cosine(mat_a, mat_b):
            n, d = mat_a.shape
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for k in range(d):
                a = mat_a[:, k]
                b = mat_b[:, k]
                dot += a * b
                na += a * a
                nb += b * b
            denom = np.sqrt(na) * np.sqrt(nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / denom
            return cos, denom == 0.0

        nc = len(carry)
        for batch in batches:
            ca = batch.column(nc)
            cb = batch.column(nc + 1)
            n = len(ca)
            oa = np.asarray(ca.offsets, dtype=np.int64)
            ob = np.asarray(cb.offsets, dtype=np.int64)
            la, lb = np.diff(oa), np.diff(ob)
            va = np.asarray(ca.values, dtype=np.float64)
            vb = np.asarray(cb.values, dtype=np.float64)
            uniform = (
                n > 0
                and ca.null_count == 0
                and cb.null_count == 0
                and la.min() == la.max()
                and (la == lb).all()
                and la[0] > 0
            )
            if uniform:
                d = int(la[0])
                cos, bad = seq_cosine(
                    va[oa[0] : oa[-1]].reshape(n, d), vb[ob[0] : ob[-1]].reshape(n, d)
                )
                # Spark's Divide yields NULL on a zero divisor
                out = pa.array(cos, type=pa.float64(), mask=bad)
            else:
                valid_a = np.asarray(ca.is_valid())
                valid_b = np.asarray(cb.is_valid())
                vals = []
                for i in range(n):
                    # expression-form contract: NULL list, length
                    # mismatch (zip_with null-pads -> NULL sum) and the
                    # empty/zero-norm case (Spark Divide by 0 -> NULL)
                    # all yield NULL
                    if (
                        not valid_a[i]
                        or not valid_b[i]
                        or la[i] != lb[i]
                        or la[i] == 0
                    ):
                        vals.append(None)
                        continue
                    a = va[oa[i] : oa[i] + la[i]]
                    b = vb[ob[i] : ob[i] + lb[i]]
                    c, bad = seq_cosine(a.reshape(1, -1), b.reshape(1, -1))
                    vals.append(None if bad[0] else float(c[0]))
                out = pa.array(vals, type=pa.float64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(nc)] + [out],
                list(batch.schema.names[:nc]) + [out_col],
            )

    return src.mapInArrow(fn, out_schema)


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    ``queries``: (query_id, embedding).  The broadcast hint keeps the
    corpus scan shuffle-free (queries << corpus by assumption).
    """
    from pyspark.sql import Window

    corpus = embeddings.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("emb_c")
    )
    q = queries.select(
        F.col("query_id"), F.col("embedding").cast("array<double>").alias("emb_q")
    )
    joined = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    # cosine math runs Arrow-batched with the expression form's exact f64
    # op order; rounding stays JVM-side (attach_cosine_arrow docstring)
    scored = attach_cosine_arrow(joined, "emb_c", "emb_q").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("_cos_raw", 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {n_queries}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings c JOIN q ON c.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


#: quantization scale for bucket-bit dot products: sign tests run on
#: floor(value * QUANT) int64 vectors, so the bit is EXACT integer math,
#: reproducible across numpy / DuckDB / any executor (a float dot's
#: last-ulp noise could flip a sign near zero and desync the index).
QUANT = 1000


def md5_hyperplane_signs(dim: int, n_bits: int, n_tables: int) -> np.ndarray:
    """(n_tables, n_bits, dim) ±1 hyperplanes from md5 parity — public,
    deterministic, and reproducible in SQL (parity of the first hex
    digit of md5('t|b|d')), so the whole index has a DuckDB twin."""
    import hashlib

    out = np.empty((n_tables, n_bits, dim), dtype=np.int64)
    for t in range(n_tables):
        for b in range(n_bits):
            for d in range(dim):
                h = hashlib.md5(f"{t}|{b}|{d}".encode()).hexdigest()
                out[t, b, d] = 1 if int(h[0], 16) % 2 == 0 else -1
    return out


def make_multitable_bucket_udf(dim: int, n_bits: int, n_tables: int):
    """embedding -> array<long> of n_tables bucket keys, computed in ONE
    corpus scan (one matmul against all tables' planes at once) — the
    round-1 design scanned the corpus once per table."""
    planes = md5_hyperplane_signs(dim, n_bits, n_tables).reshape(
        n_tables * n_bits, dim
    )
    weights = (1 << np.arange(n_bits, dtype=np.int64)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(embs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(e, dtype=np.float64) for e in embs])
        if mat.size == 0:
            return pd.Series([])
        q = np.floor(mat * QUANT).astype(np.int64)  # exact int sign tests
        bits = (q @ planes.T) > 0  # (n, n_tables*n_bits)
        bits = bits.reshape(len(q), n_tables, n_bits).astype(np.int64)
        keys = (bits * weights[None, None, :]).sum(axis=2)  # (n, n_tables)
        return pd.Series(list(keys))

    return buckets


def hyperplane_buckets(
    embeddings: DataFrame,
    dim: int,
    n_bits: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, table, bucket) — one scan, posexploded per table."""
    udf = make_multitable_bucket_udf(dim, n_bits, n_tables)
    return embeddings.select(
        F.col(id_col), udf(F.col("embedding")).alias("bks")
    ).select(id_col, F.posexplode("bks").alias("table", "bucket"))


def hyperplane_buckets_sql_cte(
    dim: int,
    n_bits: int = 8,
    n_tables: int = 8,
    source: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """DuckDB CTE chain (no WITH) ending in buckets(vec_id, t, bucket) —
    the exact twin of :func:`hyperplane_buckets`: ±1 md5-parity planes,
    floor(val*QUANT) int quantization, integer sign tests."""
    return f"""src AS ({source}),
qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], v -> CAST(floor(v * {QUANT}) AS BIGINT)) AS q
  FROM src
),
planes AS (
  SELECT t, b,
         list_transform(range(0, {dim}), d ->
           CASE WHEN strpos('02468ace',
                substr(md5(t || '|' || b || '|' || d), 1, 1)) > 0
                THEN 1::BIGINT ELSE -1::BIGINT END) AS svec
  FROM range(0, {n_tables}) r1(t), range(0, {n_bits}) r2(b)
),
bits AS (
  SELECT qv.vec_id, p.t, p.b,
         CASE WHEN list_inner_product(qv.q, p.svec) > 0
              THEN (1::BIGINT << p.b) ELSE 0::BIGINT END AS w
  FROM qv CROSS JOIN planes p
),
buckets AS (
  SELECT vec_id, t, CAST(sum(w) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, t
)"""


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """ANN: candidates share a bucket in >= 1 table, exact re-rank."""
    from pyspark.sql import Window

    cb = hyperplane_buckets(embeddings, dim, n_bits, n_tables)
    qe = queries.select(F.col("query_id").alias("vec_id"), "embedding")
    qb = hyperplane_buckets(qe, dim, n_bits, n_tables).withColumnRenamed(
        "vec_id", "query_id"
    )
    cand = (
        cb.join(qb, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    withv = (
        cand.join(
            embeddings.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("emb_c")
            ),
            "vec_id",
        )
        .join(
            queries.select(
                "query_id", F.col("embedding").cast("array<double>").alias("emb_q")
            ),
            "query_id",
        )
    )
    scored = attach_cosine_arrow(withv, "emb_c", "emb_q").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("_cos_raw", 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk_sql(
    n_queries: int = 10,
    k: int = 5,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 8,
) -> str:
    """DuckDB twin of :func:`lsh_topk` with queries = vec_id < n_queries
    (a corpus subset, so one buckets CTE serves both sides)."""
    return f"""
WITH {hyperplane_buckets_sql_cte(dim, n_bits, n_tables)},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
  FROM buckets c JOIN buckets q USING (t, bucket)
  WHERE q.vec_id < {n_queries} AND c.vec_id != q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id AS neighbor_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
  FROM cand
  JOIN embeddings c ON c.vec_id = cand.vec_id
  JOIN embeddings q ON q.vec_id = cand.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""
