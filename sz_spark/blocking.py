"""MinHash-LSH blocking: fingerprint -> band signatures -> candidate blocks.

Two signature families:

* :func:`doc_features` — the reference-conformant rolling-hash MinHash
  (sz_spark.kernels, byte-exact vs stringzillas' Fingerprints engine),
  its band keys and the layered prefix key, computed in one Arrow pass
  per batch of documents; :func:`bands_from_features` explodes the
  feature table into (id, band_id, band_hash).  This is the pipeline's.
* :func:`shingle_minhash_bands` — an md5-over-shingles MinHash whose
  math is *also* expressible in SQL (:func:`shingle_minhash_bands_sql`),
  used by the DuckDB correctness oracle so the whole blocking stage is
  value-checked end-to-end.

Scale design: above the gather gate, banding is the pipeline's ONE
deliberate shuffle before pair scoring (:func:`block_pairs`); below it
the blocks come from the broadcast block keys in one narrow pass
(:func:`block_pairs_gathered`).  Oversized blocks (stop-band
signatures) are suppressed inside pair emission on both tiers — the
classic LSH guard; at 10^12 turns a single hot band would otherwise
generate O(n^2) pairs.  Both tiers return pairs only: the list of
suppressed blocks is a report, built on demand from the band rows by
:func:`suppressed_blocks`.  AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Blocking fingerprints use LARGER window widths than the engine default
# {3..31}: tiny windows over a small vocabulary are shared by every
# document (zero discrimination), while 16-48-byte windows span multiple
# words/salts.  Measured on the sf0.001 corpus: default widths at r=4
# give 51k candidates; these widths give ~410 at 100% true-pair recall.
FP_WIDTHS = (16, 24, 32, 48)
# 4 rows per band: at pair similarity ~0.95 the per-dim minhash
# agreement on SHORT docs can dip to ~0.7 (the edit window covers a
# large text fraction); r=8 then misses ~5-6% of true pairs while r=4
# keeps the measured miss rate at 0 with barely more candidates.
ROWS_PER_BAND = 4
# 24 bands: measured A/B at sf0.1 (BASELINE.md), recall/F1 = 1.000000 at
# 128, 96 and 64 dims alike (the layered prefix key carries the short
# docs), while 96 dims cut the pipeline wall ~45%.  64 also held on
# THIS corpus; 96 keeps a robustness margin for corpora whose band
# agreement is weaker.
N_BANDS = 24
# the fingerprint dimensions the bands read, and so the ones computed
NDIM = N_BANDS * ROWS_PER_BAND
FP_SEED = 0
# The layered prefix block key (band_id -1), unioned with the minhash
# bands, is the ER-classic "block on a strong attribute" key.  Short
# documents have too few rolling windows for reliable band agreement
# (measured: 14/3753 true pairs at sf0.1 were 2-turn docs missed by all
# 32 bands then in use); their shared conversation-handle prefix
# recovers them.  The prefix must COVER the strong attribute: the
# synthetic corpus's conversation handle is 49 bytes ('u' + 6 digits
# x 8).  A 32-byte prefix cut it mid-handle, so every block mixed
# dozens of entities sharing leading digits; at 56 bytes each prefix
# block is one entity (its 2-3 conversation variants), recall is
# identical (same-entity variants share the WHOLE handle by
# construction), and the prefix layer's pair cost is O(n).  The block
# cap applies to prefix blocks like any other.
PREFIX_LEN = 56


def doc_features(docs: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """docs -> (id, len, pk long, bk array<long>, hist binary): the
    fused per-document feature table — the block keys (``pk`` the
    layered prefix key over the first PREFIX_LEN characters of ``doc``;
    ``bk`` the N_BANDS LSH band keys, arrow_kernels.band_keys) AND the
    packed prune histogram (arrow_kernels.pack_histograms) from ONE pass
    over the doc bytes.

    The pipeline materializes this narrow frame once and derives the
    band explosion (:func:`bands_from_features`), the prune attributes
    and the gather tier's block-key broadcast from it, so the corpus
    text crosses the JVM->Python boundary a single time (guide §4.1)
    and the checkpoint stores ~26 longs + 192 B per document instead of
    the 3.3M-row exploded band table.

    The Python pass runs on ``docs``' own partitions: the caller hands
    in a frame already spread across the cores (the pipeline's
    ``canonical_docs`` checkpoint comes out of canonicalize's groupBy at
    shuffle width); a single-partition scan would run it on one core."""
    from pyspark.sql import types as T

    from sz_spark.arrow_kernels import make_doc_features_arrow_fn

    src = docs.select(
        F.col(id_col),
        F.length(F.col("doc")).alias("len"),
        F.xxhash64(F.substring(F.col("doc"), 1, PREFIX_LEN)).alias("pk"),
        F.encode(F.col("doc"), "utf-8").alias("_t"),
    )
    out_schema = T.StructType(
        [
            src.schema[id_col],
            src.schema["len"],
            src.schema["pk"],
            T.StructField("bk", T.ArrayType(T.LongType()), False),
            T.StructField("hist", T.BinaryType(), False),
        ]
    )
    return src.mapInArrow(make_doc_features_arrow_fn(), out_schema)


def bands_from_features(
    feats: DataFrame, docs: DataFrame | None = None, id_col: str = "conv_id"
) -> DataFrame:
    """(id, band_id, band_hash) derived from a :func:`doc_features`
    frame: the prefix key ``pk`` as band -1 plus the posexplode of the
    band keys.  Reads only ``feats`` (the prefix key is computed in
    doc_features); ``docs`` is accepted for two-argument callers and
    unused."""
    bands = feats.select(
        id_col, F.posexplode("bk").alias("band_id", "band_hash")
    )
    prefix = feats.select(
        id_col, F.lit(-1).alias("band_id"), F.col("pk").alias("band_hash")
    )
    return prefix.unionByName(bands)


def block_pairs(
    bands: DataFrame,
    id_col: str = "conv_id",
    max_block_size: int | None = None,
) -> DataFrame:
    """Every unordered in-block pair (id_a, id_b), id_a < id_b, once,
    from rows keyed by (band_id, band_hash): the one operator that
    turns keyed rows into in-block pairs.  Callers select their own key
    columns as band_id/band_hash.

    Plan: the ids are grouped per key, each block's list is collected
    and its lower triangle emitted in-array
    (:func:`explode_lower_triangle`, no self-join), and the pairs are
    deduplicated across keys — two shuffles.  With a ``max_block_size``
    cap, a window count on the same hash partitioning drops blocks of
    more than ``max_block_size`` members (stop-bands) BEFORE any list is
    collected, so a pathological block can never OOM an aggregation
    task; :func:`suppressed_blocks` lists the dropped blocks.  Per-block
    work is then bounded by cap^2 cheap emissions in one task, so no
    block needs salting across reducers.  ``None`` means uncapped.
    This is the join tier's blocking; below the gather gate the
    pipeline builds the same blocks from the broadcast keys with no
    band rows and no shuffle (:func:`block_pairs_gathered`)."""
    keys = ("band_id", "band_hash")
    if max_block_size is None:
        blocks = (
            bands.groupBy(*keys)
            .agg(F.collect_list(F.col(id_col)).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
    else:
        from pyspark.sql import Window

        size = F.col("block_size")
        blocks = (
            bands.withColumn(
                "block_size", F.count(F.lit(1)).over(Window.partitionBy(*keys))
            )
            .filter((size <= max_block_size) & (size >= 2))
            .groupBy(*keys)
            .agg(F.collect_list(F.col(id_col)).alias("ids"))
        )
    return explode_lower_triangle(blocks, "ids").dropDuplicates(["id_a", "id_b"])


def suppressed_blocks(bands: DataFrame, max_block_size: int | None = None) -> DataFrame:
    """The stop-band blocks both pairs tiers drop: (band_id, band_hash,
    block_size) of every key of ``bands`` holding more than
    ``max_block_size`` rows; empty when uncapped.  A lazy report for
    run summaries — neither tier reads it to emit pairs."""
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("block_size"))
        .filter(F.col("block_size") > _cap(max_block_size))
    )


def block_pairs_gathered(
    spark,
    prune_bc,
    threshold: float,
    max_block_size: int | None = None,
) -> DataFrame:
    """The gather tier's pairs: :func:`block_pairs` + the
    length/histogram prune, built straight from the broadcast block
    keys — returns the surviving (id_a, id_b), id_a < id_b, from one
    narrow pass with no band rows, no exchange and no aggregate.

    ``prune_bc`` is scoring.build_prune_broadcast's value: per-doc
    len/hist, every doc's block keys (row 0 the prefix key, row k+1
    band k) and their block sizes, id-sorted.  The pass is
    ``spark.range(P)`` with P = min(defaultParallelism, key rows), one
    row per task; each task rebuilds the blocks of its key rows with
    one argsort per row (:func:`_gathered_task_pairs`).  A pair leaves
    only from the LOWEST key row in which its docs share a kept block
    (2 <= size <= max_block_size): dedup by construction (the ICDE'19
    metric-join partitioning idea).  The size check matters: a pair's
    first collision can sit in a suppressed stop-band block, and it
    must then come from its next kept row.  The same pass applies the
    length + histogram prune (arrow_kernels.prune_keep, as
    scoring.prune_pairs_arrow does), so the set equals block_pairs +
    prune_pairs_arrow over bands_from_features of the same table."""
    from pyspark.sql import types as T

    n_tasks = max(
        1, min(spark.sparkContext.defaultParallelism, len(prune_bc.value[3]))
    )
    out_schema = T.StructType(
        [T.StructField("id_a", T.LongType(), False),
         T.StructField("id_b", T.LongType(), False)]
    )

    def fn(batches):
        import pyarrow as pa

        from sz_spark.arrow_kernels import arrow_from_numpy

        value = prune_bc.value
        for batch in batches:
            for task in batch.column(0).to_pylist():
                for a, b in _gathered_task_pairs(
                    value, task, n_tasks, max_block_size, threshold
                ):
                    yield pa.RecordBatch.from_arrays(
                        [arrow_from_numpy(a), arrow_from_numpy(b)], ["id_a", "id_b"]
                    )

    return spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(fn, out_schema)


def _cap(max_block_size: int | None) -> float:
    """The block-size cap as a number block sizes compare against."""
    return float("inf") if max_block_size is None else max_block_size


def _snake_rows(task: int, n_tasks: int, n_rows: int) -> list:
    """The key rows dealt to ``task`` in snake order (t, 2P-1-t, 2P+t,
    ...): a higher row re-checks every lower row, so alternating the
    deal direction evens out the per-task cost."""
    rows = []
    for base in range(0, n_rows, n_tasks):
        forward = (base // n_tasks) % 2 == 0
        r = base + (task if forward else n_tasks - 1 - task)
        if r < n_rows:
            rows.append(r)
    return rows


def _gathered_task_pairs(
    value, task: int, n_tasks: int, max_block_size: int | None,
    threshold: float, max_pairs: int = 1 << 16,
):
    """Yield the surviving (id_a, id_b) int64 arrays of ``task``'s key
    rows (see :func:`block_pairs_gathered`); ``value`` is the prune
    broadcast's tuple.

    Per row, a stable argsort of the keys lays each block out as one
    run of doc positions in ascending order; runs of 2..max_block_size
    are the kept blocks, and their triangles come from _triangle_chunks
    over the sorted positions.  Positions index the id-sorted arrays
    directly (no id lookup), and the earlier position of a pair is the
    smaller id."""
    import numpy as np

    from sz_spark.arrow_kernels import prune_keep

    ids, lens, hists, keys, sizes = value
    cap = _cap(max_block_size)
    for j in _snake_rows(task, n_tasks, len(keys)):
        order = np.argsort(keys[j], kind="stable")
        sk = keys[j][order]
        bounds = np.concatenate(
            ([0], np.flatnonzero(sk[1:] != sk[:-1]) + 1, [len(sk)])
        )
        run = np.diff(bounds)
        kept = (run >= 2) & (run <= cap)
        if not kept.any():
            continue
        pos = order[np.repeat(kept, run)]
        offsets = np.concatenate(([0], np.cumsum(run[kept])))
        for ia, ib in _triangle_chunks(offsets, max_pairs):
            pa_, pb_ = pos[ia], pos[ib]
            # emit only from the first row sharing a KEPT block
            for i in range(j):
                ki = keys[i]
                dup = (ki[pa_] == ki[pb_]) & (sizes[i][pa_] <= cap)
                if dup.any():
                    pa_, pb_ = pa_[~dup], pb_[~dup]
            keep = prune_keep(lens, hists, pa_, pb_, threshold)
            sel = np.nonzero(keep)[0]
            if len(sel):
                yield ids[pa_[sel]], ids[pb_[sel]]


def explode_lower_triangle(
    blocks: DataFrame, ids_col: str = "ids", out: tuple = ("id_a", "id_b")
) -> DataFrame:
    """All unordered element pairs (out[0] < out[1]) from each block's
    array — the in-array replacement for a block self-join.

    A vectorized Arrow pair emitter (:func:`_triangle_arrow_fn`): NumPy
    triu index tables gather both pair sides straight from the list
    column's flat values buffer, so per-pair cost is a compiled gather +
    compare instead of an interpreted transform/slice/struct lambda per
    element (guide §4.2; the lambda path also paid the JIT-warmup cliff
    on every fresh JVM).  Output batches are chunked (<= ~256k pairs) so
    a near-cap block never materializes O(size^2) rows in one
    allocation.  Pairs are ordered as Spark's least/greatest order them:
    integers and strings by value, structs field-lexicographically (so
    lead a struct with the id)."""
    from pyspark.sql import types as T

    elem = blocks.schema[ids_col].dataType.elementType
    src = blocks.select(F.col(ids_col).alias("_ids"))
    out_schema = T.StructType(
        [T.StructField(out[0], elem, True), T.StructField(out[1], elem, True)]
    )
    return src.mapInArrow(_triangle_arrow_fn(out), out_schema)


def _triangle_chunks(offsets, max_pairs: int):
    """Yield (ia, ib) int64 index arrays into the flat values of a list
    column with these offsets: every unordered in-list pair once.
    Lists are grouped by size so each group's pair indices come from
    one broadcasted triu table (fully vectorized), and the output is
    chunked at ~max_pairs so a near-cap block never materializes
    O(size^2) indices in one allocation."""
    import numpy as np

    starts = offsets[:-1]
    sizes = np.diff(offsets)
    order = np.argsort(sizes, kind="stable")
    by_size = sizes[order]
    pend_a: list = []
    pend_b: list = []
    pend = 0
    for s in np.unique(by_size[by_size >= 2]):
        lo, hi = np.searchsorted(by_size, [s, s + 1])
        group = starts[order[lo:hi]]
        ii, jj = np.triu_indices(int(s), 1)
        rows_per = max(1, max_pairs // len(ii))
        for g0 in range(0, len(group), rows_per):
            g = group[g0 : g0 + rows_per, None]
            pend_a.append((g + ii).ravel())
            pend_b.append((g + jj).ravel())
            pend += len(pend_a[-1])
            if pend >= max_pairs:
                yield np.concatenate(pend_a), np.concatenate(pend_b)
                pend_a, pend_b, pend = [], [], 0
    if pend:
        yield np.concatenate(pend_a), np.concatenate(pend_b)


def _triangle_arrow_fn(out: tuple, max_pairs_per_batch: int = 1 << 18):
    """RecordBatch (ids list<T>) -> (out0 T, out1 T): every unordered
    in-list pair, out0 = min, out1 = max in :func:`_arrow_le`'s order."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from sz_spark.arrow_kernels import arrow_from_numpy, numpy_view

        for batch in batches:
            col = batch.column(0)
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            # ListArray.offsets respects the logical slice and indexes
            # into .values (the unsliced child), so absolute takes work
            offsets = numpy_view(col.offsets).astype(np.int64)
            values = col.values
            emitted_any = False
            for ia, ib in _triangle_chunks(offsets, max_pairs_per_batch):
                va = values.take(arrow_from_numpy(ia))
                vb = values.take(arrow_from_numpy(ib))
                lt = _arrow_le(va, vb)
                emitted_any = True
                yield pa.RecordBatch.from_arrays(
                    [pc.if_else(lt, va, vb), pc.if_else(lt, vb, va)],
                    [out[0], out[1]],
                )
            if not emitted_any:
                # mapInArrow tolerates empty output, but keep the stream
                # well-typed for readers that peek the first batch
                yield pa.RecordBatch.from_arrays(
                    [values.slice(0, 0), values.slice(0, 0)], [out[0], out[1]]
                )

    return fn


def _arrow_le(a, b):
    """Element-wise ``a <= b`` of two Arrow arrays in the order of
    Spark's least/greatest: by value for integers and strings (UTF-8
    bytes), field by field for structs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not pa.types.is_struct(a.type):
        return pc.less_equal(a, b)
    le = None
    for x, y in reversed(list(zip(a.flatten(), b.flatten()))):
        x_le_y = _arrow_le(x, y)
        # x < y, or x == y and the later fields <=: not(y <= x) or (x <= y and le)
        le = x_le_y if le is None else pc.or_(pc.invert(_arrow_le(y, x)), pc.and_(x_le_y, le))
    return le


# ---------------------------------------------------------------------------
# SQL-expressible MinHash variant (oracle-checkable end to end)
# ---------------------------------------------------------------------------


def shingle_minhash_bands(
    docs: DataFrame,
    text_col: str = "doc",
    id_col: str = "conv_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """MinHash over word shingles using md5 as the hash family —
    deterministic and reproducible in DuckDB SQL (see
    :func:`shingle_minhash_bands_sql`).

    sig[k] = min over shingles s of md5(k || '|' || s) (hex string order);
    band j = hash-of-concat of its rows.

    The transport is an Arrow-batched mapInArrow running hashlib's C
    md5 (guide §4.2): the same math as Spark expressions evaluates 8
    md5s per shingle through interpreted higher-order-function lambdas,
    and its first executions run before HotSpot has compiled those
    paths — measured 11-13 s cold vs 2.3 s steady-state for
    dedup_minhash_lsh at sf0.1, with ~2 busy cores and zero steal/GC
    during the cold runs (pure JIT-warmup wall).  hashlib is compiled C
    from call one, so the cold and steady costs coincide.  Values are
    bit-identical to that expression form (md5 hex is md5 hex; byte
    order == hex-string order), which tests/test_blocking.py keeps as
    its oracle.

    Like :func:`doc_features`, the Python pass runs on ``docs``' own
    partitions; a caller with a bare scan spreads it first.
    """
    from pyspark.sql import types as T

    src = docs.select(id_col, F.col(text_col).alias("_t"))
    out_schema = T.StructType(
        [src.schema[id_col]]
        + [T.StructField(f"band_{b}", T.StringType(), False) for b in range(n_bands)]
    )
    fn = _shingle_band_arrow_fn(shingle_words, n_hashes, n_bands)
    return src.mapInArrow(fn, out_schema)


def _shingle_band_arrow_fn(shingle_words: int, n_hashes: int, n_bands: int):
    """RecordBatch (id, text) -> (id, band_0..band_{n_bands-1}); rows
    with no shingles (fewer than ``shingle_words`` tokens) are dropped,
    matching the SQL form's ``len(shingles) > 0`` filter.
    Digest-bytes are compared instead of hexdigest strings — hex
    rendering is byte-order-monotone, so the min is the same shingle."""
    rows_per_band = n_hashes // n_bands

    def fn(batches):
        import pyarrow as pa
        from hashlib import md5

        pre = [f"{k}|".encode() for k in range(n_hashes)]
        kr = range(n_hashes)
        br = range(n_bands)
        # Cross-document digest cache, kept for the whole task: corpora
        # repeat shingles heavily (measured 9.6x at sf0.1), and min over
        # a document's DISTINCT shingles equals min over all of them, so
        # each unique shingle's 8 digests are computed once per task
        # instead of once per occurrence.  Bounded so a pathological
        # vocabulary cannot grow it without limit (entries past the cap
        # are computed but not stored).
        cache: dict[str, tuple] = {}
        cache_cap = 1 << 20
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            keep: list[int] = []
            bands_out: list[list[str]] = [[] for _ in br]
            for i, t in enumerate(texts):
                toks = ("" if t is None else t).split(" ")
                m = len(toks) - shingle_words + 1
                if m < 1:
                    continue
                digs = []
                for j in range(m):
                    s = " ".join(toks[j : j + shingle_words])
                    d = cache.get(s)
                    if d is None:
                        sb = s.encode()
                        d = tuple(md5(pre[k] + sb).digest() for k in kr)
                        if len(cache) < cache_cap:
                            cache[s] = d
                    digs.append(d)
                mh = [min(d[k] for d in digs).hex() for k in kr]
                keep.append(i)
                for b in br:
                    bands_out[b].append(
                        md5(
                            "|".join(
                                mh[b * rows_per_band : (b + 1) * rows_per_band]
                            ).encode()
                        ).hexdigest()
                    )
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(keep, type=pa.int32()))]
                + [pa.array(c, type=pa.string()) for c in bands_out],
                [batch.schema.names[0]] + [f"band_{b}" for b in br],
            )

    return fn


def shingle_minhash_bands_ctes(
    docs_cte: str,
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> str:
    """CTE chain (no leading WITH) ending in
    ``final_bands(conv_id, band_0..band_{n_bands-1})`` — composable into
    larger oracle statements."""
    rows_per_band = n_hashes // n_bands
    mh_exprs = ",\n       ".join(
        "list_min(list_transform(shingles, s -> md5('{k}|' || s))) AS mh_{k}".format(k=k)
        for k in range(n_hashes)
    )
    band_exprs = ",\n       ".join(
        "md5({parts}) AS band_{b}".format(
            parts=" || '|' || ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
            b=b,
        )
        for b in range(n_bands)
    )
    return f"""docs AS ({docs_cte}),
sh AS (
  SELECT conv_id,
         list_transform(
           range(1, len(string_split(doc, ' ')) - {shingle_words - 2}),
           i -> array_to_string(string_split(doc, ' ')[i : i + {shingle_words - 1}], ' ')
         ) AS shingles
  FROM docs
),
sigs AS (
  SELECT conv_id,
         {mh_exprs}
  FROM sh WHERE len(shingles) > 0
),
final_bands AS (
  SELECT conv_id,
         {band_exprs}
  FROM sigs
)"""


def shingle_minhash_bands_sql(
    docs_cte: str,
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> str:
    """DuckDB twin of :func:`shingle_minhash_bands`."""
    ctes = shingle_minhash_bands_ctes(docs_cte, shingle_words, n_hashes, n_bands)
    return f"WITH {ctes}\nSELECT * FROM final_bands"
