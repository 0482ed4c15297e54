"""Differential tests for the Arrow-batched blocking and feature
operators: each must be value-identical to an independent reference —
the Spark-expression forms in tests/oracles.py, or NumPy on the driver
(guide §4.2 move — same math, compiled transport)."""

from __future__ import annotations

import oracles
import pytest

from sz_spark import blocking

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sz_spark.session import build_session

    s = build_session(master="local[4]", app_name="blocking-tests")
    yield s
    s.stop()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_bands_arrow_vs_exprs(spark):
    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumnRenamed("doc_id", "conv_id")
    )
    got = _rows(blocking.shingle_minhash_bands(d, text_col="text"))
    want = _rows(oracles.shingle_minhash_bands_exprs(d, text_col="text"))
    assert got == want
    assert len(got) > 0


def test_minhash_bands_arrow_vs_exprs_edges(spark):
    # short docs (< shingle_words tokens), empty and NULL text must be
    # dropped by both transports; 3-token docs produce one shingle
    edge = spark.createDataFrame(
        [
            (1, "a b"),
            (2, ""),
            (3, None),
            (4, "x y z"),
            (5, "one two three four"),
            (6, "a  b c d"),  # double space -> empty token, still valid
        ],
        "conv_id long, text string",
    )
    got = _rows(blocking.shingle_minhash_bands(edge, text_col="text"))
    want = _rows(oracles.shingle_minhash_bands_exprs(edge, text_col="text"))
    assert got == want
    assert {r[0] for r in got} == {4, 5, 6}


def test_triangle_arrow_vs_exprs_longs(spark):
    import random

    random.seed(7)
    rows = [
        ([random.randrange(10**6) for _ in range(random.choice([0, 1, 2, 3, 5, 17, 64]))],)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "ids array<bigint>")
    got = sorted(map(tuple, blocking.explode_lower_triangle(df).collect()))
    want = sorted(map(tuple, oracles.explode_lower_triangle_exprs(df).collect()))
    assert got == want


def test_triangle_arrow_vs_exprs_strings(spark):
    import random

    random.seed(11)
    rows = [
        ([f"c{random.randrange(1000)}" for _ in range(random.choice([2, 3, 9]))],)
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "ids array<string>")
    got = sorted(map(tuple, blocking.explode_lower_triangle(df).collect()))
    want = sorted(map(tuple, oracles.explode_lower_triangle_exprs(df).collect()))
    assert got == want


def test_triangle_arrow_vs_exprs_structs(spark):
    """Struct elements order field-lexicographically, as least/greatest
    do: ties on the first field are broken by the second."""
    import random

    random.seed(13)
    rows = [
        ([(random.randrange(5), f"s{random.randrange(4)}")
          for _ in range(random.choice([0, 1, 2, 3, 6, 11]))],)
        for _ in range(150)
    ]
    rows.append(([(2, "y"), (2, "x"), (1, "z"), (2, "x")],))
    df = spark.createDataFrame(rows, "ids array<struct<doc_id:bigint,simhash:string>>")
    got = sorted(map(tuple, blocking.explode_lower_triangle(df, out=("pa", "pb")).collect()))
    want = sorted(map(tuple, oracles.explode_lower_triangle_exprs(df, out=("pa", "pb")).collect()))
    assert got == want
    assert ((2, "x"), (2, "y")) in got and ((2, "x"), (2, "x")) in got


def test_block_pairs_uncapped_equals_brute_force(spark):
    """Uncapped block_pairs == every unordered pair of ids sharing a
    (band_id, band_hash) key, once: (1, 2) shares two keys, key (1, 30)
    holds one id only, and uncapped no block is suppressed."""
    import itertools

    rows = [
        (1, 0, 10), (2, 0, 10), (3, 0, 10),
        (1, 1, 20), (2, 1, 20), (4, 1, 20),
        (5, 1, 30),
        (4, 2, 10), (5, 2, 10),
    ]
    bands = spark.createDataFrame(rows, "conv_id long, band_id int, band_hash long")
    want = {
        (a, b)
        for key in {(r[1], r[2]) for r in rows}
        for a, b in itertools.combinations(
            sorted(r[0] for r in rows if (r[1], r[2]) == key), 2
        )
    }
    got = [tuple(r) for r in blocking.block_pairs(bands).collect()]
    assert sorted(got) == sorted(want) == [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5)
    ]
    assert blocking.suppressed_blocks(bands).collect() == []


def test_triangle_chunked_large_block(spark):
    # one block far above the flush threshold exercises output chunking
    n = 1500  # ~1.1M pairs > the 256k flush bound
    df = spark.createDataFrame([(list(range(n)),)], "ids array<bigint>")
    assert blocking.explode_lower_triangle(df).count() == n * (n - 1) // 2


def test_cosine_arrow_vs_exprs(spark):
    """attach_cosine_arrow must be BIT-identical to the _dot/_norm
    expression form (same sequential f64 op order), including the NULL
    contract for mismatched/empty/NULL lists."""
    from sz_spark import ann

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.5, -0.25, 0.125], [0.5, -0.25, 0.125]),
        (3, [1e-8, 2e8, -3.5], [7.25, 0.0, 1.0]),
        (4, [1.0, 2.0], [1.0, 2.0, 3.0]),  # length mismatch -> NULL
        (5, None, [1.0, 2.0, 3.0]),  # NULL list -> NULL
    ]
    df = spark.createDataFrame(rows, "k long, a array<double>, b array<double>")
    got = {
        r["k"]: r["_cos_raw"]
        for r in ann.attach_cosine_arrow(df, "a", "b").collect()
    }
    want = {r["k"]: r["_cos_raw"] for r in oracles.cosine_exprs(df, "a", "b").collect()}
    assert got == want  # exact equality, float bits included
    assert want[4] is None and want[5] is None


def test_cosine_arrow_zero_norm_is_null(spark):
    # the ANSI expression form raises DIVIDE_BY_ZERO here; the Arrow
    # transport returns NULL (tolerant contract — no corpus hits this)
    from sz_spark import ann

    df = spark.createDataFrame(
        [(6, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]), (7, [], [])],
        "k long, a array<double>, b array<double>",
    )
    out = {r["k"]: r["_cos_raw"] for r in ann.attach_cosine_arrow(df, "a", "b").collect()}
    assert out == {6: None, 7: None}


def test_byte_histogram_batch_matches_per_row():
    """arrow_kernels.pack_histograms over one flat batch == a per-row bincount of
    each document's UTF-8 bytes (control bytes, DEL, multi-byte
    characters, empty and NULL text included), and unpack_histograms
    round-trips the packed blobs."""
    import pyarrow as pa

    from sz_spark.arrow_kernels import arrow_binary_flat, pack_histograms, unpack_histograms

    texts = ["hello world!", "", "\x01\x7f\x80 abc", None, "~" * 70000]
    arr = pa.array([None if t is None else t.encode() for t in texts], pa.binary())
    packed = pack_histograms(*arrow_binary_flat(arr))
    assert [len(b) for b in packed.to_pylist()] == [192] * len(texts)
    got = unpack_histograms(packed).tolist()
    # bins saturate at the u16 maximum (the 70 KB doc's '~' bin)
    want = [[min(c, 65535) for c in oracles.byte_histogram(t)] for t in texts]
    assert got == want
    assert got[-1][ord("~") - 32] == 65535


def test_distinct_shingles_arrow_vs_exprs(spark):
    from sz_spark import dedup

    edge = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None), (4, "x y z"), (5, "r r r r r"), (6, "a  b c")],
        "doc_id long, text string",
    )
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (edge, d):
        got = sorted(map(tuple, dedup._distinct_shingles_exploded(df).collect()))
        want = sorted(map(tuple, oracles.distinct_shingles_exprs(df).collect()))
        assert got == want


def test_doc_features_matches_unfused_paths(spark):
    """blocking.doc_features must match independent references for
    every column: ``pk`` the xxhash64 of the 56-character prefix,
    ``bk`` 96-dim kernels.fingerprints + the splitmix64 combine of 24
    bands of 4, ``len`` the codepoint length and ``hist`` the
    per-document bincount."""
    import numpy as np
    from pyspark.sql import functions as F

    from sz_spark import canonicalize as canon, kernels as K
    from sz_spark.transcripts import build_transcripts

    n_bands, rows_per_band = blocking.N_BANDS, blocking.ROWS_PER_BAND
    assert (blocking.NDIM, blocking.FP_WIDTHS, blocking.FP_SEED) == (96, (16, 24, 32, 48), 0)
    assert (n_bands, rows_per_band, blocking.PREFIX_LEN) == (24, 4, 56)
    docs = canon.canonicalize(
        build_transcripts(spark, "/root/testdata/sf0.001")
    ).withColumn("did", F.xxhash64("conv_id"))
    feats = blocking.doc_features(docs, id_col="did")
    got = {r["did"]: r for r in feats.collect()}

    ref = docs.select(
        "did", "doc", F.xxhash64(F.substring("doc", 1, 56)).alias("pk")
    ).collect()
    assert len(ref) == len(got) > 0
    texts = [r["doc"].encode() for r in ref]
    h, _ = K.fingerprints(
        texts, ndim=blocking.NDIM, widths=blocking.FP_WIDTHS, seed=blocking.FP_SEED
    )
    h = h.astype(np.uint64)
    keys = np.empty((len(texts), n_bands), dtype=np.uint64)
    for b in range(n_bands):
        acc = np.full(len(texts), b + 1, dtype=np.uint64)
        for k in range(rows_per_band):
            acc = K.splitmix64(acc ^ h[:, b * rows_per_band + k])
        keys[:, b] = acc
    keys = keys.astype(np.int64)
    for i, r in enumerate(ref):
        row = got[r["did"]]
        assert row["bk"] == keys[i].tolist()
        assert row["pk"] == r["pk"]
        assert row["len"] == len(r["doc"])
        hist = np.frombuffer(row["hist"], dtype="<u2").tolist()
        assert hist == oracles.byte_histogram(r["doc"])
