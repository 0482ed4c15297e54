"""Conformance tests for the exact AES-based sz.hash (sz_spark.szhash).

Correctness is established by four independent layers:
1. FROZEN GROUND-TRUTH VECTORS generated by compiling the reference's
   own serial kernel (gcc + include/stringzilla/hash/serial.h via the
   public sz_hash_serial / sz_hash_multiseed_serial /
   sz_fill_random_serial / sz_hash_state_* API) — see
   scripts/gen_szhash_vectors.c; tests/data/szhash_vectors.json pins
   138 digests across every ladder branch, chunk boundary, seed, and
   streaming split.  This makes the module bit-exact BY MEASUREMENT,
   not just by construction;
2. an INDEPENDENTLY-derived AESENC twin built straight from FIPS-197's
   column-major state/ShiftRows/MixColumns definitions (different code
   structure from szhash.aesenc's row-major serial emulation) — the two
   must agree on random inputs;
3. the published pseudocode's structural properties (README.md:752-830):
   seed sensitivity, length mixing, 64-byte ladder continuity, the
   4-lane fold for long inputs;
4. streaming == one-shot at every chunk split (the reference's
   sz_hash_state_update/digest contract, hash/serial.h:601-657).

``sz_fill_random`` (sz.random's AES-CTR stream) is defined here rather
than in sz_spark.szhash: nothing in the library generates random bytes,
and the same frozen vectors pin it to the compiled reference.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from sz_spark.kernels import flat_from_bytes
from sz_spark.szhash import (
    PI,
    SBOX,
    SzHasher,
    aesenc,
    sz_hash,
    sz_hash_flat,
    sz_hash_multiseed,
)


def sz_hash_batch(texts: list[bytes], seed: int = 0) -> np.ndarray:
    """szhash.sz_hash_flat over a list of byte strings."""
    data, offsets = flat_from_bytes(texts)
    return sz_hash_flat(data, offsets, seed)


def sz_fill_random(length: int, nonce: int = 0) -> bytes:
    """Exact `sz.random` / `sz_fill_random` byte stream (AES-CTR with one
    AESENC round, hash/serial.h:953-968): block L is
    AESENC([nonce+L, nonce+L], [nonce ^ pi[2L%8], nonce ^ pi[2L%8+1]]),
    rotating through the first 512 bits of pi; output truncated to
    `length`.  Vectorized: all blocks in one aesenc call."""
    if length <= 0:
        return b""
    n_blocks = (length + 15) // 16
    lanes = np.arange(n_blocks, dtype=np.uint64)
    nn = np.uint64(nonce)
    inp = np.empty((n_blocks, 2), dtype=np.uint64)
    inp[:, 0] = nn + lanes
    inp[:, 1] = nn + lanes
    key = np.empty((n_blocks, 2), dtype=np.uint64)
    key[:, 0] = nn ^ PI[2 * (lanes % np.uint64(4))]
    key[:, 1] = nn ^ PI[2 * (lanes % np.uint64(4)) + np.uint64(1)]
    out = aesenc(inp.view(np.uint8).reshape(n_blocks, 16),
                 key.view(np.uint8).reshape(n_blocks, 16))
    return out.reshape(-1).tobytes()[:length]


def _aesenc_fips(state16: bytes, key16: bytes) -> bytes:
    """Independent AESENC: FIPS-197 column-major construction.
    state[r][c] = input[c*4+r]; ShiftRows rotates row r left by r;
    MixColumns multiplies by the [2,3,1,1] circulant in GF(2^8)."""

    def xtime(a):
        return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1

    def mul(a, b):
        r = 0
        while b:
            if b & 1:
                r ^= a
            a = xtime(a)
            b >>= 1
        return r

    st = [[state16[c * 4 + r] for c in range(4)] for r in range(4)]
    st = [[SBOX[v] for v in row] for row in st]  # SubBytes
    st = [row[r:] + row[:r] for r, row in enumerate(st)]  # ShiftRows
    out = [[0] * 4 for _ in range(4)]
    m = [[2, 3, 1, 1], [1, 2, 3, 1], [1, 1, 2, 3], [3, 1, 1, 2]]
    for c in range(4):
        for r in range(4):
            out[r][c] = (
                mul(m[r][0], st[0][c]) ^ mul(m[r][1], st[1][c])
                ^ mul(m[r][2], st[2][c]) ^ mul(m[r][3], st[3][c])
            )
    flat = bytes(out[k % 4][k // 4] for k in range(16))
    return bytes(a ^ b for a, b in zip(flat, key16))


def test_aesenc_matches_independent_fips_construction():
    rng = random.Random(42)
    for _ in range(300):
        st = bytes(rng.randrange(256) for _ in range(16))
        rk = bytes(rng.randrange(256) for _ in range(16))
        got = aesenc(
            np.frombuffer(st, dtype=np.uint8)[None, :],
            np.frombuffer(rk, dtype=np.uint8)[None, :],
        )[0].tobytes()
        assert got == _aesenc_fips(st, rk)


def test_basic_properties():
    fox = b"the quick brown fox jumps over the lazy dog"
    assert sz_hash(fox, 0) == sz_hash(fox, 0)  # deterministic
    assert sz_hash(fox, 0) != sz_hash(fox, 1)  # seed sensitivity
    assert sz_hash(fox, 0) != sz_hash(fox + b"\x00", 0)  # length is mixed in
    assert sz_hash(b"", 0) != sz_hash(b"\x00", 0)
    # embedded NULs count (reference test/hash.cpp:176-178)
    assert sz_hash(b"abc\x00def", 0) != sz_hash(b"abc", 0)


@pytest.mark.parametrize("n", [0, 1, 15, 16, 17, 31, 32, 33, 47, 48, 49,
                               63, 64, 65, 100, 128, 129, 192, 200, 1000])
def test_batch_equals_scalar_across_the_ladder(n):
    rng = random.Random(n)
    texts = [bytes(rng.randrange(256) for _ in range(n)) for _ in range(5)]
    batch = sz_hash_batch(texts, seed=7)
    for t, h in zip(texts, batch):
        assert int(h) == sz_hash(t, 7)


def test_ladder_buckets_differ():
    # adjacent ladder buckets must not collide trivially
    vals = {n: sz_hash(b"a" * n, 0) for n in (16, 17, 32, 33, 48, 49, 64, 65)}
    assert len(set(vals.values())) == len(vals)


def test_streaming_equals_one_shot_every_split():
    rng = random.Random(99)
    text = bytes(rng.randrange(256) for _ in range(200))
    want = sz_hash(text, seed=5)
    for cut1 in range(0, 201, 13):
        for cut2 in range(cut1, 201, 31):
            h = SzHasher(seed=5)
            h.update(text[:cut1]).update(text[cut1:cut2]).update(text[cut2:])
            assert h.digest() == want, (cut1, cut2)


def test_streaming_short_inputs():
    for n in (0, 5, 16, 40, 64):
        t = bytes(range(n))
        assert SzHasher(3).update(t).digest() == sz_hash(t, 3)


def test_multiseed_is_per_seed_replay():
    t = b"multiseed replay equivalence"
    seeds = [0, 1, 42, 2**63]
    got = sz_hash_multiseed(t, seeds)
    assert [int(v) for v in got] == [sz_hash(t, s) for s in seeds]


def test_fill_random_structure():
    # block L == AESENC([nonce+L]*2, [nonce ^ pi[2L%8 .. +1]]) — check the
    # first two blocks against a hand-built scalar construction
    nonce = 12345
    out = sz_fill_random(40, nonce)
    assert len(out) == 40
    for lane in (0, 1, 2):
        inp = np.array([[nonce + lane, nonce + lane]], dtype=np.uint64)
        key = np.array(
            [[nonce ^ int(PI[2 * (lane % 4)]), nonce ^ int(PI[2 * (lane % 4) + 1])]],
            dtype=np.uint64,
        )
        blk = aesenc(inp.view(np.uint8).reshape(1, 16),
                     key.view(np.uint8).reshape(1, 16))[0].tobytes()
        assert out[lane * 16 : lane * 16 + 16] == blk[: max(0, min(16, 40 - lane * 16))]
    # determinism + nonce sensitivity + prefix-stability (CTR property)
    assert sz_fill_random(40, nonce) == out
    assert sz_fill_random(40, nonce + 1) != out
    assert sz_fill_random(16, nonce) == out[:16]


# ---------------------------------------------------------------------------
# frozen ground-truth vectors from the COMPILED reference serial kernel
# (scripts/gen_szhash_vectors.c; regenerate with
#  gcc -O2 -I<reference>/include scripts/gen_szhash_vectors.c)
# ---------------------------------------------------------------------------

import json
import os

_VECTORS_PATH = os.path.join(os.path.dirname(__file__), "data", "szhash_vectors.json")

with open(_VECTORS_PATH) as _f:
    _VECTORS = json.load(_f)


def _splitmix_corpus(length: int, base: int) -> bytes:
    """The deterministic corpus the C harness feeds the reference kernel:
    one splitmix64 byte per position, state seeded with base + length."""
    state = (base + length) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    for _ in range(length):
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        out.append((z ^ (z >> 31)) & 0xFF)
    return bytes(out)


def test_reference_vectors_one_shot():
    # every ladder branch and chunk boundary x 3 seeds, vs sz_hash_serial
    for row in _VECTORS["hash"]:
        data = _splitmix_corpus(row["len"], 0x1234567890ABCDEF)
        assert sz_hash(data, row["seed"]) == row["hash"], (row["len"], row["seed"])


def test_reference_vectors_one_shot_batched():
    # the vectorized flat path must match the same frozen digests
    by_seed: dict = {}
    for row in _VECTORS["hash"]:
        by_seed.setdefault(row["seed"], []).append(row)
    for seed, rows in by_seed.items():
        texts = [_splitmix_corpus(r["len"], 0x1234567890ABCDEF) for r in rows]
        got = sz_hash_batch(texts, seed=seed)
        assert [int(h) for h in got] == [r["hash"] for r in rows]


def test_reference_vectors_multiseed():
    seeds = [0, 42, 0xFEEDFACECAFEBEEF]
    for row in _VECTORS["multiseed"]:
        data = _splitmix_corpus(row["len"], 0x1234567890ABCDEF)
        got = sz_hash_multiseed(data, seeds)
        assert [int(v) for v in got] == row["hashes"], row["len"]


def test_reference_vectors_fill_random():
    for row in _VECTORS["fill_random"]:
        got = sz_fill_random(row["len"], row["nonce"])
        assert list(got) == row["bytes"], (row["nonce"], row["len"])


def test_reference_vectors_streaming():
    # sz_hash_state_init/update/digest replayed at the same chunk splits
    for row in _VECTORS["streaming"]:
        data = _splitmix_corpus(row["len"], 0xABCDEF0123456789)
        h = SzHasher(seed=row["seed"])
        for i in range(0, len(data), row["chunk"]):
            h.update(data[i : i + row["chunk"]])
        assert h.digest() == row["hash"], (row["len"], row["chunk"])
