"""Exact StringZilla `sz.hash` / `sz.hash_multiseed` in vectorized NumPy.

Implements the published AES-based dual-state hash exactly as specified
by the reference's README pseudocode (reference README.md:752-830) and
its serial kernel contract (include/stringzilla/hash/serial.h:58-150
AESENC emulation = MixColumns(SubBytes(ShiftRows(state))) ^ round_key;
:489-599 the <=16/32/48/64 ladder and the >64 four-lane state;
:445-487 the fold-and-finalize order; :359-376 wide init).  This closes
the r4 "documented semantic substitution" gap: SURVEY §2.7 had swapped
sz.hash for an interchangeable md5-PRF — the oracled driver queries
keep that PRF, and THIS module provides the exact byte-for-byte
semantics for users porting stored sz-hash values.

Validated two ways (tests/test_szhash.py): (1) BIT-EXACT against 138
frozen ground-truth vectors generated by compiling the reference's own
serial kernel (scripts/gen_szhash_vectors.c -> tests/data/
szhash_vectors.json: every <=16/32/48/64 ladder branch, 64-byte chunk
boundaries up to 1 KiB, three seeds, multiseed, and the streaming
state at four chunk splits); (2) against an independently-
derived FIPS-197 column-major AES construction plus the published
algebraic properties (seed/length sensitivity, ladder continuity,
chunking invariance of the streaming state).

Everything is batch-vectorized: state is an (n, 16) uint8 matrix per
128-bit lane, u64 lane adds run on little-endian views, and texts
stream through in length-sorted groups — the same Arrow-batch layout
as the rest of sz_spark.kernels.
"""

from __future__ import annotations

import numpy as np

# --- constants (README.md:755-766; BBP-derived pi, published shuffle) -------

PI = np.array(
    [
        0x243F6A8885A308D3, 0x13198A2E03707344, 0xA4093822299F31D0,
        0x082EFA98EC4E6C89, 0x452821E638D01377, 0xBE5466CF34E90C6C,
        0xC0AC29B7C97C50DD, 0x3F84D5B5B5470917, 0x9216D5D98979FB1B,
        0xD1310BA698DFB5AC, 0x2FFD72DBD01ADFB7, 0xB8E1AFED6A267E96,
        0xBA7C9045F12C7F99, 0x24A19947B3916CF7, 0x0801F2E2858EFC16,
        0x636920D871574E69,
    ],
    dtype=np.uint64,
)

SHUFFLE = np.array(
    [0x04, 0x0B, 0x09, 0x06, 0x08, 0x0D, 0x0F, 0x05,
     0x0E, 0x03, 0x01, 0x0C, 0x00, 0x07, 0x0A, 0x02],
    dtype=np.int64,
)

# AES S-box, generated from first principles (FIPS-197 §5.1.1): the
# multiplicative inverse in GF(2^8) followed by the affine transform —
# built programmatically so this file carries the MATH, not a pasted table.


def _build_sbox() -> np.ndarray:
    # GF(2^8) inverse via log/antilog tables over generator 3
    exp = np.zeros(512, dtype=np.int64)
    log = np.zeros(256, dtype=np.int64)
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
    exp[255:510] = exp[:255]
    sbox = np.zeros(256, dtype=np.uint8)
    for v in range(256):
        inv = 0 if v == 0 else int(exp[255 - log[v]])
        s = inv
        for shift in (1, 2, 3, 4):
            s ^= ((inv << shift) | (inv >> (8 - shift))) & 0xFF
        sbox[v] = s ^ 0x63
    return sbox


SBOX = _build_sbox()

#: ShiftRows source map for a ROW-major 16-byte state (serial.h:82-102):
#: output byte j takes sbox[input[SRC[j]]].
_SRC = np.zeros(16, dtype=np.int64)
for _i, _dst in enumerate([0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]):
    _SRC[_dst] = _i

_GF2 = np.arange(256, dtype=np.int64)
_GF2 = (((_GF2 << 1) ^ ((_GF2 >> 7) & 1) * 0x1B) & 0xFF).astype(np.uint8)


def aesenc(state: np.ndarray, round_key: np.ndarray) -> np.ndarray:
    """One AES encryption round over (n, 16) uint8 state matrices:
    MixColumns(SubBytes(ShiftRows(state))) ^ round_key — the exact
    `_mm_aesenc_si128` semantics the reference emulates."""
    t = SBOX[state[:, _SRC]]
    out = np.empty_like(t)
    for c in range(4):
        a0, a1, a2, a3 = (t[:, 4 * c + i] for i in range(4))
        x = a0 ^ a1 ^ a2 ^ a3
        out[:, 4 * c + 0] = a0 ^ x ^ _GF2[a0 ^ a1]
        out[:, 4 * c + 1] = a1 ^ x ^ _GF2[a1 ^ a2]
        out[:, 4 * c + 2] = a2 ^ x ^ _GF2[a2 ^ a3]
        out[:, 4 * c + 3] = a3 ^ x ^ _GF2[a3 ^ a0]
    return out ^ round_key


def _u64(view8: np.ndarray) -> np.ndarray:
    """(n, 16) uint8 -> (n, 2) uint64 little-endian view (no copy)."""
    return view8.view("<u8")


def _from_seed(seed: int, pi_lo: int, pi_hi: int, n: int) -> np.ndarray:
    s = np.uint64(seed)
    lane = np.empty((n, 2), dtype=np.uint64)
    lane[:, 0] = s ^ PI[pi_lo]
    lane[:, 1] = s ^ PI[pi_hi]
    return lane.view(np.uint8).reshape(n, 16)


def _update_lane(aes: np.ndarray, summ: np.ndarray, block: np.ndarray) -> tuple:
    """(serial.h:297-303): aes = AESENC(aes, block); sum = shuffle(sum)
    + block (two wrapping u64 lane adds)."""
    aes = aesenc(aes, block)
    summ = summ[:, SHUFFLE].copy()
    s64 = _u64(summ)
    s64 += _u64(np.ascontiguousarray(block))
    return aes, summ


def _finalize_short(aes, summ, key, lengths) -> np.ndarray:
    kwl = key.copy()
    k64 = _u64(kwl)
    k64[:, 0] += lengths.astype(np.uint64)
    mixed = aesenc(summ, aes)
    out = aesenc(aesenc(mixed, kwl), mixed)
    return _u64(out)[:, 0].copy()


def _blocks_of(data, starts, lens, block_idx) -> np.ndarray:
    """(n, 16) zero-padded block #block_idx of each row."""
    n = len(starts)
    out = np.zeros((n, 16), dtype=np.uint8)
    pos = np.arange(16, dtype=np.int64)[None, :]
    off = block_idx * 16 if np.isscalar(block_idx) else (block_idx * 16)[:, None]
    rel = off + pos
    mask = rel < lens[:, None]
    gidx = starts[:, None] + rel
    out[mask] = data[gidx[mask]]
    return out


def sz_hash_flat(data: np.ndarray, offsets: np.ndarray, seed: int = 0) -> np.ndarray:
    """Exact `sz.hash(text, seed)` for every row of the flat Arrow-style
    (data, offsets) layout; returns uint64[n]."""
    offsets = np.asarray(offsets, dtype=np.int64)
    starts = offsets[:-1]
    lens = np.diff(offsets)
    n = len(lens)
    out = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return out

    short = lens <= 64
    if short.any():
        idx = np.nonzero(short)[0]
        s, l = starts[idx], lens[idx]
        m = len(idx)
        key = np.empty((m, 2), dtype=np.uint64)
        key[:] = np.uint64(seed)
        key = key.view(np.uint8).reshape(m, 16)
        aes = _from_seed(seed, 0, 1, m)
        summ = _from_seed(seed, 8, 9, m)
        # ladder (serial.h:489-560): ceil(len/16) blocks, empty -> 1 block
        nblocks = np.maximum((l + 15) // 16, 1)
        for b in range(4):
            act = nblocks > b
            if not act.any():
                break
            blk = _blocks_of(data, s[act], l[act], b)
            a2, s2 = _update_lane(aes[act], summ[act], blk)
            aes[act], summ[act] = a2, s2
        out[idx] = _finalize_short(aes, summ, key, l)

    if (~short).any():
        idx = np.nonzero(~short)[0]
        s, l = starts[idx], lens[idx]
        m = len(idx)
        key = np.empty((m, 2), dtype=np.uint64)
        key[:] = np.uint64(seed)
        key = key.view(np.uint8).reshape(m, 16)
        # four-lane 512-bit state (serial.h:359-376)
        aes = [_from_seed(seed, 2 * i, 2 * i + 1, m) for i in range(4)]
        summ = [_from_seed(seed, 8 + 2 * i, 9 + 2 * i, m) for i in range(4)]
        # absorb every full 64B chunk except the last (serial.h:587-591):
        # chunks at offset c*64 while c*64 + 64 < length
        n_full = np.maximum((l - 1) // 64, 0)  # l > 64 here, so (l-1)//64 >= 1
        for c in range(int(n_full.max())):
            act = n_full > c
            if not act.any():
                break
            sa, la = s[act], l[act]
            for lane in range(4):
                blk = _blocks_of(data, sa + np.int64(c) * 64, np.full(len(sa), 64, dtype=np.int64), lane)
                a2, s2 = _update_lane(aes[lane][act], summ[lane][act], blk)
                aes[lane][act], summ[lane][act] = a2, s2
        # deferred final block: bytes [n_full*64, length) zero-padded to 64
        tail_start = s + n_full * 64
        tail_len = l - n_full * 64  # in 1..64
        # finalize (serial.h:445-487)
        kwl = key.copy()
        k64 = _u64(kwl)
        k64[:, 0] += l.astype(np.uint64)
        mixed = []
        for lane in range(4):
            ins = _blocks_of(data, tail_start, tail_len, lane)
            a_f = aesenc(aes[lane], ins)
            s_f = summ[lane][:, SHUFFLE].copy()
            s64 = _u64(s_f)
            s64 += _u64(np.ascontiguousarray(ins))
            mixed.append(aesenc(s_f, a_f))
        mixed01 = aesenc(mixed[0], mixed[1])
        mixed23 = aesenc(mixed[2], mixed[3])
        mix = aesenc(mixed01, mixed23)
        res = aesenc(aesenc(mix, kwl), mix)
        out[idx] = _u64(res)[:, 0]
    return out


def sz_hash(text: bytes, seed: int = 0) -> int:
    """Exact scalar `sz.hash` (convenience wrapper over the batch)."""
    data = np.frombuffer(text, dtype=np.uint8) if text else np.zeros(0, np.uint8)
    return int(sz_hash_flat(data, np.array([0, len(text)]), seed)[0])


def sz_hash_multiseed(text: bytes, seeds) -> np.ndarray:
    """`sz.hash_multiseed`: per-seed replay over the same text lanes —
    identical to sz_hash(text, seed) per seed (serial.h:703-735)."""
    return np.array([sz_hash(text, int(s)) for s in seeds], dtype=np.uint64)


class SzHasher:
    """Incremental streaming state (sz_hash_state_update/digest,
    serial.h:601-657): buffers up to one 64-byte block, DEFERS the
    final block so digest() can pick the same short/long path the
    one-shot hash would — digest at any split point equals
    sz_hash(concatenation)."""

    def __init__(self, seed: int = 0):
        self._seed = seed
        self._buf = b""
        self._len = 0
        self._aes = [_from_seed(seed, 2 * i, 2 * i + 1, 1) for i in range(4)]
        self._sum = [_from_seed(seed, 8 + 2 * i, 9 + 2 * i, 1) for i in range(4)]

    def update(self, chunk: bytes) -> "SzHasher":
        self._buf += chunk
        self._len += len(chunk)
        # flush every full block EXCEPT a block that exactly fills the
        # buffer (deferred, matching the one-shot path)
        while len(self._buf) > 64:
            blk = np.frombuffer(self._buf[:64], dtype=np.uint8)
            for lane in range(4):
                b = blk[lane * 16 : lane * 16 + 16][None, :]
                self._aes[lane], self._sum[lane] = _update_lane(
                    self._aes[lane], self._sum[lane], b
                )
            self._buf = self._buf[64:]
        return self

    def digest(self) -> int:
        if self._len <= 64:
            return sz_hash(self._buf, self._seed)
        lens = np.array([self._len], dtype=np.int64)
        key = np.empty((1, 2), dtype=np.uint64)
        key[:] = np.uint64(self._seed)
        key = key.view(np.uint8).reshape(1, 16)
        kwl = key.copy()
        _u64(kwl)[:, 0] += lens.astype(np.uint64)
        tail = np.zeros(64, dtype=np.uint8)
        tail[: len(self._buf)] = np.frombuffer(self._buf, dtype=np.uint8)
        mixed = []
        for lane in range(4):
            ins = tail[lane * 16 : lane * 16 + 16][None, :]
            a_f = aesenc(self._aes[lane], ins)
            s_f = self._sum[lane][:, SHUFFLE].copy()
            _u64(s_f)[:] += _u64(np.ascontiguousarray(ins))
            mixed.append(aesenc(s_f, a_f))
        mix = aesenc(aesenc(mixed[0], mixed[1]), aesenc(mixed[2], mixed[3]))
        res = aesenc(aesenc(mix, kwl), mix)
        return int(_u64(res)[0, 0])
