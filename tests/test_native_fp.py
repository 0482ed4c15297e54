"""Differential gate for the compiled fingerprint kernel (sz_spark.native):
the C twin must agree BIT-FOR-BIT with the NumPy reference kernel on
hashes AND counts for every engine config, including the edge cases
(empty text, text shorter than the window, single-byte rows, 256-byte
alphabet) — any mismatch is a bug in the native port, never acceptable
drift.  The pinned compiled-reference vectors (test_fp_reference_vectors)
additionally gate both against the reference engine itself.
"""

from __future__ import annotations

import numpy as np
import pytest

from sz_spark import kernels as K
from sz_spark import native


pytestmark = pytest.mark.skipif(
    native.get_lib() is None, reason="native kernels unavailable (no gcc?)"
)


def _corpus(seed: int, n: int = 300) -> list[bytes]:
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n):
        ln = int(rng.integers(0, 900))
        texts.append(bytes(rng.integers(0, 256, size=ln, dtype=np.uint8)))
    texts += [b"", b"a", b"ab" * 3, bytes(range(256)) * 2,
              b"x" * 15, b"y" * 16, b"z" * 48, b"w" * 47]
    return texts


@pytest.mark.parametrize("ndim,widths", [
    (96, (16, 24, 32, 48)),    # blocking.NDIM over blocking.FP_WIDTHS
    (128, (16, 24, 32, 48)),   # blocking widths, more dims than blocking.NDIM
    (128, None),               # engine default widths (szs_fingerprints)
    (64, None),
    (37, None),                # ragged groups: exercises small tiles
    (8, (3,)),
])
@pytest.mark.parametrize("with_counts", [True, False])
def test_native_matches_numpy(ndim, widths, with_counts, monkeypatch):
    texts = _corpus(seed=ndim * 2 + with_counts)
    data, offsets = K.flat_from_bytes(texts)
    params = K.fingerprint_params(ndim, widths, 0)

    h_nat, c_nat = native.fp_batch_native(
        data, offsets[:-1], np.diff(offsets), params, with_counts
    )
    # force the NumPy strip-mined path
    monkeypatch.setattr(native, "fp_batch_native", lambda *a, **k: None)
    h_np, c_np = K.fingerprints(
        texts, ndim=ndim, widths=widths, seed=0, with_counts=with_counts
    )
    np.testing.assert_array_equal(h_nat, h_np)
    np.testing.assert_array_equal(c_nat, c_np)


def test_native_empty_batch():
    params = K.fingerprint_params(128, None, 0)
    h, c = native.fp_batch_native(
        np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.int64), params, True
    )
    assert h.shape == (0, 128) and c.shape == (0, 128)


def test_failed_build_falls_back_to_numpy(monkeypatch, tmp_path, capsys):
    """A build that fails (no gcc on PATH, an empty cache) leaves
    get_lib() None and says so on stderr; the kernels then run the NumPy
    path and return what the compiled twins returned."""
    texts = _corpus(seed=5, n=100)
    da, oa = K.flat_from_bytes(texts[:-1])
    db, ob = K.flat_from_bytes(texts[1:])

    def kernels():
        h, c = K.fingerprints(texts, ndim=96, widths=(16, 24, 32, 48), seed=0)
        lev = K.bounded_lev_flat(da, oa[:-1], np.diff(oa), db, ob[:-1], np.diff(ob), 41)
        return h, c, lev

    compiled = kernels()
    monkeypatch.setattr(native, "_tried", False)
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setenv("SZ_NATIVE_CACHE", str(tmp_path / "cache"))
    monkeypatch.setenv("PATH", str(tmp_path))
    assert native.get_lib() is None
    assert "native kernels unavailable" in capsys.readouterr().err
    for got, want in zip(kernels(), compiled):
        np.testing.assert_array_equal(got, want)


# ---------------------------------------------------------------------------
# banded bounded Levenshtein: native twin vs NumPy chunks
# ---------------------------------------------------------------------------


def _rand_pairs(seed: int, n: int, minl: int, maxl: int):
    rng = np.random.default_rng(seed)
    A, B = [], []
    for _ in range(n):
        la = int(rng.integers(minl, maxl))
        t = rng.integers(0, 256, size=la, dtype=np.uint8)
        r = rng.random()
        if r < 0.4:
            t2 = t.copy()
            for _ in range(int(rng.integers(0, 20))):
                if len(t2) == 0:
                    break
                op = int(rng.integers(0, 3))
                pos = int(rng.integers(0, len(t2)))
                if op == 0:
                    t2[pos] = rng.integers(0, 256)
                elif op == 1:
                    t2 = np.delete(t2, pos)
                else:
                    t2 = np.insert(t2, pos, rng.integers(0, 256))
            B.append(bytes(t2))
        elif r < 0.5:
            B.append(bytes(t))
        else:
            B.append(bytes(rng.integers(0, 256, size=int(rng.integers(minl, maxl)), dtype=np.uint8)))
        A.append(bytes(t))
    return A, B


@pytest.mark.parametrize("minl,maxl,bound", [
    (0, 120, 1), (0, 120, 5), (0, 120, 16), (0, 120, 41),
    (200, 900, 16), (200, 900, 41), (200, 900, 120),
])
def test_native_lev_matches_numpy(minl, maxl, bound, monkeypatch):
    A, B = _rand_pairs(seed=minl + maxl + bound, n=800, minl=minl, maxl=maxl)
    da, oa = K.flat_from_bytes(A)
    db, ob = K.flat_from_bytes(B)
    sa, la = oa[:-1], np.diff(oa)
    sb, lb = ob[:-1], np.diff(ob)
    r_nat = K.bounded_lev_flat(da, sa, la, db, sb, lb, bound)
    monkeypatch.setattr(native, "lev_bounded_native", lambda *a, **k: None)
    r_np = K.bounded_lev_flat(da, sa, la, db, sb, lb, bound)
    np.testing.assert_array_equal(r_nat, r_np)


def test_native_lev_long_rows(monkeypatch):
    """la beyond the int16 sentinel must not corrupt small distances."""
    rng = np.random.default_rng(3)
    big = bytes(rng.integers(0, 256, size=20000, dtype=np.uint8))
    big2 = bytearray(big)
    big2[17000] = (big2[17000] + 1) % 256
    A = [big, big]
    B = [bytes(big2), big[:19990]]
    da, oa = K.flat_from_bytes(A)
    db, ob = K.flat_from_bytes(B)
    r_nat = K.bounded_lev_flat(da, oa[:-1], np.diff(oa), db, ob[:-1], np.diff(ob), 41)
    monkeypatch.setattr(native, "lev_bounded_native", lambda *a, **k: None)
    r_np = K.bounded_lev_flat(da, oa[:-1], np.diff(oa), db, ob[:-1], np.diff(ob), 41)
    np.testing.assert_array_equal(r_nat, r_np)
    np.testing.assert_array_equal(r_nat, [1, 10])
