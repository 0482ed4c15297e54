"""Optional compiled twins of the hottest NumPy kernels.

The NumPy kernels in sz_spark.kernels remain the reference
implementation and the always-available fallback.  This module
compiles the C twins (sz_spark/*.c, written to mirror the NumPy math
op-for-op) with the system gcc on first use, caches the shared object
in ``cache_dir()`` keyed by a hash of the source + compiler flags, and
loads it through ctypes.  The same directory holds the driver JVM's
class-data-sharing archive (``session._ClassArchive``).  Guide §4.2
("do the heavy lifting in native code inside the UDF"): Spark keeps
distribution/shuffles/IO; the per-batch inner loops run compiled.

Everything here is best-effort: any failure (no compiler, read-only
temp, load error) disables the native path for the process and the
NumPy kernels take over — correctness never depends on this module.
The differential tests (tests/test_native_fp.py) compare both paths by
calling the twins directly against the NumPy kernels.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile

import numpy as np

_CFLAGS = [
    "-O3",
    "-march=native",
    # bit-exactness vs NumPy: no FMA contraction, no errno bookkeeping,
    # strict IEEE semantics otherwise (NO -ffast-math).
    # -fno-trapping-math only relaxes FP-exception *flags*, never values;
    # without it gcc refuses to vectorize floor() and the hot loop runs
    # scalar (measured 3x vs 10x+).
    "-ffp-contract=off",
    "-fno-math-errno",
    "-fno-trapping-math",
    "-shared",
    "-fPIC",
]

_lib = None
_tried = False


def _source_path() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "szfp_native.c")


def cache_dir() -> str:
    """``SZ_NATIVE_CACHE``, else ``<tmp>/sz_native_<uid>`` (not created)."""
    return os.environ.get("SZ_NATIVE_CACHE") or os.path.join(
        tempfile.gettempdir(), f"sz_native_{os.getuid()}"
    )


def _build() -> ctypes.CDLL | None:
    src = _source_path()
    with open(src, "rb") as fh:
        blob = fh.read()
    key = hashlib.sha256(blob + b"\0" + " ".join(_CFLAGS).encode()).hexdigest()[:16]
    cache = cache_dir()
    os.makedirs(cache, exist_ok=True)
    so_path = os.path.join(cache, f"szfp_{key}.so")
    if not os.path.exists(so_path):
        tmp = f"{so_path}.{os.getpid()}.tmp"
        cmd = ["gcc", *_CFLAGS, "-o", tmp, src, "-lm"]
        subprocess.run(
            cmd, check=True, capture_output=True, timeout=120
        )
        os.replace(tmp, so_path)  # atomic: concurrent builders agree
    lib = ctypes.CDLL(so_path)
    i64p = np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS")
    f64p = np.ctypeslib.ndpointer(np.float64, flags="C_CONTIGUOUS")
    u32p = np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS")
    u8p = np.ctypeslib.ndpointer(np.uint8, flags="C_CONTIGUOUS")
    lib.szfp_batch.restype = None
    lib.szfp_batch.argtypes = [
        u8p, i64p, i64p,
        ctypes.c_int64, ctypes.c_int64,
        f64p, f64p, f64p, f64p,
        i64p, i64p, ctypes.c_int64,
        ctypes.c_int32,
        u32p, u32p,
    ]
    lib.szlev_bounded_batch.restype = ctypes.c_int64
    lib.szlev_bounded_batch.argtypes = [
        u8p, i64p, i64p,
        u8p, i64p, i64p,
        ctypes.c_int64, ctypes.c_int64, i64p,
    ]
    return lib


def get_lib() -> ctypes.CDLL | None:
    """Compiled library, or None when it cannot be built or loaded."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    try:
        _lib = _build()
    except Exception as exc:  # noqa: BLE001 — never fail the query path
        print(f"[sz_spark.native] native kernels unavailable: {exc!r}; "
              "using NumPy fallback", file=sys.stderr)
        _lib = None
    return _lib


def fp_batch_native(
    data: np.ndarray,
    starts: np.ndarray,
    lengths: np.ndarray,
    params,
    with_counts: bool,
) -> tuple[np.ndarray, np.ndarray] | None:
    """Full-batch fingerprints via the C kernel; None if unavailable.

    Returns (hashes, counts) uint32 (n, ndim) in ORIGINAL dim order —
    same contract as kernels.fingerprints_flat.  No length sorting or
    batch strip-mining is needed: the C kernel walks each row at its own
    length (no padding waste) with an L1-resident working set.
    """
    lib = get_lib()
    if lib is None:
        return None
    n = len(lengths)
    ndim = params.ndim
    perm = np.argsort(params.widths, kind="stable")
    widths = params.widths[perm].astype(np.int64)
    uw, first = np.unique(widths, return_index=True)
    group_off = np.concatenate([first, [ndim]]).astype(np.int64)
    group_w = uw.astype(np.int64)
    mult = np.ascontiguousarray(params.mult[perm].astype(np.float64))
    mod = np.ascontiguousarray(params.mod[perm].astype(np.float64))
    inv_mod = np.nextafter(1.0 / mod, np.inf)  # same rounding as NumPy kernel
    disc = np.ascontiguousarray(params.disc[perm].astype(np.float64))
    h = np.empty((n, ndim), dtype=np.uint32)
    c = np.empty((n, ndim), dtype=np.uint32)
    if n:
        data = np.ascontiguousarray(data, dtype=np.uint8)
        if data.size == 0:
            data = np.zeros(1, dtype=np.uint8)  # valid pointer for ctypes
        # length-sort so the kernel's two-row tiles pair similar rows
        # (the joint loop covers min(lenA, lenB); sorting makes the solo
        # tail negligible).  Per-row results are order-independent.
        order = np.argsort(np.asarray(lengths, dtype=np.int64), kind="stable")
        lib.szfp_batch(
            data,
            np.ascontiguousarray(np.asarray(starts, dtype=np.int64)[order]),
            np.ascontiguousarray(np.asarray(lengths, dtype=np.int64)[order]),
            n, ndim,
            mult, mod, inv_mod, disc,
            np.ascontiguousarray(group_off),
            np.ascontiguousarray(group_w),
            len(group_w),
            1 if with_counts else 0,
            h, c,
        )
        inv = np.empty_like(order)
        inv[order] = np.arange(n)
        h = h[inv]
        c = c[inv]
    out_h = np.empty_like(h)
    out_c = np.empty_like(c)
    out_h[:, perm] = h
    out_c[:, perm] = c
    return out_h, out_c


def lev_bounded_native(
    da: np.ndarray, sa: np.ndarray, la: np.ndarray,
    db: np.ndarray, sb: np.ndarray, lb: np.ndarray,
    bound: int,
) -> np.ndarray | None:
    """Banded bounded Levenshtein via the C kernel; None if unavailable
    (no compiler, or the band is too wide for int16 cells).  Same
    contract as kernels._bounded_lev_chunk: exact distance when <= bound,
    bound+1 otherwise — integer-exact, so outputs are identical."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(la)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    da = np.ascontiguousarray(da, dtype=np.uint8)
    db = np.ascontiguousarray(db, dtype=np.uint8)
    if da.size == 0:
        da = np.zeros(1, dtype=np.uint8)
    if db.size == 0:
        db = np.zeros(1, dtype=np.uint8)
    rc = lib.szlev_bounded_batch(
        da,
        np.ascontiguousarray(sa, dtype=np.int64),
        np.ascontiguousarray(la, dtype=np.int64),
        db,
        np.ascontiguousarray(sb, dtype=np.int64),
        np.ascontiguousarray(lb, dtype=np.int64),
        n, int(bound), out,
    )
    if rc != 0:
        return None
    return out
