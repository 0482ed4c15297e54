"""SS2.2 scalar byte kernels vs frozen vectors from the COMPILED
reference serial kernels.

scripts/gen_szbyte_vectors.c compiles the reference's serial kernels —
sz_find_serial / sz_rfind_serial (find.h:160-163),
sz_find_byteset_serial / sz_rfind_byteset_serial (find.h:293-295),
sz_lookup_serial (memory.h:162), sz_bytesum_serial (hash.h:303),
sz_equal_serial / sz_order_serial (compare.h:91-93) — and freezes 780
cases: overlap ladders, needle==haystack, needle-longer-than-haystack,
NUL/0xFF binary bytes, SIMD-boundary lengths 0..1024 over four
alphabets, divergent-at-one-byte and prefix-pair orderings.

This measures the contract the repo's Spark queries are built on
(queries.py str_scalar_ops / str_byteset_ops / str_transform_ops /
str_hash_ops, str_sorted_topk ordering): Python bytes.find/rfind IS
the reference's forward/backward substring scan, first/last-of and
first/last-not-of over a byteset ARE the reference's byteset scans,
bytes.translate IS sz_lookup, sum(bytes) IS sz_bytesum (mod 2^64),
and bytes comparison IS sz_order/sz_equal.  The Spark side exposes the
same values 1-based with 0 = absent (offset + 1), which the DuckDB
oracles already pin; this file pins the 0-based kernel itself to the
compiled reference.

Regenerate:
  gcc -O2 -I/root/reference/include -o /tmp/gen_szbyte \
      scripts/gen_szbyte_vectors.c
  /tmp/gen_szbyte > tests/data/szbyte_vectors.json
"""

from __future__ import annotations

import json
import os

import pytest

_DATA = os.path.join(os.path.dirname(__file__), "data", "szbyte_vectors.json")


@pytest.fixture(scope="module")
def vectors():
    with open(_DATA) as f:
        return json.load(f)


def test_find_rfind_matches_reference(vectors):
    cases = vectors["find"]
    assert len(cases) > 300
    for c in cases:
        h = bytes.fromhex(c["h"])
        n = bytes.fromhex(c["n"])
        assert h.find(n) == c["find"], (c["h"], c["n"])
        assert h.rfind(n) == c["rfind"], (c["h"], c["n"])


def test_byteset_scans_match_reference(vectors):
    cases = vectors["byteset"]
    assert len(cases) > 150
    for c in cases:
        h = bytes.fromhex(c["h"])
        s = set(c["set"].encode())
        first_of = next((i for i, b in enumerate(h) if b in s), -1)
        last_of = next((i for i in range(len(h) - 1, -1, -1) if h[i] in s), -1)
        first_not = next((i for i, b in enumerate(h) if b not in s), -1)
        last_not = next((i for i in range(len(h) - 1, -1, -1) if h[i] not in s), -1)
        assert first_of == c["first_of"], c
        assert last_of == c["last_of"], c
        assert first_not == c["first_not"], c
        assert last_not == c["last_not"], c


_LUTS = {
    "rev": bytes(255 - i for i in range(256)),
    "upper": bytes((i - 32) if ord("a") <= i <= ord("z") else i for i in range(256)),
    "vowel": bytes(ord("*") if i in b"aeiou" else i for i in range(256)),
}


def test_lookup_translate_matches_reference(vectors):
    cases = vectors["lookup"]
    assert len(cases) > 60
    for c in cases:
        h = bytes.fromhex(c["h"])
        assert h.translate(_LUTS[c["lut"]]).hex() == c["out"], c


def test_bytesum_matches_reference(vectors):
    cases = vectors["bytesum"]
    assert len(cases) > 60
    for c in cases:
        h = bytes.fromhex(c["h"])
        assert sum(h) & 0xFFFFFFFFFFFFFFFF == c["sum"], c


def test_sha256_matches_reference(vectors):
    """The compiled reference's incremental SHA-256 (hash.h:283-331) is
    FIPS 180-4 SHA-256: every frozen digest — one-shot, 1-byte drip, and
    irregular 7/64/rest chunkings of the same input — equals hashlib's.
    This closes the loop on the repo's sha256/hmac surface: Spark's
    ``F.sha2`` in ``queries.str_hash_ops``, whose RFC-2104 composition
    test_queries.py::test_hmac_rfc2104 checks against hashlib."""
    import hashlib

    cases = vectors["sha256"]
    assert len(cases) > 60
    for c in cases:
        h = bytes.fromhex(c["h"])
        assert hashlib.sha256(h).hexdigest() == c["digest"], c


def test_order_equal_match_reference(vectors):
    cases = vectors["order"]
    assert len(cases) > 40
    for c in cases:
        a = bytes.fromhex(c["a"])
        b = bytes.fromhex(c["b"])
        assert ((a > b) - (a < b)) == c["order"], c
        if len(a) == len(b):
            assert (a == b) == c["equal"], c
        else:
            assert c["equal"] is False
