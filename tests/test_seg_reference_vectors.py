"""UAX segmentation engines vs frozen vectors from the COMPILED
reference serial kernels.

scripts/gen_szseg_vectors.c compiles the reference's serial UAX
engines — sz_utf8_wordbreaks_serial (utf8_wordbreaks/serial.h),
sz_utf8_sentences_serial (utf8_sentences/serial.h),
sz_utf8_graphemes_serial (utf8_graphemes/serial.h),
sz_utf8_linebreaks_serial (utf8_linebreaks/serial.h) — and freezes the
full segment tilings (byte start/length pairs) for 211 texts: the
repo's own curated rule-interaction cases + seeded POOL fuzz
(tests/test_uax_vec.py corpus), SIMD-boundary-length sweeps in the
reference test suite's style, and long-run fuzz up to 400 codepoints.

This upgrades the §2.3 conformance chain from "matches the published
Unicode UAX-14/29/TR29 rule chains" (UCD conformance files) to
"matches the reference's own compiled kernels BY MEASUREMENT" — the
same parity bar the hash/similarity/fingerprint kernels already meet
(tests/test_szhash.py, test_sim_reference_vectors.py,
test_fp_reference_vectors.py).

Regenerate:
  gcc -O2 -I/root/reference/include -o /tmp/gen_szseg \
      scripts/gen_szseg_vectors.c
  python scripts/gen_szseg_inputs.py | /tmp/gen_szseg \
      > tests/data/szseg_vectors.json
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from sz_spark import uax_vec as V
from uax14 import linebreak_segments
from uax29 import sentence_segments, wordbreak_segments
from uax29_graphemes import grapheme_segments

_VECTORS_PATH = os.path.join(os.path.dirname(__file__), "data", "szseg_vectors.json")

with open(_VECTORS_PATH) as _f:
    _CASES = json.load(_f)["cases"]


def _byte_spans(segments: list[str]) -> list[list[int]]:
    """Repo segments (list of str tiling the text) -> reference-style
    [byte_start, byte_len] pairs."""
    out, off = [], 0
    for seg in segments:
        n = len(seg.encode("utf-8"))
        out.append([off, n])
        off += n
    return out


def _texts():
    return ["".join(chr(c) for c in case["cps"]) for case in _CASES]


@pytest.mark.parametrize("kind,scalar_fn", [
    ("words", wordbreak_segments),
    ("sentences", sentence_segments),
    ("graphemes", grapheme_segments),
    ("lines", linebreak_segments),
])
def test_scalar_engines_match_compiled_reference(kind, scalar_fn):
    texts = _texts()
    n_bad = 0
    for case, text in zip(_CASES, texts):
        got = _byte_spans(scalar_fn(text))
        if got != case[kind]:
            n_bad += 1
            if n_bad <= 3:
                print(f"MISMATCH {kind}: cps={case['cps'][:40]}")
                print(f"  ref={case[kind][:20]}")
                print(f"  got={got[:20]}")
    assert n_bad == 0, f"{n_bad}/{len(_CASES)} {kind} tilings diverge from the compiled reference"


@pytest.mark.parametrize("kind,batch_fn", [
    ("words", V.word_segments_batch),
    ("sentences", V.sentence_segments_batch),
    ("graphemes", V.grapheme_segments_batch),
])
def test_vectorized_engines_match_compiled_reference(kind, batch_fn):
    texts = _texts()
    all_segs = batch_fn(texts)
    for case, segs in zip(_CASES, all_segs):
        assert _byte_spans(segs) == case[kind], f"{kind}: cps={case['cps'][:40]}"


def test_vectorized_linebreaks_match_compiled_reference():
    """The vectorized line-break decisions, tiled, == the reference's
    sz_utf8_linebreaks segment output on every frozen case."""
    texts = _texts()
    cps, offs, lens, tso = V._concat_batch(texts)
    brk, _ = V.linebreak_decisions(cps, tso)
    for case, text, off, ln in zip(_CASES, texts, offs, lens):
        if ln == 0:
            assert case["lines"] == []
            continue
        cuts = (np.flatnonzero(brk[off + 1 : off + ln]) + 1).tolist()
        segs, prev = [], 0
        for c in cuts:
            segs.append(text[prev:c])
            prev = c
        segs.append(text[prev:])
        assert _byte_spans(segs) == case["lines"], f"cps={case['cps'][:40]}"


def test_vector_file_covers_all_engines_and_shapes():
    """Sanity on the frozen corpus itself: non-trivial case count, the
    empty text, multi-byte scripts, astral codepoints, and CRLF."""
    assert len(_CASES) >= 200
    assert any(case["cps"] == [] for case in _CASES)
    assert any(any(c > 0xFFFF for c in case["cps"]) for case in _CASES)
    assert any(any(0x4E00 <= c <= 0x9FFF for c in case["cps"]) for case in _CASES)
    assert any([13, 10] == case["cps"][i : i + 2]
               for case in _CASES for i in range(len(case["cps"]) - 1))
