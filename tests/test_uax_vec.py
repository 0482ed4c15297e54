"""Differential + conformance tests for the vectorized segmentation
engines (sz_spark.uax_vec) against their scalar twins (uax29 / uax14 /
uax29_graphemes — themselves 100%-of-Unicode conformance-tested against
the reference's UCD-17 tables in test_uax29/test_uax14/
test_uax29_graphemes).

The scalar engines are the oracle: every test here asserts the
vectorized batch engines produce IDENTICAL segmentations/counts, so the
conformance chain is reference tables -> scalar -> vectorized."""

from __future__ import annotations

import random

import numpy as np
import pytest

from sz_spark import uax_vec as V
from uax14 import (
    _quote_side,
    is_east_asian,
    is_extpict_cn,
    line_break_class,
    linebreak_opportunities,
)
from uax29 import (
    is_extended_pictographic,
    sentence_break_property,
    sentence_segments,
    word_break_property,
    wordbreak_segments,
)
from uax29_graphemes import (
    grapheme_break_property,
    grapheme_segments,
    indic_conjunct_break,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"

CURATED = [
    "",
    " ",
    "a",
    "\r\n",
    "...",
    "Hello, world! It works.",
    "Pi is 3. 14 is not.",
    "v1.2 ships. Now.",
    'He said "stop." Then left.',
    "don't can't 3.14 1,000",
    "U.S. Army. Next.",
    "See e.g. this one. Next.",
    "It works, e.g., here. Done.",
    "One.\nTwo.",
    "Really?! Yes.",
    "a‍\U0001F600 \U0001F1FA\U0001F1F8\U0001F1EB\U0001F1F7 flags",
    "\U0001F1E6\U0001F1E7\U0001F1E8",  # odd RI run
    "א'ב א\"ב hebrew",
    "éà combining",
    "क्ष conjunct क‍्ष",
    "ab cd-ef\ngh ij",
    "spaces   and\ttabs",
    "ＡＢＣ カタカナ 한국어 조합",
    "각 jamo 각",
    "pre-wrap hy-phen\nnext line",
    "(bracketed) [text] {here}",
    "$100.00 50% +3",
    "​⁠ zw wj   glue",
    "̀́ lone marks",
    "‍‍ leading zwj",
    "tail space. ",
]

POOL = (
    [ord(c) for c in "abcXYZ019 .,:;!?\"'()-/\t\r\n%$+"]
    + [0x0300, 0x0301, 0x200D, 0x200C, 0x00AD, 0x2028, 0x2029, 0x0085,
       0x200B, 0x2060, 0x00A0, 0x2014, 0x1680]
    + list(range(0x1F1E6, 0x1F1EC))
    + [0x1F600, 0x1F468, 0x1F3FB, 0x2764, 0x1F466]
    + [0x1100, 0x1161, 0x11A8, 0xAC00, 0xAC01, 0xD7A3]
    + [0x30A2, 0x30FC, 0x4E2D, 0x3002, 0x2024, 0x2025, 0x0F0B]
    + [0x05D0, 0x05F3, 0x05F4]
    + [0x0915, 0x094D, 0x0937, 0x093F]
    # newest-TR14 LB classes: Pi/Pf quotes, HH hyphen, Brahmi aksara
    # (AK/AP/VI/AS), Batak VF, Dotted Circle
    + [0x201C, 0x201D, 0x2018, 0x2019, 0x2010, 0x11005, 0x11006, 0x11003,
       0x11046, 0x1B50, 0x1BF2, 0x25CC]
    # ADVICE r4: U+FFFC (LB class CB) so LB20/LB20a interactions are
    # fuzzed, plus astral EAW=Wide ideographs (ID via the astral
    # searchsorted path) and an astral alphabetic — the BMP-LUT/astral
    # split in uax_vec must agree with the scalar chain on both sides.
    + [0xFFFC, 0x20000, 0x2B740, 0x1D400, 0x1F6D1]
)


def _fuzz_texts(n=400, seed=20240817):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        # every 8th text is LONG (60-220 cps) so long-run interactions
        # (LB9 chains, regional-indicator parity, quote parity) are
        # fuzzed, not just curated (ADVICE r4)
        hi = 220 if i % 8 == 7 else 60
        lo = 60 if i % 8 == 7 else 0
        out.append(
            "".join(chr(rng.choice(POOL)) for _ in range(rng.randrange(lo, hi)))
        )
    return out


def test_property_tables_match_scalar_full_space():
    """The generated run tables == the scalar classifiers at every one
    of the 0x110000 codepoints (the generation invariant), read through
    the lookups the engines use: the BMP direct-index table below
    0x10000, the run-table search above."""
    cps = np.arange(0x110000)
    for name, table, fn in (
        ("WB", lambda c: V._lookup(V._WB_STARTS, V._WB_PROPS, c, V._WB_BMP), word_break_property),
        ("SB", V.sb_props, sentence_break_property),
        ("LB", V.lb_classes, line_break_class),
        ("GCB", V.gcb_props, grapheme_break_property),
        ("INCB", V.incb_props, indic_conjunct_break),
        ("QSIDE", V.qside_props, _quote_side),
        ("EAW", V.eaw_flags, is_east_asian),
        ("EPCN", V.epcn_flags, is_extpict_cn),
    ):
        tv = table(cps)
        sv = np.fromiter((fn(int(c)) for c in cps), dtype=np.int64, count=len(cps))
        assert int((tv != sv).sum()) == 0, name
    ep = V.extpict(cps)
    sv = np.fromiter(
        (is_extended_pictographic(int(c)) for c in cps), dtype=bool, count=len(cps)
    )
    assert int((ep != sv).sum()) == 0, "EXTPICT"


@pytest.mark.parametrize("case", ["curated", "fuzz"])
def test_vectorized_equals_scalar(case):
    texts = CURATED if case == "curated" else _fuzz_texts()
    wb = V.word_segments_batch(texts)
    sb = V.sentence_segments_batch(texts)
    gb = V.grapheme_segments_batch(texts)
    n_opp, n_mand = V.count_linebreaks_batch(texts)
    for i, t in enumerate(texts):
        assert wb[i] == wordbreak_segments(t), ("WB", ascii(t))
        assert sb[i] == sentence_segments(t), ("SB", ascii(t))
        assert gb[i] == grapheme_segments(t), ("GB", ascii(t))
        so = linebreak_opportunities(t)
        assert len(so) == n_opp[i], ("LB opps", ascii(t))
        assert sum(1 for _, m in so if m) == n_mand[i], ("LB mand", ascii(t))


def test_fused_fast_path_ignorable_free():
    """The fused (P,Q)-table fast paths (word + sentence) trigger only
    when the WHOLE concatenated batch is ignorable-free; the mixed POOL
    almost always disables them.  This pool has no Extend/Format/ZWJ/
    WSegSpace-adjacent ignorables and is biased to the SB context
    classes (ATerm, STerm, Close, Sp, Upper/Lower, SContinue, Numeric)
    so _SBX_ACT's SB7/WALK/SCAN codes and the WB ctx codes all fire."""
    pool = [ord(c) for c in "aAzZ019 .!?)('\"-,:\t\r\n"] + [
        0x3002, 0x2024, 0xFF0E, 0x2019, 0x201D, 0x00BB, 0x2E2E, 0x1362,
    ]
    rng = random.Random(42)
    texts = [
        "".join(chr(rng.choice(pool)) for _ in range(rng.randrange(0, 90)))
        for _ in range(300)
    ]
    # verify the premise: the batch really is ignorable-free
    cps, _, _, _ = V._concat_batch(texts)
    assert not V._SB_IGN[V.sb_props(cps)].any()
    sb = V.sentence_segments_batch(texts)
    wb = V.word_segments_batch(texts)
    for i, t in enumerate(texts):
        assert sb[i] == sentence_segments(t), ("SB-fast", ascii(t))
        assert wb[i] == wordbreak_segments(t), ("WB-fast", ascii(t))


def test_lb_ascii_baked_tables():
    """A pure-ASCII batch selects the ASCII-baked LB tables (LB19/LB30
    constant-folded, LB15a/b/21a/28a/30a/30b-Cn dropped).  Verify (a)
    position-exact agreement with the general tables on the same input,
    and (b) count agreement with the scalar chain — over an ASCII fuzz
    biased to the folded rules' trigger classes (quotes, brackets,
    hyphens, digits, commas, IS, multiple spaces)."""
    assert V._LB_ASCII_OK
    pool = [ord(c) for c in "abcXYZ019 .,:;!?\"'()-/\t\r\n%$+  "]
    rng = random.Random(20260817)
    texts = [
        "".join(chr(rng.choice(pool)) for _ in range(rng.randrange(0, 120)))
        for _ in range(400)
    ] + ['a "b" c', "don't (x-y) 1,024.5; e.g. 'q': z", "  lead", "trail  "]
    cps, offs, lens, _ = V._concat_batch(texts)
    assert int(cps.max()) < 0x80  # premise: the ASCII path is selected
    brk_a, mand_a = V.linebreak_decisions(cps)
    orig = V._LB_ASCII_OK
    try:
        V._LB_ASCII_OK = False  # force the general tables
        brk_g, mand_g = V.linebreak_decisions(cps)
    finally:
        V._LB_ASCII_OK = orig
    assert np.array_equal(brk_a, brk_g) and np.array_equal(mand_a, mand_g)
    n_opp, n_mand = V.count_linebreaks_batch(texts)
    for i, t in enumerate(texts):
        so = linebreak_opportunities(t)
        assert len(so) == n_opp[i], ("LB-ascii opps", ascii(t))
        assert sum(1 for _, m in so if m) == n_mand[i], ("LB-ascii mand", ascii(t))


def test_batch_equals_single():
    """Joining texts with the LF barrier never changes an interior
    decision: batch-of-many == one-at-a-time."""
    texts = CURATED + _fuzz_texts(100, seed=7)
    for fn in (V.word_segments_batch, V.sentence_segments_batch,
               V.grapheme_segments_batch):
        whole = fn(texts)
        for i, t in enumerate(texts):
            assert whole[i] == fn([t])[0], (fn.__name__, ascii(t))
    no_all, nm_all = V.count_linebreaks_batch(texts)
    for i, t in enumerate(texts):
        no1, nm1 = V.count_linebreaks_batch([t])
        assert no_all[i] == no1[0] and nm_all[i] == nm1[0], ascii(t)


def test_counts_match_segments():
    texts = _fuzz_texts(100, seed=3)
    assert list(V.count_words_batch(texts)) == [len(s) for s in V.word_segments_batch(texts)]
    assert list(V.count_sentences_batch(texts)) == [len(s) for s in V.sentence_segments_batch(texts)]
    assert list(V.count_graphemes_batch(texts)) == [len(s) for s in V.grapheme_segments_batch(texts)]


def test_throughput_vs_scalar_benchmark():
    """VERDICT r3 #3: the vectorized engines must beat the scalar loops
    by a wide margin on real corpus text.  Best-of-3 for the vectorized
    side (this box has ~20x noisy-neighbor stalls); the conservative
    floor asserted here is 2.5x — measured steady-state speedups on the
    sf0.1 corpus are words 12.6x, sentences 8.4x, graphemes 31.5x,
    linebreaks 15.6x (recorded in BASELINE.md)."""
    import time

    import pyarrow.parquet as pq

    texts = pq.read_table(DOCS).column("text").to_pylist()
    texts = (texts * 4)[:2000]
    total = sum(len(t) for t in texts)

    def best_of(f, k=3):
        b = float("inf")
        for _ in range(k):
            t0 = time.time()
            f()
            b = min(b, time.time() - t0)
        return b

    sub = texts[:150]
    subtotal = sum(len(t) for t in sub)
    results = {}
    for name, scalar_fn, vec_fn in (
        ("words", lambda: [wordbreak_segments(t) for t in sub], lambda: V.count_words_batch(texts)),
        ("sentences", lambda: [sentence_segments(t) for t in sub], lambda: V.count_sentences_batch(texts)),
        ("graphemes", lambda: [grapheme_segments(t) for t in sub], lambda: V.count_graphemes_batch(texts)),
        ("linebreaks", lambda: [linebreak_opportunities(t) for t in sub], lambda: V.count_linebreaks_batch(texts)),
    ):
        t_s = best_of(scalar_fn, 2)
        t_v = best_of(vec_fn, 3)
        speedup = (total / t_v) / (subtotal / t_s)
        results[name] = round(speedup, 1)
        assert speedup >= 2.5, (name, speedup)
    print(f"uax_vec speedups vs scalar: {results}")
