"""Full UAX-29 word-segmentation conformance: the rules the round-2 core
subset lacked (Katakana WB13, regional-indicator WB15/16, emoji ZWJ
WB3c, Hebrew quote WB7a-c, WSegSpace WB3d) plus the carried-over core
rules, against hand-derived segmentations (the reference's own tests
compare against WordBreakTest.txt / uniseg — unavailable offline, so
each case here is derived by applying the published rules manually;
reference surface utf8_wordbreaks/serial.h:240-341)."""

from __future__ import annotations

from uax29 import (
    is_extended_pictographic,
    word_break_property,
    wordbreak_segments as wb,
)

ZWJ = chr(0x200D)
RI_US = chr(0x1F1FA) + chr(0x1F1F8)
RI_FR = chr(0x1F1EB) + chr(0x1F1F7)
ALEF, BET, GIMEL = chr(0x5D0), chr(0x5D1), chr(0x5D2)
KATA = chr(0x30AB) + chr(0x30BF) + chr(0x30AB) + chr(0x30CA)  # カタカナ
HIRA = chr(0x3072) + chr(0x3089)  # ひら
ACUTE = chr(0x301)


def test_core_rules_carried_over():
    assert wb("don't stop") == ["don't", " ", "stop"]
    assert wb("1,234.5 x") == ["1,234.5", " ", "x"]
    assert wb("snake_case v2") == ["snake_case", " ", "v2"]
    assert wb("a\r\nb") == ["a", "\r\n", "b"]
    assert wb("e" + ACUTE + "tude") == ["e" + ACUTE + "tude"]  # WB4
    assert wb("x, y") == ["x", ",", " ", "y"]
    assert wb("a'") == ["a", "'"]
    assert wb("") == []


def test_wb3d_wsegspace_runs():
    """WB3d: horizontal whitespace keeps together (the core subset split
    every space into its own segment)."""
    assert wb("hello  world") == ["hello", "  ", "world"]
    nbsp = chr(0xA0)  # NOT WSegSpace: breaks apart
    assert wb("a" + nbsp + nbsp + "b") == ["a", nbsp, nbsp, "b"]


def test_wb13_katakana():
    """WB13: Katakana chains; Katakana x ALetter breaks; halfwidth and
    prolonged-sound mark chain too."""
    assert wb(KATA) == [KATA]
    assert wb(KATA + "x") == [KATA, "x"]
    assert wb("x" + KATA) == ["x", KATA]
    half = chr(0xFF76) + chr(0xFF85)  # halfwidth ka na
    assert wb(half) == [half]
    prolonged = chr(0x30AB) + chr(0x30FC)  # カー
    assert wb(prolonged) == [prolonged]
    # Hiragana is NOT Katakana and NOT ALetter: each char separates
    assert wb(HIRA) == [HIRA[0], HIRA[1]]
    # WB13a/b: Katakana joins ExtendNumLet
    assert wb(KATA + "_" + "x") == [KATA + "_x"]


def test_wb15_wb16_regional_indicator_pairs():
    """WB15/16: RIs pair left-to-right; a third RI starts a new segment."""
    assert wb(RI_US + RI_FR) == [RI_US, RI_FR]
    three = RI_US + chr(0x1F1EB)
    assert wb(three) == [RI_US, chr(0x1F1EB)]
    assert wb(RI_US + " " + RI_FR) == [RI_US, " ", RI_FR]
    # Extend inside a flag attaches without disrupting parity
    assert wb(RI_US + ACUTE + RI_FR) == [RI_US + ACUTE, RI_FR]


def test_wb3c_zwj_emoji():
    """WB3c: ZWJ x Extended_Pictographic glues; WB4 folds the ZWJ runs —
    a family emoji is ONE segment."""
    family = chr(0x1F468) + ZWJ + chr(0x1F469) + ZWJ + chr(0x1F467)
    assert wb(family + " x") == [family, " ", "x"]
    # skin-tone modifier is Extend: attaches by WB4
    thumb = chr(0x1F44D) + chr(0x1F3FB)
    assert wb(thumb + "!") == [thumb, "!"]
    # ZWJ followed by NON-pictographic: ZWJ folds left (WB4) and the
    # rules run on the bases — a x 1 joins (WB9), a x ',' breaks
    assert wb("a" + ZWJ + "1") == ["a" + ZWJ + "1"]
    assert wb("a" + ZWJ + ",") == ["a" + ZWJ, ","]


def test_wb7a_b_c_hebrew_quotes():
    heb = ALEF + BET
    assert wb(heb + "'" + GIMEL) == [heb + "'" + GIMEL]  # WB6/7 MidNumLetQ
    assert wb(heb + "'") == [heb + "'"]  # WB7a: trailing single quote joins
    assert wb(heb + '"' + GIMEL) == [heb + '"' + GIMEL]  # WB7b/c
    assert wb(heb + '"') == [heb, '"']  # no following Hebrew: break
    # Latin letters do NOT get the Hebrew quote privileges
    assert wb('a"b') == ["a", '"', "b"]


def test_wb4_after_newline_deignored():
    """An Extend directly after a newline is its own segment (reference
    serial.h:188 de-ignore exception)."""
    assert wb("a\n" + ACUTE + "bc") == ["a", "\n", ACUTE, "bc"]


def test_wb6_wb12_lookahead_chains():
    assert wb("3.14.15") == ["3.14.15"]  # WB11/12 chain through MidNumLet
    assert wb("a:b") == ["a:b"]  # colon is MidLetter
    assert wb("a:") == ["a", ":"]  # no following letter
    assert wb("1:2") == ["1", ":", "2"]  # MidLetter does not join digits


def test_property_spot_checks():
    assert word_break_property(0x30A2) == 11  # KATAKANA
    assert word_break_property(0x5D0) == 9  # HEBREW
    assert word_break_property(0x1F1FA) == 7  # RI
    assert word_break_property(0x200D) == 5  # ZWJ
    assert word_break_property(0x0041) == 8  # ALetter
    assert word_break_property(0x0E01) == 0  # Thai ka: SA-excluded -> Other
    assert word_break_property(0x4E00) == 0  # CJK ideograph -> Other
    assert is_extended_pictographic(0x1F600)
    assert not is_extended_pictographic(0x1F1FA)  # RI is its own class


def test_tiling_invariant_fuzz():
    import random

    rng = random.Random(42)
    pool = (
        "abc ABC 012 ,.;:'\"_-\r\n\t"
        + KATA
        + HIRA
        + ALEF
        + BET
        + RI_US
        + ZWJ
        + ACUTE
        + chr(0x1F600)
        + chr(0x3000)
    )
    for _ in range(200):
        t = "".join(rng.choice(pool) for _ in range(rng.randint(0, 40)))
        segs = wb(t)
        assert "".join(segs) == t
        assert all(segs)  # no empty segments


def test_word_break_property_full_unicode_conformance():
    """EVERY codepoint's Word_Break property == the reference's
    UCD-17-generated tables (utf8_wordbreaks/tables.h: page-compressed
    BMP flat table + astral ranges, themselves derived from
    unicode.org's WordBreakProperty.txt — the derivation script is in
    the header).  Skipped when the reference checkout is absent; with
    it, this is the strongest available oracle: 1,112,064 codepoints,
    zero divergence."""
    import bisect
    import os
    import re

    import pytest

    path = "/root/reference/include/stringzilla/utf8_wordbreaks/tables.h"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    src = open(path).read()

    def arr(name, n):
        m = re.search(name + r"_\[" + str(n) + r"\] = \{(.*?)\};", src, re.S)
        toks = re.findall(r"0x[0-9A-Fa-f]+|\d+", m.group(1))
        return [int(x, 16) if x.startswith("0x") else int(x) for x in toks]

    page_lut, flat = arr("bmp_page_lut", 256), arr("flat_bmp", 13376)
    lo, hi, cls = arr("astral_lo", 476), arr("astral_hi", 476), arr("astral_cls", 476)

    def ref_prop(cp):
        if cp < 0x10000:
            return flat[page_lut[cp >> 8] * 256 + (cp & 0xFF)]
        i = bisect.bisect_right(lo, cp) - 1
        return cls[i] if i >= 0 and lo[i] <= cp <= hi[i] else 0

    import uax29 as u

    to_ref = {u.OTHER: 0, u.CR: 1, u.LF: 2, u.NEWLINE: 3, u.EXTEND: 4,
              u.ZWJ: 5, u.FORMAT: 6, u.RI: 7, u.ALETTER: 8, u.HEBREW: 9,
              u.NUMERIC: 10, u.KATAKANA: 11, u.EXTENDNUMLET: 12,
              u.MIDLETTER: 13, u.MIDNUM: 14, u.MIDNUMLET: 15,
              u.SINGLE_QUOTE: 15, u.DOUBLE_QUOTE: 15}
    bad = [
        cp
        for cp in range(0x110000)
        if not (0xD800 <= cp <= 0xDFFF)
        and to_ref[u.word_break_property(cp)] != ref_prop(cp)
    ]
    assert not bad, f"{len(bad)} divergent codepoints, first: {[hex(c) for c in bad[:10]]}"
    # Extended_Pictographic (WB3c) conformance over the full space too
    plo, phi = arr("pict_u32_lo", 156), arr("pict_u32_hi", 156)

    def ref_pict(cp):
        i = bisect.bisect_right(plo, cp) - 1
        return i >= 0 and plo[i] <= cp <= phi[i]

    bad_p = [
        cp
        for cp in range(0x110000)
        if not (0xD800 <= cp <= 0xDFFF)
        and u.is_extended_pictographic(cp) != ref_pict(cp)
    ]
    assert not bad_p, f"{len(bad_p)} pictographic divergences"


def test_sentence_break_property_full_unicode_conformance():
    """EVERY codepoint's Sentence_Break property == the reference's
    UCD-17-generated tables (utf8_sentences/tables.h: big-OLetter
    ranges + page-compressed BMP flat + astral ranges).  Skipped when
    the reference checkout is absent."""
    import bisect
    import os
    import re

    import pytest

    path = "/root/reference/include/stringzilla/utf8_sentences/tables.h"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    src = open(path).read()

    def arr(name, n):
        m = re.search(name + r"_\[" + str(n) + r"\] = \{(.*?)\};", src, re.S)
        toks = re.findall(r"0x[0-9A-Fa-f]+|\d+", m.group(1))
        return [int(x, 16) if x.startswith("0x") else int(x) for x in toks]

    page_lut, flat = arr("bmp_page_lut", 256), arr("flat_bmp", 14656)
    alo, ahi, acls = arr("astral_lo", 550), arr("astral_hi", 550), arr("astral_cls", 550)
    blo, bhi = arr("big_oletter_lo", 18), arr("big_oletter_hi", 18)

    def ref_prop(cp):
        i = bisect.bisect_right(blo, cp) - 1
        if i >= 0 and blo[i] <= cp <= bhi[i]:
            return 9
        if cp < 0x10000:
            return flat[page_lut[cp >> 8] * 256 + (cp & 0xFF)]
        i = bisect.bisect_right(alo, cp) - 1
        return acls[i] if i >= 0 and alo[i] <= cp <= ahi[i] else 0

    import uax29 as u

    to_ref = {u.S_OTHER: 0, u.S_CR: 1, u.S_LF: 2, u.S_SEP: 4, u.S_EXTEND: 3,
              u.S_FORMAT: 5, u.S_SP: 6, u.S_LOWER: 7, u.S_UPPER: 8,
              u.S_OLETTER: 9, u.S_NUMERIC: 10, u.S_ATERM: 11, u.S_STERM: 13,
              u.S_CLOSE: 14, u.S_SCONTINUE: 12}
    bad = [
        cp
        for cp in range(0x110000)
        if not (0xD800 <= cp <= 0xDFFF)
        and to_ref[u.sentence_break_property(cp)] != ref_prop(cp)
    ]
    assert not bad, f"{len(bad)} divergent codepoints, first: {[hex(c) for c in bad[:10]]}"
