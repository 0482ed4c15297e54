"""Extended grapheme cluster conformance: per-rule behavior + the
full-space property sweep against the reference's UCD-17 tables
(utf8_graphemes/serial.h GB1-GB999 incl. GB9c/GB11)."""

from __future__ import annotations

from uax29_graphemes import (
    grapheme_break_property,
    grapheme_segments as gs,
    indic_conjunct_break,
)

ZWJ = chr(0x200D)
ACUTE = chr(0x301)


def test_basic_clusters():
    assert gs("") == []
    assert gs("abc") == ["a", "b", "c"]
    assert gs("e" + ACUTE + "x") == ["e" + ACUTE, "x"]  # GB9
    assert gs("b" + chr(0x302) + "q" + ACUTE) == ["b" + chr(0x302), "q" + ACUTE]
    assert gs("x" + ACUTE + chr(0x302)) == ["x" + ACUTE + chr(0x302)]  # stacked


def test_controls_and_crlf():
    assert gs("a\r\nb") == ["a", "\r\n", "b"]  # GB3/4/5
    assert gs("a\tb") == ["a", "\t", "b"]  # Control splits
    # Extend after control cannot attach (GB4)
    assert gs("\n" + ACUTE) == ["\n", ACUTE]


def test_hangul_composition():
    jamo = chr(0x1100) + chr(0x1161) + chr(0x11A8)  # L V T
    assert gs(jamo) == [jamo]  # GB6/7/8
    lv = chr(0xAC00)
    assert gs(lv + chr(0x11A8)) == [lv + chr(0x11A8)]  # LV x T
    assert gs(chr(0xAC01) + chr(0x1161)) == [chr(0xAC01), chr(0x1161)]  # LVT x V breaks


def test_emoji_sequences():
    family = chr(0x1F468) + ZWJ + chr(0x1F469) + ZWJ + chr(0x1F467)
    assert gs(family) == [family]  # GB11 + GB9
    thumb = chr(0x1F44D) + chr(0x1F3FB)
    assert gs(thumb) == [thumb]  # skin tone is Extend
    # ZWJ to NON-pictographic: ZWJ attaches (GB9) but 'x' starts fresh
    assert gs("a" + ZWJ + "x") == ["a" + ZWJ, "x"]
    flags = chr(0x1F1FA) + chr(0x1F1F8) + chr(0x1F1EB) + chr(0x1F1F7)
    assert gs(flags) == [flags[:2], flags[2:]]  # GB12/13 pairs


def test_gb9c_indic_conjuncts():
    ka, virama, ssa = chr(0x0915), chr(0x094D), chr(0x0937)
    assert indic_conjunct_break(ord(ka)) == 1  # Consonant
    assert indic_conjunct_break(ord(virama)) == 3  # Linker
    assert gs(ka + virama + ssa) == [ka + virama + ssa]  # conjunct joins
    # no linker -> the second consonant starts a new cluster
    assert gs(ka + ssa) == [ka, ssa]
    # linker + extend chain still joins
    anusvara = chr(0x0902)
    assert gs(ka + virama + anusvara + ssa)[0] == ka + virama + anusvara + ssa


def test_prepend():
    sign = chr(0x0600)  # ARABIC NUMBER SIGN: Prepend
    assert grapheme_break_property(0x0600) == 7
    assert gs(sign + "1") == [sign + "1"]  # GB9b


def test_property_full_unicode_conformance():
    """EVERY codepoint's (Grapheme_Cluster_Break, Indic_Conjunct_Break,
    Extended_Pictographic) == the reference's UCD-17 descriptor tables.
    Skipped when the reference checkout is absent."""
    import bisect
    import os
    import re

    import pytest

    path = "/root/reference/include/stringzilla/utf8_graphemes/tables.h"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    src = open(path).read()

    def arr(name, n):
        m = re.search(re.escape(name) + r"_\[[0-9xA-Fa-f]*\] = \{(.*?)\};", src, re.S)
        toks = re.findall(r"0x[0-9A-Fa-f]+|\d+", m.group(1))
        v = [int(x, 16) if x.startswith("0x") else int(x) for x in toks]
        assert len(v) == n
        return v

    id_to_desc = arr("sz_utf8_grapheme_break_id_to_desc", 64)
    stage_hi = arr("sz_utf8_grapheme_break_stage_hi", 256)
    stage_mid = arr("sz_utf8_grapheme_break_stage_mid", 768)
    stage_sub = arr("sz_utf8_grapheme_break_stage_sub", 3200)
    alo = arr("sz_utf8_grapheme_break_astral_lo", 348)
    ahi = arr("sz_utf8_grapheme_break_astral_hi", 348)
    aid = arr("sz_utf8_grapheme_break_astral_id", 348)

    def ref_desc(cp):
        if 0xAC00 <= cp <= 0xD7A3:
            return 12 if (cp - 0xAC00) % 28 == 0 else 13
        if cp < 0x10000:
            mid = stage_hi[cp >> 8]
            sub = stage_mid[mid * 16 + ((cp >> 4) & 0xF)]
            return id_to_desc[stage_sub[sub * 16 + (cp & 0xF)]]
        i = bisect.bisect_right(alo, cp) - 1
        return id_to_desc[aid[i]] if i >= 0 and alo[i] <= cp <= ahi[i] else 0

    from uax29 import is_extended_pictographic

    bad = []
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        d = ref_desc(cp)
        if (
            grapheme_break_property(cp) != (d & 0xF)
            or indic_conjunct_break(cp) != ((d >> 4) & 3)
            or is_extended_pictographic(cp) != bool((d >> 6) & 1)
        ):
            bad.append(cp)
    assert not bad, f"{len(bad)} divergent codepoints, first: {[hex(c) for c in bad[:10]]}"


def test_tiling_fuzz():
    import random

    rng = random.Random(11)
    pool = (
        "ab 1.\r\n\t"
        + chr(0x0915) + chr(0x094D) + chr(0x0937) + chr(0x0902)
        + ACUTE + ZWJ
        + chr(0x1100) + chr(0x1161) + chr(0xAC00)
        + chr(0x1F468) + chr(0x1F3FB) + chr(0x1F1FA)
        + chr(0x0600)
    )
    for _ in range(300):
        t = "".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
        segs = gs(t)
        assert "".join(segs) == t
        assert all(segs)
