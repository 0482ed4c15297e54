"""UAX-14 line-breaking conformance: the LB rule chain against
hand-derived break opportunities (reference surface
utf8_linebreaks/serial.h LB1-LB31)."""

from __future__ import annotations

from uax14 import (
    line_break_class,
    linebreak_opportunities,
    linebreak_segments as lb,
)

NBSP = chr(0xA0)
ZWSP = chr(0x200B)
WJ = chr(0x2060)
SHY = chr(0xAD)


def test_spaces_and_hyphens():
    assert lb("foo bar") == ["foo ", "bar"]  # LB18 after the space run
    assert lb("foo  bar") == ["foo  ", "bar"]
    assert lb("foo-bar") == ["foo-", "bar"]  # break after hyphen (LB21/31)
    assert lb("3-4") == ["3-4"]  # LB25 HY x NU
    assert lb("a" + SHY + "b") == ["a" + SHY, "b"]  # soft hyphen is BA


def test_glue_classes():
    assert lb("a" + NBSP + "b") == ["a" + NBSP + "b"]  # LB12 GL
    assert lb("a" + WJ + "b") == ["a" + WJ + "b"]  # LB11 WJ
    assert lb("a" + ZWSP + "b") == ["a" + ZWSP, "b"]  # LB8 ZW breaks after
    # LB12a: break allowed before GL when preceded by SP
    assert lb("a " + NBSP + "b") == ["a ", NBSP + "b"]


def test_numeric_context():
    assert lb("3.14 ok") == ["3.14 ", "ok"]  # IS/NU joins
    assert lb("100% off") == ["100% ", "off"]  # NU x PO
    assert lb("$25 off") == ["$25 ", "off"]  # PR x NU
    assert lb("1,234,567") == ["1,234,567"]  # IS chains
    assert lb("v1/2") == ["v1/2"]  # SY x NU + AL x NU


def test_mandatory_breaks():
    ops = linebreak_opportunities("ab\ncd")
    assert ops == [(3, True)]  # only the newline, mandatory
    assert lb("ab\ncd") == ["ab\n", "cd"]
    assert lb("a\r\nb") == ["a\r\n", "b"]  # LB5 CR x LF


def test_ideographic_and_korean():
    kanji = chr(0x6F22) + chr(0x5B57)  # 漢字
    assert lb(kanji) == [kanji[0], kanji[1]]  # ID x ID breaks (LB31)
    hangul = chr(0xD55C) + chr(0xAD6D)  # 한국 (both H3 syllables)
    assert lb(hangul) == [hangul[0], hangul[1]]
    jamo = chr(0x1100) + chr(0x1161) + chr(0x11A8)  # JL JV JT
    assert lb(jamo) == [jamo]  # LB26 composes one syllable
    # small kana are NS: no break before (CJ -> NS per LB1)
    kata = chr(0x30AB) + chr(0x30C3) + chr(0x30D7)  # カップ
    assert lb(kata) == [kata[0:2], kata[2]]


def test_quotes_and_brackets():
    assert lb('"hi" x') == ['"hi" ', "x"]  # LB19 quotes glue
    assert lb("(ab) x") == ["(ab) ", "x"]  # LB14 OP, LB13 CL
    assert lb("a (b)") == ["a ", "(b)"]
    assert lb("f(x)!") == ["f(x)!"]  # LB30 AL x OP, LB13 EX


def test_emoji_and_flags():
    flags = chr(0x1F1FA) + chr(0x1F1F8) + chr(0x1F1EB) + chr(0x1F1F7)
    assert lb(flags) == [flags[:2], flags[2:]]  # LB30a RI pairs
    person = chr(0x1F466) + chr(0x1F3FD)
    assert lb(person + " x") == [person + " ", "x"]  # LB30b EB x EM
    zwj_seq = chr(0x1F468) + chr(0x200D) + chr(0x1F469)
    assert lb(zwj_seq) == [zwj_seq]  # LB8a ZWJ glue


def test_combining_marks_attach():
    t = "e" + chr(0x301) + "tude ok"
    assert lb(t) == ["e" + chr(0x301) + "tude ", "ok"]  # LB9
    # LB10: lone mark at start acts as AL
    t2 = chr(0x301) + "x"
    assert lb(t2) == [t2]


def test_hebrew_hyphen_lb21a():
    heb = chr(0x5D0) + chr(0x5D1)
    assert lb(heb + "-x") == [heb + "-x"]  # LB21a: HL HY x (no break)
    assert lb("ab-x") == ["ab-", "x"]  # Latin left side still breaks


def test_class_spot_checks():
    import uax14 as m

    assert line_break_class(0x0020) == m.LB_SP
    assert line_break_class(0x00A0) == m.LB_GL
    assert line_break_class(0x4E00) == m.LB_ID
    assert line_break_class(0xD55C) == m.LB_H3
    assert line_break_class(0xAC00) == m.LB_H2
    assert line_break_class(0x0024) == m.LB_PR  # currency via Sc
    assert line_break_class(0x1F1E6) == m.LB_RI
    assert line_break_class(0x30FC) == m.LB_NS  # CJ -> NS


def test_tiling_fuzz():
    import random

    rng = random.Random(7)
    pool = (
        "ab 12-.,()\"'\n\r"
        + NBSP + ZWSP + WJ
        + chr(0x6F22) + chr(0xD55C) + chr(0x301) + chr(0x200D)
        + chr(0x1F1FA) + chr(0x1F600)
    )
    for _ in range(300):
        t = "".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
        segs = lb(t)
        assert "".join(segs) == t
        assert all(segs)


def test_line_break_class_full_unicode_conformance():
    """EVERY codepoint's LB1-resolved Line_Break class == the
    reference's UCD-17-generated tables (utf8_linebreaks/tables.h:
    palette descriptors + big ranges + page LUT + BMP trie + astral
    ranges, decoded exactly as serial.h sz_rune_line_break_property).
    Since round 4's second pass the comparison runs with ZERO folds —
    every reference class incl. AK/AP/AS/VF/VI/HH and CB is modeled.
    Skipped when the reference checkout is absent."""
    import os
    import re

    import pytest

    path = "/root/reference/include/stringzilla/utf8_linebreaks/tables.h"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    src = open(path).read()

    def arr(name, n):
        m = re.search(re.escape(name) + r"_\[[0-9xA-Fa-f]*\] = \{(.*?)\};", src, re.S)
        toks = re.findall(r"0x[0-9A-Fa-f]+|\d+", m.group(1))
        v = [int(x, 16) if x.startswith("0x") else int(x) for x in toks]
        assert len(v) == n
        return v

    palette = arr("sz_utf8_line_break_palette", 62)
    big_lo = arr("sz_utf8_line_break_big_lo", 50)
    big_hi = arr("sz_utf8_line_break_big_hi", 50)
    big_idx = arr("sz_utf8_line_break_big_idx", 50)
    page_lut = arr("sz_utf8_line_break_page_lut", 0x800)
    trie_leaf = arr("sz_utf8_line_break_trie_leaf", 2248)
    trie_l2 = arr("sz_utf8_line_break_trie_l2", 1168)
    trie_l1 = arr("sz_utf8_line_break_trie_l1", 992)
    astral_lo = arr("sz_utf8_line_break_astral_lo", 618)
    astral_hi = arr("sz_utf8_line_break_astral_hi", 618)
    astral_idx = arr("sz_utf8_line_break_astral_idx", 618)

    def ref_desc(cp):
        for i in range(50):
            if big_lo[i] <= cp <= big_hi[i]:
                return palette[big_idx[i]]
        if cp < 0x800:
            return palette[page_lut[cp]]
        if cp < 0x10000:
            off = cp - 0x800
            block = off // 8
            l1 = trie_l1[block // 8]
            leaf = trie_l2[l1 * 8 + block % 8]
            return palette[trie_leaf[leaf * 8 + off % 8]]
        for i in range(618):
            if astral_lo[i] <= cp <= astral_hi[i]:
                return palette[astral_idx[i]]
        return palette[0]

    def ref_class_lb1(cp):
        d = ref_desc(cp)
        c = d & 0x3F
        if c == 41:  # SA: CM when mark-flagged, else AL
            return 4 if (d & (1 << 12)) else 29
        if c in (0, 28, 6):  # XX/AI/SG -> AL
            return 29
        if c == 30:  # CJ -> NS
            return 20
        return c

    import uax14 as m

    mymap = {m.LB_AL: 29, m.LB_BK: 1, m.LB_CR: 2, m.LB_LF: 3, m.LB_NL: 5,
             m.LB_SP: 10, m.LB_ZW: 8, m.LB_WJ: 7, m.LB_GL: 9, m.LB_CM: 4,
             m.LB_ZWJ: 42, m.LB_B2: 11, m.LB_BA: 12, m.LB_BB: 13, m.LB_HY: 14,
             m.LB_CL: 16, m.LB_CP: 17, m.LB_EX: 18, m.LB_IN: 19, m.LB_NS: 20,
             m.LB_OP: 21, m.LB_QU: 22, m.LB_IS: 23, m.LB_NU: 24, m.LB_PO: 25,
             m.LB_PR: 26, m.LB_SY: 27, m.LB_HL: 35, m.LB_ID: 36, m.LB_EB: 31,
             m.LB_EM: 32, m.LB_RI: 40, m.LB_JL: 37, m.LB_JV: 38, m.LB_JT: 39,
             m.LB_H2: 33, m.LB_H3: 34,
             m.LB_AK: 43, m.LB_AP: 44, m.LB_AS: 45, m.LB_VF: 46, m.LB_VI: 47,
             m.LB_HH: 48, m.LB_CB: 15}
    fold = {}  # every reference Line_Break class is modeled
    bad = []
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ref = ref_class_lb1(cp)
        ref = fold.get(ref, ref)
        if mymap[m.line_break_class(cp)] != ref:
            bad.append(cp)
    assert not bad, f"{len(bad)} divergent codepoints, first: {[hex(c) for c in bad[:10]]}"


def test_tr14_hh_and_lb20a():
    """HH (unambiguous hyphen, U+2010) + LB20a word-initial hyphens."""
    HH = chr(0x2010)
    # word-internal hyphen: break after it (LB21 attaches it left)
    assert lb(f"hy{HH}phen") == [f"hy{HH}", "phen"]
    # LB20a: hyphen at word start (after a space) glues to the word
    assert lb(f"x {HH}yz") == ["x ", f"{HH}yz"]
    assert lb("x -yz") == ["x ", "-yz"]  # same for HY
    # at sot
    assert lb(f"{HH}yz") == [f"{HH}yz"]
    # LB21a: Hebrew letter + hyphen glues to the NEXT cluster
    heb = chr(0x05D0)
    assert lb(f"{heb}{HH}x") == [f"{heb}{HH}x"]
    # LB12a: no glue-before-GL exemption is NOT extended after HH
    NBSP2 = chr(0xA0)
    assert lb(f"a{HH}{NBSP2}b") == [f"a{HH}", f"{NBSP2}b"]


def test_tr14_lb15a_lb15b_quotes():
    """Pi/Pf quote context (LB15a/b replace classic LB15)."""
    PI, PF = chr(0x201C), chr(0x201D)  # " "
    # LB15a: opening Pi quote at sot / after space glues right, even
    # across following spaces
    assert lb(f"{PI}word") == [f"{PI}word"]
    assert lb(f"x {PI}word") == ["x ", f"{PI}word"]
    assert lb(f"x {PI} word") == ["x ", f"{PI} word"]
    # LB15b: closing Pf quote before space attaches left
    assert lb(f"word{PF} x") == [f"word{PF} ", "x"]
    # eot also allowed
    assert lb(f"word{PF}") == [f"word{PF}"]
    # ambiguous straight quote is neither Pi nor Pf: LB15a does not
    # suppress LB18's break after the space, unlike the Pi case above
    assert lb('a "b" c') == ['a ', '"b" ', 'c']


def test_tr14_lb15_34_is_rules():
    """LB15.3/LB15.4: IS after a space breaks only before a numeral."""
    # SP IS NU: break opportunity before the IS cluster
    assert lb("x .5") == ["x ", ".5"]
    # SP IS non-NU: x IS still attaches (LB15.4)
    assert lb("x .y") == ["x .y"]
    # non-space left: IS attaches as always
    assert lb("3.14") == ["3.14"]


def test_tr14_lb28a_aksara():
    """LB28a aksara clusters over AK/AP/AS/VF/VI with Dotted Circle."""
    AK = chr(0x11005)   # Brahmi letter A (AK)
    AK2 = chr(0x11006)
    AP = chr(0x11003)   # Brahmi number joiner? -> AP per tables
    VI = chr(0x11046)   # Brahmi virama (VI)
    VF = chr(0x1BF2)    # Batak pangolat (VF)
    DC = chr(0x25CC)
    # AP x AK
    assert lb(f"{AP}{AK}") == [f"{AP}{AK}"]
    # AK x VI
    assert lb(f"{AK}{VI}") == [f"{AK}{VI}"]
    # AK VI x AK (28a.3)
    assert lb(f"{AK}{VI}{AK2}") == [f"{AK}{VI}{AK2}"]
    # AK x AK VF (28a.4)
    assert lb(f"{AK}{AK2}{VF}") == [f"{AK}{AK2}{VF}"]
    # dotted circle acts as base
    assert lb(f"{AP}{DC}") == [f"{AP}{DC}"]
    assert lb(f"{DC}{VI}") == [f"{DC}{VI}"]
    # two bare AK with no virama context still break (LB31)
    assert lb(f"{AK}{AK2}") == [AK, AK2]


def test_tr14_cb_eaw_lb19_lb30_lb30b():
    """Second r4 pass: the chain is reference-complete — CB/LB20,
    East-Asian-aware LB19/LB30 (EAW flag decoded from the reference
    tables), LB30b's unassigned-ExtPict clause."""
    CB = chr(0xFFFC)
    # LB20: break on both sides of a contingent-break object
    assert lb(f"ab{CB}cd") == ["ab", CB, "cd"]
    PI, PF = chr(0x201C), chr(0x201D)
    # LB19: quotes glue in Latin context ...
    assert lb(f"a{PI}b") == [f"a{PI}b"]
    # ... but an EA-flanked directional quote allows the break
    assert lb("中" + PI + "文" + PF + "话") == ["中", PI + "文" + PF, "话"]
    # LB30: ASCII bracket joins, fullwidth (EAW) bracket does not
    assert lb("ab(x") == ["ab(x"]
    assert lb("ab" + chr(0xFF08) + "x") == ["ab", chr(0xFF08) + "x"]
    # LB30b second clause: unassigned ExtPict x EM glues
    assert lb(chr(0x1F02C) + chr(0x1F3FB)) == [chr(0x1F02C) + chr(0x1F3FB)]
    # ID (assigned, non-EB pictograph has its own EB test above) x EM
    # without the flag still breaks
    assert lb(chr(0x4E2D) + chr(0x1F3FB)) == [chr(0x4E2D), chr(0x1F3FB)]


def test_eaw_epcn_flags_full_unicode_conformance():
    """The vendored East_Asian_Width and unassigned-ExtPict flag runs
    (LB19/LB30/LB30b refinements) == the reference descriptors' bit 8 /
    bit 9 at every codepoint.  Skipped without the reference checkout."""
    import os
    import re

    import pytest

    path = "/root/reference/include/stringzilla/utf8_linebreaks/tables.h"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    src = open(path).read()

    def arr(name, n):
        m = re.search(re.escape(name) + r"_\[[0-9xA-Fa-f]*\] = \{(.*?)\};", src, re.S)
        toks = re.findall(r"0x[0-9A-Fa-f]+|\d+", m.group(1))
        v = [int(x, 16) if x.startswith("0x") else int(x) for x in toks]
        assert len(v) == n
        return v

    palette = arr("sz_utf8_line_break_palette", 62)
    big_lo = arr("sz_utf8_line_break_big_lo", 50)
    big_hi = arr("sz_utf8_line_break_big_hi", 50)
    big_idx = arr("sz_utf8_line_break_big_idx", 50)
    page_lut = arr("sz_utf8_line_break_page_lut", 0x800)
    trie_leaf = arr("sz_utf8_line_break_trie_leaf", 2248)
    trie_l2 = arr("sz_utf8_line_break_trie_l2", 1168)
    trie_l1 = arr("sz_utf8_line_break_trie_l1", 992)
    astral_lo = arr("sz_utf8_line_break_astral_lo", 618)
    astral_hi = arr("sz_utf8_line_break_astral_hi", 618)
    astral_idx = arr("sz_utf8_line_break_astral_idx", 618)

    def ref_desc(cp):
        for i in range(50):
            if big_lo[i] <= cp <= big_hi[i]:
                return palette[big_idx[i]]
        if cp < 0x800:
            return palette[page_lut[cp]]
        if cp < 0x10000:
            off = cp - 0x800
            block = off // 8
            l1 = trie_l1[block // 8]
            leaf = trie_l2[l1 * 8 + block % 8]
            return palette[trie_leaf[leaf * 8 + off % 8]]
        for i in range(618):
            if astral_lo[i] <= cp <= astral_hi[i]:
                return palette[astral_idx[i]]
        return palette[0]

    from uax14 import is_east_asian, is_extpict_cn

    bad = []
    for cp in range(0x110000):
        d = ref_desc(cp)
        if is_east_asian(cp) != bool((d >> 8) & 1):
            bad.append(("eaw", cp))
        if is_extpict_cn(cp) != bool((d >> 9) & 1):
            bad.append(("epcn", cp))
        if len(bad) > 10:
            break
    assert not bad, f"flag divergences: {[(k, hex(c)) for k, c in bad[:10]]}"
