"""Unicode segmentation property codes shared by the vectorized engines
(sz_spark.uax_vec) and the generated run tables (sz_spark.uax_tables_gen
stores these integers).  The scalar rule engines the tests compare
against (tests/uax29.py, tests/uax14.py, tests/uax29_graphemes.py)
import their codes from here, so each code is defined once.
"""

# Word_Break (same partition as the reference's 4-bit model,
# utf8_wordbreaks/tables.h:74-89; MidNumLet/Single_Quote/Double_Quote
# are kept distinct here — the reference merges them into MID_QUOTES
# and recovers the distinction from the codepoint)
OTHER = 0
CR = 1
LF = 2
NEWLINE = 3
EXTEND = 4
ZWJ = 5
FORMAT = 6
RI = 7
ALETTER = 8
HEBREW = 9
NUMERIC = 10
KATAKANA = 11
EXTENDNUMLET = 12
MIDLETTER = 13
MIDNUM = 14
MIDNUMLET = 15
SINGLE_QUOTE = 16
DOUBLE_QUOTE = 17

# WSegSpace (WB3d): Zs minus the non-breaking/figure spaces
_WSEGSPACE_CPS = frozenset(
    [0x0020, 0x1680, 0x205F, 0x3000] + list(range(0x2000, 0x2007)) + list(range(0x2008, 0x200B))
)

# Sentence_Break (reference utf8_sentences.h)
S_OTHER = 0
S_CR = 1
S_LF = 2
S_SEP = 3
S_EXTEND = 4
S_FORMAT = 5
S_SP = 6
S_LOWER = 7
S_UPPER = 8
S_OLETTER = 9
S_NUMERIC = 10
S_ATERM = 11
S_STERM = 12
S_CLOSE = 13
S_SCONTINUE = 14

#: the classes SB8's lookahead stops at
_SB8_BLOCKERS = frozenset(
    (S_OLETTER, S_UPPER, S_LOWER, S_SEP, S_CR, S_LF, S_ATERM, S_STERM)
)

# Line_Break (subset relevant to the rule chain; AK/AP/AS/VF/VI are the
# Brahmic aksara classes and HH the unambiguous hyphen of the newest TR14)
(
    LB_AL, LB_BK, LB_CR, LB_LF, LB_NL, LB_SP, LB_ZW, LB_WJ, LB_GL, LB_CM,
    LB_ZWJ, LB_B2, LB_BA, LB_BB, LB_HY, LB_CL, LB_CP, LB_EX, LB_IN, LB_NS,
    LB_OP, LB_QU, LB_IS, LB_NU, LB_PO, LB_PR, LB_SY, LB_HL, LB_ID, LB_EB,
    LB_EM, LB_RI, LB_JL, LB_JV, LB_JT, LB_H2, LB_H3,
    LB_AK, LB_AP, LB_AS, LB_VF, LB_VI, LB_HH, LB_CB,
) = range(44)

#: Dotted Circle U+25CC — acts as an aksara base in LB28a.
DOTTED_CIRCLE = 0x25CC

#: allowed left context for LB15a (reference serial.h:298-315; CB is not
#: modeled — folded to AL — a documented delta)
_LB15A_LEFT = frozenset((LB_BK, LB_CR, LB_LF, LB_NL, LB_OP, LB_QU, LB_GL, LB_SP, LB_ZW))
#: allowed right context for LB15b (reference serial.h:316-337)
_LB15B_RIGHT = frozenset((LB_SP, LB_GL, LB_WJ, LB_CL, LB_QU, LB_CP, LB_EX,
                          LB_IS, LB_SY, LB_BK, LB_CR, LB_LF, LB_NL, LB_ZW))
#: allowed context two-left for LB20a (reference serial.h:371-386)
_LB20A_LEFT = frozenset((LB_BK, LB_CR, LB_LF, LB_NL, LB_SP, LB_ZW, LB_GL, LB_CB))

# Grapheme_Cluster_Break (reference enum, utf8_graphemes/tables.h:58-71)
G_OTHER = 0
G_CR = 1
G_LF = 2
G_CONTROL = 3
G_EXTEND = 4
G_ZWJ = 5
G_RI = 6
G_PREPEND = 7
G_SPACINGMARK = 8
G_L = 9
G_V = 10
G_T = 11
G_LV = 12
G_LVT = 13

# Indic_Conjunct_Break (reference enum, utf8_graphemes/tables.h:81-84)
INCB_NONE = 0
INCB_CONSONANT = 1
INCB_EXTEND = 2
INCB_LINKER = 3
