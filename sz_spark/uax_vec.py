"""Vectorized (table-driven NumPy) UAX-29 / UAX-14 segmentation engines.

The scalar engines (tests/uax29.py, tests/uax14.py,
tests/uax29_graphemes.py — direct per-codepoint transcriptions of the
reference's serial kernels, utf8_wordbreaks/serial.h,
utf8_sentences/serial.h:184-255, utf8_linebreaks/serial.h,
utf8_graphemes/serial.h:105-205) are the tests' correctness gold but
interpret one Python step per codepoint.  This module re-expresses each
rule chain as whole-array NumPy over an entire Arrow batch at once:

* property lookup: ``PROPS[searchsorted(STARTS, cps, 'right') - 1]``
  over the generated full-coverage run tables (sz_spark.uax_tables_gen);
* WB4/SB5/LB9 ignorable folding and every bounded lookback/lookahead
  (prev element base, next element base, last non-SP cluster) as
  ``maximum.accumulate`` / reversed-``minimum.accumulate`` index maps;
* Regional_Indicator pair parity (WB15/16, GB12/13, LB30a) as
  run-length-from-last-non-RI arithmetic;
* the rule chains as a first-match-wins cascade over an undecided mask,
  in exactly the scalar engines' rule order.

Property class codes come from sz_spark.uax_classes, the run tables
from sz_spark.uax_tables_gen; this module imports nothing else.

Batch trick: the texts of a batch are joined with a single LF
(U+000A) separator and segmented in ONE pass.  LF is a hard barrier in
all four annexes — Newline in WB (WB3a/3b), ParaSep in SB (SB4), BK-
family in LB (LB4-LB6, and in the LB9 non-absorbing set), Control in GB
(GB4/5) — and no lookback or lookahead rule scans past it, so interior
decisions are provably identical to segmenting each text alone.  The
one divergence (SB treats "only ignorables to the left" as attach,
which an LF would turn into ParaSep-break) is masked explicitly with
per-position text-start indices.

Differential guarantee: tests/test_uax_vec.py sweeps every engine
against its scalar twin over the conformance corpora, the planted rule
fixtures, and class-biased random fuzz; the property tables are swept
against the scalar classifiers at 100% of all 0x110000 codepoints.
"""

from __future__ import annotations

import numpy as np

from sz_spark import uax_classes as _C
from sz_spark import uax_tables_gen as _T

# --- property lookup tables -------------------------------------------------

_WB_STARTS = np.asarray(_T.WB_STARTS, dtype=np.int64)
_WB_PROPS = np.asarray(_T.WB_PROPS, dtype=np.int8)
_SB_STARTS = np.asarray(_T.SB_STARTS, dtype=np.int64)
_SB_PROPS = np.asarray(_T.SB_PROPS, dtype=np.int8)
_LB_STARTS = np.asarray(_T.LB_STARTS, dtype=np.int64)
_LB_PROPS = np.asarray(_T.LB_PROPS, dtype=np.int8)
_GCB_STARTS = np.asarray(_T.GCB_STARTS, dtype=np.int64)
_GCB_PROPS = np.asarray(_T.GCB_PROPS, dtype=np.int8)
_INCB_STARTS = np.asarray(_T.INCB_STARTS, dtype=np.int64)
_INCB_PROPS = np.asarray(_T.INCB_PROPS, dtype=np.int8)
_EP_STARTS = np.asarray(_T.EXTPICT_STARTS, dtype=np.int64)
_EP_PROPS = np.asarray(_T.EXTPICT_PROPS, dtype=np.int8)
_QS_STARTS = np.asarray(_T.QSIDE_STARTS, dtype=np.int64)
_QS_PROPS = np.asarray(_T.QSIDE_PROPS, dtype=np.int8)
_EAW_STARTS = np.asarray(_T.EAW_STARTS, dtype=np.int64)
_EAW_PROPS = np.asarray(_T.EAW_PROPS, dtype=np.int8)
_EPCN_STARTS = np.asarray(_T.EPCN_STARTS, dtype=np.int64)
_EPCN_PROPS = np.asarray(_T.EPCN_PROPS, dtype=np.int8)


def _bmp_lut(starts: np.ndarray, props: np.ndarray) -> np.ndarray:
    """Direct-index table for the BMP (64 KiB, cache-resident): property
    lookup becomes one gather instead of a binary search per codepoint."""
    cut = int(np.searchsorted(starts, 0x10000, side="right"))
    s = starts[:cut]
    reps = np.diff(np.concatenate([s, [0x10000]]))
    return np.repeat(props[:cut], reps)


def _lookup(starts: np.ndarray, props: np.ndarray, cps: np.ndarray,
            bmp: np.ndarray | None = None) -> np.ndarray:
    if bmp is None:
        return props[np.searchsorted(starts, cps, side="right") - 1]
    # pure-BMP batches (the common corpus case) take one direct gather;
    # the max() reduction is ~10x cheaper than the where+copy it avoids
    if len(cps) == 0 or int(cps.max()) < 0x10000:
        return bmp[cps]
    astral = cps >= 0x10000
    out = bmp[np.where(astral, 0, cps)]
    sub = cps[astral]
    out[astral] = props[np.searchsorted(starts, sub, side="right") - 1]
    return out


_WB_BMP = _bmp_lut(_WB_STARTS, _WB_PROPS)
_SB_BMP = _bmp_lut(_SB_STARTS, _SB_PROPS)
_LB_BMP = _bmp_lut(_LB_STARTS, _LB_PROPS)
_GCB_BMP = _bmp_lut(_GCB_STARTS, _GCB_PROPS)
_INCB_BMP = _bmp_lut(_INCB_STARTS, _INCB_PROPS)
_EP_BMP = _bmp_lut(_EP_STARTS, _EP_PROPS)
_QS_BMP = _bmp_lut(_QS_STARTS, _QS_PROPS)
_EAW_BMP = _bmp_lut(_EAW_STARTS, _EAW_PROPS)
_EPCN_BMP = _bmp_lut(_EPCN_STARTS, _EPCN_PROPS)


def sb_props(cps):
    return _lookup(_SB_STARTS, _SB_PROPS, cps, _SB_BMP)


def lb_classes(cps):
    return _lookup(_LB_STARTS, _LB_PROPS, cps, _LB_BMP)


def gcb_props(cps):
    return _lookup(_GCB_STARTS, _GCB_PROPS, cps, _GCB_BMP)


def incb_props(cps):
    return _lookup(_INCB_STARTS, _INCB_PROPS, cps, _INCB_BMP)


def extpict(cps):
    return _lookup(_EP_STARTS, _EP_PROPS, cps, _EP_BMP).astype(bool)


def qside_props(cps):
    """General-category quote side: 1 = Pi, 2 = Pf (LB15a/LB15b)."""
    return _lookup(_QS_STARTS, _QS_PROPS, cps, _QS_BMP)


def eaw_flags(cps):
    """East_Asian_Width F/W/H flag (LB19/LB30 refinements)."""
    return _lookup(_EAW_STARTS, _EAW_PROPS, cps, _EAW_BMP).astype(bool)


def epcn_flags(cps):
    """Unassigned Extended_Pictographic flag (LB30b second clause)."""
    return _lookup(_EPCN_STARTS, _EPCN_PROPS, cps, _EPCN_BMP).astype(bool)


# --- small class-code LUTs (indexed by property code) -----------------------


def _lut(size, members):
    a = np.zeros(size, dtype=bool)
    for mbr in members:
        a[mbr] = True
    return a


# WB LUTs are sized 19 so they accept the extended WSegSpace class code
# (_WBX_WSEG = 18, plain class Other) used by the fused fast path.
_WB_IGN = _lut(19, (_C.EXTEND, _C.FORMAT, _C.ZWJ))
_WB_NEWL = _lut(19, (_C.CR, _C.LF, _C.NEWLINE))
_WB_AH = _lut(19, (_C.ALETTER, _C.HEBREW))
_WSEG_ARR = np.asarray(sorted(_C._WSEGSPACE_CPS), dtype=np.int64)

_SB_IGN = _lut(15, (_C.S_EXTEND, _C.S_FORMAT))
_SB_PARA = _lut(15, (_C.S_SEP, _C.S_CR, _C.S_LF))
_SB_BLOCK = _lut(15, _C._SB8_BLOCKERS)
_SB_TERM = _lut(15, (_C.S_ATERM, _C.S_STERM))

_NLB = 44  # Line_Break classes incl. newest-TR14 AK/AP/AS/VF/VI/HH + CB
_LB_NONABS = _lut(_NLB, (_C.LB_BK, _C.LB_CR, _C.LB_LF, _C.LB_NL, _C.LB_SP, _C.LB_ZW))
_LB_MAND = _lut(_NLB, (_C.LB_BK, _C.LB_CR, _C.LB_LF, _C.LB_NL))
_LB_ATTACH = _lut(_NLB, (_C.LB_CM, _C.LB_ZWJ))
_LB15A_LEFT = _lut(_NLB, _C._LB15A_LEFT)
_LB15B_RIGHT = _lut(_NLB, _C._LB15B_RIGHT)
_LB20A_LEFT = _lut(_NLB, _C._LB20A_LEFT)


# --- cascade helper ---------------------------------------------------------


def _flat_pow2(tbl: np.ndarray):
    """Row-pad columns to the next power of two and ravel; returns
    (flat, shift) so a (B, A) gather becomes one 1-D take over a
    shift-or code — ~1.5x a 2-index fancy gather."""
    shift = int(np.ceil(np.log2(tbl.shape[1])))
    p = np.zeros((tbl.shape[0], 1 << shift), dtype=tbl.dtype)
    p[:, : tbl.shape[1]] = tbl
    return p.ravel(), shift


def _rule(dec: np.ndarray, mask, value: int) -> None:
    """First-match-wins: set `value` where `mask` holds and no earlier
    rule decided."""
    m = mask & (dec == -1)
    dec[m] = value


def _last_le(cond: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """last_le[i] = largest j <= i with cond[j], else -1."""
    return np.maximum.accumulate(np.where(cond, idx, -1))


def _next_ge(cond: np.ndarray, idx: np.ndarray, n: int) -> np.ndarray:
    """next_ge[i] = smallest j >= i with cond[j], else n."""
    return np.minimum.accumulate(np.where(cond, idx, n)[::-1])[::-1]


def _run_ending_incl(is_x: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Length of the consecutive is_x run ending at i (inclusive); 0 at
    non-x positions."""
    return idx - _last_le(~is_x, idx)


# --- WORD boundaries (WB1-WB16) --------------------------------------------

# ctx codes for the folded-pair action table
_C6, _C7, _C7B, _C7C, _C11, _C12, _CRI = 10, 11, 12, 13, 14, 15, 16


def _build_wb_pair_tables():
    """Bake the post-WB4 rule chain (the scalar order of
    uax29.is_word_boundary after the left fold) into (ACTION, DEFAULT)
    tables over (left-base-prop, right-prop): ACTION is 1=break,
    0=no-break, or a context-rule code; DEFAULT is the outcome when
    that context rule's condition fails (the rest of the chain walked
    to its first terminal match)."""
    ah = set((_C.ALETTER, _C.HEBREW))
    midnlq = set((_C.MIDNUMLET, _C.SINGLE_QUOTE))
    newl = set((_C.CR, _C.LF, _C.NEWLINE))

    def chain(p, q):
        """Yield (kind, value) decisions in scalar-rule order:
        kind 'T' terminal (value 0/1), kind 'C' context (value = code)."""
        if p in newl:
            yield "T", 1  # de-ignored after newline
        if p in ah and q in ah:
            yield "T", 0  # WB5
        if p in ah and (q == _C.MIDLETTER or q in midnlq):
            yield "C", _C6  # WB6: next base AHLetter
        if (p == _C.MIDLETTER or p in midnlq) and q in ah:
            yield "C", _C7  # WB7: prev-prev base AHLetter
        if p == _C.HEBREW and q == _C.SINGLE_QUOTE:
            yield "T", 0  # WB7a
        if p == _C.HEBREW and q == _C.DOUBLE_QUOTE:
            yield "C", _C7B  # WB7b: next base Hebrew
        if p == _C.DOUBLE_QUOTE and q == _C.HEBREW:
            yield "C", _C7C  # WB7c: prev-prev base Hebrew
        if p == _C.NUMERIC and q == _C.NUMERIC:
            yield "T", 0  # WB8
        if p in ah and q == _C.NUMERIC:
            yield "T", 0  # WB9
        if p == _C.NUMERIC and q in ah:
            yield "T", 0  # WB10
        if (p == _C.MIDNUM or p in midnlq) and q == _C.NUMERIC:
            yield "C", _C11  # WB11: prev-prev base Numeric
        if p == _C.NUMERIC and (q == _C.MIDNUM or q in midnlq):
            yield "C", _C12  # WB12: next base Numeric
        if p == _C.KATAKANA and q == _C.KATAKANA:
            yield "T", 0  # WB13
        if (p in ah or p in (_C.NUMERIC, _C.KATAKANA, _C.EXTENDNUMLET)) and q == _C.EXTENDNUMLET:
            yield "T", 0  # WB13a
        if p == _C.EXTENDNUMLET and (q in ah or q in (_C.NUMERIC, _C.KATAKANA)):
            yield "T", 0  # WB13b
        if p == _C.RI and q == _C.RI:
            yield "C", _CRI  # WB15/16: RI pair parity
        yield "T", 1  # WB999

    act = np.full((18, 18), 1, dtype=np.int8)
    dft = np.full((18, 18), 1, dtype=np.int8)
    for p in range(18):
        for q in range(18):
            decisions = list(chain(p, q))
            first = decisions[0]
            if first[0] == "T":
                act[p, q] = dft[p, q] = first[1]
                continue
            act[p, q] = first[1]
            # outcome when the context condition fails: next decision
            nxt = decisions[1]
            assert nxt[0] == "T", f"double context rule at pair ({p},{q})"
            dft[p, q] = nxt[1]
    return act, dft


_WB_ACT, _WB_DFT = _build_wb_pair_tables()

# --- fused fast-path tables: extended 19-class props (18 = WSegSpace, a
# raw-codepoint set in the scalar engine, plain Word_Break class Other —
# all 14 cps are BMP) so WB3d becomes a pair-table entry, and the whole
# raw-prefix chain WB3/WB3a/WB3b/WB3d + post-WB4 chain is ONE gather.
_WBX_WSEG = 18
_WBX_SLOW = 98  # pair touches an ignorable: the batch takes the full path
_WBX_BMP = _WB_BMP.copy()
_WBX_BMP[_WSEG_ARR] = _WBX_WSEG  # every WSegSpace cp is BMP (checked above)


def wbx_props(cps):
    """Extended WB classes; astral cps resolve through the plain table
    (no astral codepoint is WSegSpace)."""
    return _lookup(_WB_STARTS, _WB_PROPS, cps, _WBX_BMP)


def _build_wbx_tables():
    """(ACTION, DEFAULT) over extended (p, q): the no-ignorable scalar
    chain in rule order — WB3, WB3a, WB3b, [WB3c/WB4 unreachable: ZWJ /
    Extend / Format pairs get the _WBX_SLOW marker], WB3d, then the
    post-fold chain of _build_wb_pair_tables."""
    igns = (_C.EXTEND, _C.FORMAT, _C.ZWJ)
    newl = (_C.CR, _C.LF, _C.NEWLINE)
    act = np.full((19, 19), 1, dtype=np.int8)
    dft = np.full((19, 19), 1, dtype=np.int8)
    for pe in range(19):
        for qe in range(19):
            p = _C.OTHER if pe == _WBX_WSEG else pe
            q = _C.OTHER if qe == _WBX_WSEG else qe
            if p in igns or q in igns:
                act[pe, qe] = dft[pe, qe] = _WBX_SLOW
            elif p == _C.CR and q == _C.LF:
                act[pe, qe] = dft[pe, qe] = 0  # WB3
            elif p in newl or q in newl:
                act[pe, qe] = dft[pe, qe] = 1  # WB3a / WB3b
            elif pe == _WBX_WSEG and qe == _WBX_WSEG:
                act[pe, qe] = dft[pe, qe] = 0  # WB3d
            else:
                act[pe, qe] = _WB_ACT[p, q]
                dft[pe, qe] = _WB_DFT[p, q]
    return act, dft


_WBX_ACT, _WBX_DFT = _build_wbx_tables()
_WBX_ACT_F, _WBX_SHIFT = _flat_pow2(_WBX_ACT)


def word_boundaries(cps: np.ndarray, text_start_of: np.ndarray | None = None) -> np.ndarray:
    """bool[i] = word boundary exists before codepoint index i.
    Vectorized twin of uax29.is_word_boundary (WB1-WB16): raw rules
    WB3-WB4 as masks, the left fold as one maximum.accumulate, then the
    whole post-fold chain as a single (jp, Q) pair-table gather with the
    six lookahead/lookback rules and RI parity resolved lazily on the
    (rare) positions whose table action is a context code."""
    n = len(cps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    px = wbx_props(cps)  # extended classes: WSegSpace = _WBX_WSEG
    # three int8 compares beat a LUT gather for the ignorable mask
    ign = (px == _C.EXTEND) | (px == _C.FORMAT) | (px == _C.ZWJ)
    any_ign = bool(ign.any())

    if any_ign:
        d = np.full(n - 1, -1, dtype=np.int8)
        idx = np.arange(n)
        props = px.copy()
        props[px == _WBX_WSEG] = _C.OTHER
        P, Q = props[:-1], props[1:]

        _rule(d, (P == _C.CR) & (Q == _C.LF), 0)  # WB3
        _rule(d, _WB_NEWL[P], 1)  # WB3a
        _rule(d, _WB_NEWL[Q], 1)  # WB3b
        zwj_left = (P == _C.ZWJ) & (d == -1)
        if zwj_left.any():  # WB3c (raw adjacency, lazy ExtPict gather)
            sub = np.flatnonzero(zwj_left)
            ep_sub = extpict(cps[1:][sub])
            d[sub[ep_sub]] = 0
        wseg = px == _WBX_WSEG
        _rule(d, wseg[:-1] & wseg[1:], 0)  # WB3d

        _rule(d, _WB_IGN[Q], 0)  # WB4: ignorables attach left
        lb_at = _last_le(~ign, idx)
        jarr = lb_at[:-1]  # left element base for boundary-before-i
        _rule(d, jarr < 0, 1)  # sot + ignorables
        jp = props[np.maximum(jarr, 0)]

        undec = d == -1
        acts = np.where(undec, _WB_ACT[jp, Q], np.int8(-1))
        d[acts == 0] = 0
        d[acts == 1] = 1
    else:
        # FUSED fast path (ASCII and most Latin corpora): with no
        # ignorables WB3c/WB4 are unreachable and every element base IS
        # its position, so the whole raw + post-fold chain (WB3, WB3a/b,
        # WB3d via the extended WSegSpace class, WB5-WB999) is ONE
        # pair-table gather; only the (rare) context codes pay more.
        # jarr = None marks "element base == position" so the ctx block
        # can use `sub` directly — no arange is ever materialized here.
        props = px
        jarr = None
        jp, Q = px[:-1], px[1:]
        acts = _WBX_ACT_F[np.left_shift(jp, _WBX_SHIFT, dtype=np.int16) | Q]
        # terminals land directly; every ctx code is overwritten below
        d = acts.copy()

    ctx = acts >= 10
    if ctx.any():
        # resolve the six lookahead/lookback rules SPARSELY: only the
        # (rare) context positions pay for the extra maps and gathers
        sub = np.flatnonzero(ctx)
        acts_s = acts[sub]
        jp_s = jp[sub]
        Q_s = Q[sub]
        kp_s = j2p_s = None
        # lookahead: next element base at/after i+1
        need_k = (acts_s == _C6) | (acts_s == _C7B) | (acts_s == _C12)
        if need_k.any():
            if any_ign:
                nb_at = _next_ge(~ign, idx, n)
                nb_ext = np.concatenate([nb_at, [n]])
                karr_s = nb_ext[sub + 2]
            else:
                karr_s = sub + 2
            kp_s = np.where(karr_s < n, props[np.minimum(karr_s, n - 1)], _C.OTHER)
        # lookback: element base before the left base
        need_j2 = (acts_s == _C7) | (acts_s == _C7C) | (acts_s == _C11)
        if need_j2.any():
            if any_ign:
                jarr_s = jarr[sub]
                j2_s = np.where(jarr_s >= 1, lb_at[np.maximum(jarr_s - 1, 0)], -1)
            else:
                j2_s = sub - 1  # element base == position on the fast path
            j2p_s = np.where(j2_s >= 0, props[np.maximum(j2_s, 0)], _C.OTHER)
        for code, cond in (
            (_C6, (lambda: _WB_AH[kp_s])),
            (_C7B, (lambda: kp_s == _C.HEBREW)),
            (_C12, (lambda: kp_s == _C.NUMERIC)),
            (_C7, (lambda: _WB_AH[j2p_s])),
            (_C7C, (lambda: j2p_s == _C.HEBREW)),
            (_C11, (lambda: j2p_s == _C.NUMERIC)),
        ):
            m_ = acts_s == code
            if m_.any():
                ok = m_ & cond()
                d[sub[ok]] = 0
                rest = m_ & ~ok
                d[sub[rest]] = _WBX_DFT[jp_s[rest], Q_s[rest]]
        m_ = acts_s == _CRI
        if m_.any():  # WB15/16: pair up RIs left-to-right (element parity)
            if any_ign:
                ranks = np.cumsum(~ign) - 1
                el_props = props[np.flatnonzero(~ign)]
                mlen = len(el_props)
                rj = np.clip(ranks[np.maximum(jarr[sub], 0)], 0, max(mlen - 1, 0))
            else:
                el_props = props
                mlen = len(el_props)
                rj = sub  # element rank == position on the fast path
            ri_run_incl = _run_ending_incl(el_props == _C.RI, np.arange(mlen))
            even = m_ & ((ri_run_incl[rj] - 1) % 2 == 0)
            d[sub[even]] = 0
            d[sub[m_ & ~even]] = 1
    if any_ign:
        d[d == -1] = 1  # WB999 (fast path: baked into the table)
    out = np.empty(n, dtype=bool)
    out[0] = True  # WB1
    out[1:] = d == 1
    return out


# --- SENTENCE boundaries (SB1-SB11) ----------------------------------------

# fused-table context codes (fast path)
_SBX_SB7, _SBX_SCAN, _SBX_WALK, _SBX_SLOW = 10, 11, 12, 98


def _build_sbx_table():
    """Bake the ignorable-free SB chain (the exact rule order of the
    slow path below: SB3, SB4, SB6, SB7, SB998, SB8, SB8a, SB9, SB10,
    SB11) into one (P, Q) action table.  With no ignorables the element
    base IS P and sp_seen == (P is Sp), so the only residual context is:
    _SBX_SB7  — SB7's j2 lookback (P=ATerm, Q=Upper; default is 1),
    _SBX_SCAN — SB8's forward blocker scan (ATerm behind, non-blocker Q,
                rest-of-chain would break),
    _SBX_WALK — P in {Sp, Close}: the SATerm Close* Sp* walk decides."""
    blockers = _C._SB8_BLOCKERS
    para = (_C.S_SEP, _C.S_CR, _C.S_LF)
    igns = (_C.S_EXTEND, _C.S_FORMAT)

    def tail(p, q, k2):
        """Chain outcome after SB7 given the walk result k2: 0/1/'scan'."""
        if k2 not in (_C.S_ATERM, _C.S_STERM):
            return 0  # SB998
        scan = False
        if k2 == _C.S_ATERM:  # SB8
            if q in blockers:
                if q == _C.S_LOWER:
                    return 0
            else:
                scan = True  # outcome 0 if the next blocker is Lower
        if q in (_C.S_SCONTINUE, _C.S_ATERM, _C.S_STERM):
            return 0  # SB8a
        if p != _C.S_SP and q == _C.S_CLOSE:
            return 0  # SB9 (sp_seen == (p is Sp))
        if q == _C.S_SP or q in para:
            return 0  # SB10
        return "scan" if scan else 1  # SB11

    act = np.full((15, 15), 1, dtype=np.int8)
    for p in range(15):
        for q in range(15):
            if p in igns or q in igns:
                act[p, q] = _SBX_SLOW
            elif p == _C.S_CR and q == _C.S_LF:
                act[p, q] = 0  # SB3
            elif p in para:
                act[p, q] = 1  # SB4
            elif p == _C.S_ATERM and q == _C.S_NUMERIC:
                act[p, q] = 0  # SB6
            elif p == _C.S_ATERM and q == _C.S_UPPER:
                act[p, q] = _SBX_SB7  # default (tail with k2=ATerm) is 1
            elif p in (_C.S_SP, _C.S_CLOSE):
                # walk result k2 is any non-Sp/Close class (or Other for
                # out-of-text); bake only if the outcome is invariant
                outs = {tail(p, q, k2) for k2 in range(15)
                        if k2 not in (_C.S_SP, _C.S_CLOSE, *igns)}
                act[p, q] = outs.pop() if len(outs) == 1 and "scan" not in outs else _SBX_WALK
            else:
                t = tail(p, q, p)
                act[p, q] = _SBX_SCAN if t == "scan" else t
    return act


_SBX_ACT = _build_sbx_table()
_SBX_ACT_F, _SBX_SHIFT = _flat_pow2(_SBX_ACT)


def _run_starts(mask: np.ndarray) -> np.ndarray:
    """Start index of every maximal True run."""
    rs = np.flatnonzero(mask[1:] & ~mask[:-1]) + 1
    if len(mask) and mask[0]:
        rs = np.concatenate([[0], rs])
    return rs


def _sbx_scan(d, cand, props, n):
    """SB8 forward scan for sparse d-indices `cand` (Q at cand+1 is a
    non-blocker): 0 iff the first blocker at/after cand+2 is Lower.
    Windowed gather loop — ParaSep classes are blockers, so the scan
    never leaves the text (the LF separator stops it)."""
    block = _SB_BLOCK[props]
    res = np.ones(len(cand), dtype=np.int8)
    cur = cand + 2
    active = cur < n
    W = 64
    while active.any():
        ai = np.flatnonzero(active)
        lo = cur[ai]
        idxs = lo[:, None] + np.arange(W)
        valid = idxs < n
        bw = np.zeros(idxs.shape, dtype=bool)
        bw[valid] = block[idxs[valid]]
        has = bw.any(axis=1)
        first = np.argmax(bw, axis=1)
        hit = ai[has]
        pos = lo[has] + first[has]
        res[hit] = np.where(props[pos] == _C.S_LOWER, 0, 1)
        active[hit] = False
        cur[ai[~has]] += W
        active &= cur < n
    d[cand] = res


def sentence_boundaries(cps: np.ndarray, text_start_of: np.ndarray | None = None) -> np.ndarray:
    """bool[i] = sentence boundary before index i — vectorized twin of
    uax29.is_sentence_boundary (SB1-SB11).  ``text_start_of[i]`` is the
    batch index where position i's text begins (0s when segmenting a
    single text): lookbacks landing before it replicate the scalar
    engine's out-of-text (j < 0) semantics."""
    n = len(cps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    props = sb_props(cps)
    # two int8 compares beat a LUT gather for the ignorable mask
    ign = (props == _C.S_EXTEND) | (props == _C.S_FORMAT)
    any_ign = bool(ign.any())

    if not any_ign:
        # FUSED fast path: with no ignorables the whole chain is one
        # (P, Q) table gather (_build_sbx_table); only the sparse SB7 /
        # SB8-scan / terminator-walk context codes pay more.  The j_oob
        # attach rule is a provable no-op here (jarr = i-1 < s_i only at
        # a text's first position, where P is the LF separator and SB4
        # already broke), so text_start_of is never materialized.
        dec = np.empty(n, dtype=np.int8)
        dec[0] = 1  # SB1
        d = dec[1:]
        P, Q = props[:-1], props[1:]
        acts = _SBX_ACT_F[np.left_shift(P, _SBX_SHIFT, dtype=np.int16) | Q]
        # terminals land directly; every ctx code is overwritten below
        np.copyto(d, acts)
        ctx = acts >= 10
        if ctx.any():
            sub = np.flatnonzero(ctx)
            if not np.any(_SB_TERM[props]):
                # no terminator in the batch: every WALK is SB998-attach
                # and SB7/SCAN (P = ATerm) cannot occur
                d[sub] = 0
                return dec == 1
            acts_s = acts[sub]
            scan_cands = []
            m7 = acts_s == _SBX_SB7
            if m7.any():  # SB7: ATerm x Upper, j2 lookback
                p7 = sub[m7]
                j2 = p7 - 1
                if isinstance(text_start_of, tuple):
                    offs = text_start_of[0]
                    s7 = offs[np.searchsorted(offs, p7 + 1, side="right") - 1]
                elif text_start_of is None:
                    s7 = 0
                else:
                    s7 = text_start_of[p7 + 1]
                ok = j2 >= s7
                j2p = np.where(ok, props[np.maximum(j2, 0)], _C.S_OTHER)
                hit = (j2p == _C.S_UPPER) | (j2p == _C.S_LOWER)
                d[p7[hit]] = 0
                d[p7[~hit]] = 1  # baked default: tail(ATerm, Upper) = 1
            mw = acts_s == _SBX_WALK
            if mw.any():  # P in {Sp, Close}: SATerm Close* Sp* walk
                pw = sub[mw]
                is_sp = props == _C.S_SP
                j = pw.copy()
                sp_here = is_sp[j]
                if sp_here.any():  # skip the Sp run (runs never span the
                    rs = _run_starts(is_sp)  # LF separator: LF is not Sp)
                    st = rs[np.searchsorted(rs, j[sp_here], side="right") - 1]
                    j[sp_here] = st - 1
                is_cl = props == _C.S_CLOSE
                inb = j >= 0
                cl_here = np.zeros(len(j), dtype=bool)
                cl_here[inb] = is_cl[j[inb]]
                if cl_here.any():  # then skip the Close run
                    rc = _run_starts(is_cl)
                    st = rc[np.searchsorted(rc, j[cl_here], side="right") - 1]
                    j[cl_here] = st - 1
                k2cls = np.where(j >= 0, props[np.maximum(j, 0)], _C.S_OTHER)
                saterm = _SB_TERM[k2cls]
                d[pw[~saterm]] = 0  # SB998
                if saterm.any():
                    ps = pw[saterm]
                    k2s = k2cls[saterm]
                    Qs = props[ps + 1]
                    sp_seen = is_sp[ps]  # element base == position
                    out = np.ones(len(ps), dtype=np.int8)
                    atm = k2s == _C.S_ATERM
                    out[atm & (Qs == _C.S_LOWER)] = 0  # SB8, blocker=Q
                    out[(Qs == _C.S_SCONTINUE) | _SB_TERM[Qs]] = 0  # SB8a
                    out[(~sp_seen) & (Qs == _C.S_CLOSE)] = 0  # SB9
                    out[(Qs == _C.S_SP) | _SB_PARA[Qs]] = 0  # SB10
                    need = atm & ~_SB_BLOCK[Qs] & (out == 1)
                    keep = ~need
                    d[ps[keep]] = out[keep]
                    if need.any():
                        scan_cands.append(ps[need])
            msc = acts_s == _SBX_SCAN
            if msc.any():
                scan_cands.append(sub[msc])
            if scan_cands:
                _sbx_scan(d, np.concatenate(scan_cands), props, n)
        return dec == 1

    text_start_of = _expand_tso(text_start_of)
    if text_start_of is None:
        text_start_of = np.zeros(n, dtype=np.int64)
    idx = np.arange(n)
    lb_at = _last_le(~ign, idx)

    dec = np.full(n, -1, dtype=np.int8)
    dec[0] = 1  # SB1
    d = dec[1:]
    P, Q = props[:-1], props[1:]

    _rule(d, (P == _C.S_CR) & (Q == _C.S_LF), 0)  # SB3
    _rule(d, _SB_PARA[P], 1)  # SB4
    _rule(d, _SB_IGN[Q], 0)  # SB5
    jarr = lb_at[:-1]
    jp = props[np.maximum(jarr, 0)]
    s_i = text_start_of[1:]
    j_oob = jarr < s_i  # includes jarr < 0
    _rule(d, j_oob, 0)  # only ignorables precede in-text: attach
    # SB5's ParaSep exception: the first ignorable after a ParaSep is
    # its own (non-SATerm) base, so SB998 attaches — never a break
    # (reference parity: tests/test_seg_reference_vectors.py)
    _rule(d, _SB_PARA[jp], 0)
    _rule(d, (jp == _C.S_ATERM) & (Q == _C.S_NUMERIC), 0)  # SB6

    j2 = np.where(jarr >= 1, lb_at[np.maximum(jarr - 1, 0)], -1)
    j2_ok = (j2 >= 0) & (j2 >= s_i)
    j2p = np.where(j2_ok, props[np.maximum(j2, 0)], _C.S_OTHER)
    _rule(d, (jp == _C.S_ATERM) & (Q == _C.S_UPPER)
          & ((j2p == _C.S_UPPER) | (j2p == _C.S_LOWER)), 0)  # SB7

    # Fast path: a batch with no SATerm at all decides every remaining
    # position at SB998 (no terminator behind) — skip the element walk,
    # the forward scan and the tail rules entirely.
    if not np.any((props == _C.S_ATERM) | (props == _C.S_STERM)):
        d[d == -1] = 0
        return dec == 1

    # left pattern SATerm Close* Sp* (element-sequence walk, SB5-folded)
    el_pos = np.flatnonzero(~ign)
    m = len(el_pos)
    el_cls = props[el_pos] if m else props[:0]
    e_idx = np.arange(m)
    if m:
        ranks = np.cumsum(~ign) - 1
        rj = np.clip(ranks[np.maximum(jarr, 0)], 0, m - 1)
    if m:
        is_sp = el_cls == _C.S_SP
        is_cl = el_cls == _C.S_CLOSE
        last_nonsp = _last_le(~is_sp, e_idx)
        last_noncl = _last_le(~is_cl, e_idx)
        e1 = np.where(is_sp, last_nonsp, e_idx)  # skip Sp* ending at e
        e1c = np.maximum(e1, 0)
        k2 = np.where(e1 >= 0, np.where(is_cl[e1c], last_noncl[e1c], e1), -1)
        k2_cls = np.where(k2 >= 0, el_cls[np.maximum(k2, 0)], _C.S_OTHER)
        k2_cls_i = k2_cls[rj]
        sp_seen = is_sp[rj]
    else:  # all-ignorable batch: every position already decided above
        k2_cls_i = np.full(n - 1, _C.S_OTHER, dtype=np.int64)
        sp_seen = np.zeros(n - 1, dtype=bool)
    saterm_behind = (k2_cls_i == _C.S_ATERM) | (k2_cls_i == _C.S_STERM)
    _rule(d, ~saterm_behind, 0)  # SB998: no terminator behind

    # SB8: ATerm Close* Sp* x (non-blocker)* Lower — raw forward scan
    nxtb = _next_ge(_SB_BLOCK[props], idx, n)
    barr = nxtb[1:]
    b_ok = barr < n
    bcls = np.where(b_ok, props[np.minimum(barr, n - 1)], _C.S_OTHER)
    _rule(d, (k2_cls_i == _C.S_ATERM) & (bcls == _C.S_LOWER), 0)  # SB8
    _rule(d, (Q == _C.S_SCONTINUE) | (Q == _C.S_ATERM) | (Q == _C.S_STERM), 0)  # SB8a
    _rule(d, (~sp_seen) & (Q == _C.S_CLOSE), 0)  # SB9
    _rule(d, (Q == _C.S_SP) | _SB_PARA[Q], 0)  # SB9/SB10
    d[d == -1] = 1  # SB11
    return dec == 1


# --- GRAPHEME boundaries (GB1-GB999) ---------------------------------------


def _build_gb_pair_table() -> np.ndarray:
    """GB3-GB9b as one (B, A) table: 0 no-break, 1 break, 2 undecided
    (falls through to the GB9c/GB11/GB12 context rules, then GB999)."""
    t = np.full((14, 14), 2, dtype=np.int8)
    ctl = (_C.G_CONTROL, _C.G_CR, _C.G_LF)
    for b in range(14):
        for a in range(14):
            if b == _C.G_CR and a == _C.G_LF:
                t[b, a] = 0  # GB3
            elif b in ctl:
                t[b, a] = 1  # GB4
            elif a in ctl:
                t[b, a] = 1  # GB5
            elif b == _C.G_L and a in (_C.G_L, _C.G_V, _C.G_LV, _C.G_LVT):
                t[b, a] = 0  # GB6
            elif b in (_C.G_LV, _C.G_V) and a in (_C.G_V, _C.G_T):
                t[b, a] = 0  # GB7
            elif b in (_C.G_LVT, _C.G_T) and a == _C.G_T:
                t[b, a] = 0  # GB8
            elif a in (_C.G_EXTEND, _C.G_ZWJ):
                t[b, a] = 0  # GB9
            elif a == _C.G_SPACINGMARK:
                t[b, a] = 0  # GB9a
            elif b == _C.G_PREPEND:
                t[b, a] = 0  # GB9b
    # Bake GB999 for pairs no context rule can reach, so prose batches
    # skip the context block entirely: GB9c needs the cp left of the
    # boundary to be InCB Linker/Extend (GCB class Extend or ZWJ), GB11
    # needs B == ZWJ, GB12/13 need an (RI, RI) pair.
    for b in range(14):
        for a in range(14):
            if t[b, a] == 2 and not (
                b in (_C.G_EXTEND, _C.G_ZWJ) or (b == _C.G_RI and a == _C.G_RI)
            ):
                t[b, a] = 1
    return t


_GB_PAIR = _build_gb_pair_table()
_GB_PAIR_F, _GB_SHIFT = _flat_pow2(_GB_PAIR)


def grapheme_boundaries(cps: np.ndarray, text_start_of: np.ndarray | None = None) -> np.ndarray:
    """bool[i] = extended-grapheme-cluster boundary before index i —
    vectorized twin of uax29_graphemes._is_boundary.  GB3-GB9b are one
    pair-table gather; GB9c/GB11/GB12 run lazily only when their trigger
    classes exist in the batch."""
    n = len(cps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    props = gcb_props(cps)
    B, A = props[:-1], props[1:]

    # flat shift-or gather returns a fresh array: 0/1/2(undecided)
    dec = _GB_PAIR_F[np.left_shift(B, _GB_SHIFT, dtype=np.int16) | A]

    undec = dec == 2
    if undec.any():
        idx = np.arange(n)
        # GB9c — only if a Linker exists (InCB lookup is one BMP gather)
        incb = incb_props(cps)
        if np.any(incb == _C.INCB_LINKER):
            le = (incb == _C.INCB_LINKER) | (incb == _C.INCB_EXTEND)
            last_non_le = _last_le(~le, idx)
            lcs = np.cumsum(incb == _C.INCB_LINKER)
            jg = last_non_le[:-1]
            lin_between = lcs[:-1] - np.where(jg >= 0, lcs[np.maximum(jg, 0)], 0)
            gb9c = undec & (incb[1:] == _C.INCB_CONSONANT) & (jg >= 0) \
                & (incb[np.maximum(jg, 0)] == _C.INCB_CONSONANT) & (lin_between > 0)
            dec[gb9c] = 0
            undec = dec == 2
        # GB11 — only if a ZWJ survives to this stage
        zwj_left = undec & (B == _C.G_ZWJ)
        if zwj_left.any():
            ep = extpict(cps)
            last_nonext = _last_le(props != _C.G_EXTEND, idx)
            j11 = np.full(n - 1, -1, dtype=np.int64)
            if n >= 2:
                j11[1:] = last_nonext[:-2]
            gb11 = zwj_left & ep[1:] & (j11 >= 0) & ep[np.maximum(j11, 0)]
            dec[gb11] = 0
            undec = dec == 2
        # GB12/13 — only for adjacent RI pairs
        ri_pair = undec & (B == _C.G_RI) & (A == _C.G_RI)
        if ri_pair.any():
            ri_run_incl = _run_ending_incl(props == _C.G_RI, idx)
            dec[ri_pair & (ri_run_incl[:-1] % 2 == 1)] = 0
            undec = dec == 2
        dec[undec] = 1  # GB999

    out = np.empty(n, dtype=bool)
    out[0] = True  # GB1
    out[1:] = dec == 1
    return out


# --- LINE-BREAK opportunities (LB1-LB31) -----------------------------------


# ctx-rule BITS for the LB pair table, in chain order (walker below)
(_LCB_15A, _LCB_15B, _LCB_20A, _LCB_21A, _LCB_28A, _LCB_RI, _LCB_19,
 _LCB_30R, _LCB_30L, _LCB_30CN, _LCB_25) = (1 << i for i in range(11))
_LCSP = 3  # ACTION marker: B == SP, resolved by the space mini-cascade


def _build_lb_pair_tables(ascii_mode: bool = False):
    """Bake the newest-TR14 LB4-LB31 cluster chain (the scalar order of
    uax14._break_allowed / reference serial.h:244-510) into three
    (B, A) = (classes[k-1], classes[k]) tables:

    * ACTION: 1 = break, 0 = no-break, 2 = context, _LCSP = B is SP
      (resolved by the space mini-cascade);
    * CTXMASK: bitmask of the context rules (LB15a/LB15b/LB20a/LB21a/
      LB28a/LB30a) reachable before the pair's first terminal rule, in
      chain order;
    * DEFAULT: the first terminal outcome when every context fails.

    ``ascii_mode`` bakes the pure-ASCII batch variant (the analog of the
    reference's ASCII short-circuits, utf8_linebreaks/serial.h): with
    every codepoint < 0x80 there are no East_Asian F/W/H, no Pi/Pf
    quotes, no HL/AK/AP/AS/VF/VI/RI/U+25CC and no unassigned-ExtPict —
    so LB19/LB30 resolve to unconditional no-breaks, LB15a/LB15b/LB21a/
    LB28a/LB30a/LB30b-Cn can never fire (their conditions are statically
    false), and only LB20a (a class-of-c2 check) stays contextual.  The
    import-time property sweep below (_LB_ASCII_OK) verifies those
    staticness claims against the live UCD tables before the variant is
    ever selected."""
    # ctx bits whose runtime condition is constant-TRUE under ASCII
    # (LB19: aq|bq with no EAW anywhere; LB30: the bracket is not EA)
    _A_TERM0 = {_LCB_19, _LCB_30R, _LCB_30L}
    # ctx bits whose runtime condition is constant-FALSE under ASCII
    _A_DROP = {_LCB_15A, _LCB_15B, _LCB_21A, _LCB_28A, _LCB_RI, _LCB_30CN}
    L = _C
    mand = (L.LB_BK, L.LB_CR, L.LB_LF, L.LB_NL)
    alhl = (L.LB_AL, L.LB_HL)
    idem = (L.LB_ID, L.LB_EB, L.LB_EM)
    jk = (L.LB_JL, L.LB_JV, L.LB_JT, L.LB_H2, L.LB_H3)
    hyhh = (L.LB_HY, L.LB_HH)
    akas = (L.LB_AK, L.LB_AS)

    def chain(b, a):
        if b == L.LB_BK:
            yield "T", 1  # LB4
        if b == L.LB_CR and a == L.LB_LF:
            yield "T", 0  # LB5
        if b in (L.LB_CR, L.LB_LF, L.LB_NL):
            yield "T", 1  # LB5
        if a in mand:
            yield "T", 0  # LB6
        if a in (L.LB_SP, L.LB_ZW):
            yield "T", 0  # LB7
        if b == L.LB_SP:
            yield "SP", _LCSP  # LB8/LB11/LB13-LB18 need the left walk
        if b == L.LB_ZW:
            yield "T", 1  # LB8 (B != SP: nearest non-SP IS b)
        if b == L.LB_WJ or a == L.LB_WJ:
            yield "T", 0  # LB11
        if b == L.LB_GL:
            yield "T", 0  # LB12
        if b not in (L.LB_SP, L.LB_BA, L.LB_HY, L.LB_HH) and a == L.LB_GL:
            yield "T", 0  # LB12a
        if a in (L.LB_CL, L.LB_CP, L.LB_EX, L.LB_SY):
            yield "T", 0  # LB13 (IS handled by LB15.3/15.4)
        if b == L.LB_OP:
            yield "T", 0  # LB14 (nsc == b when b != SP)
        if b == L.LB_QU:
            yield "C", _LCB_15A  # LB15a: Pi + allowed left
        if a == L.LB_QU:
            yield "C", _LCB_15B  # LB15b: Pf + allowed right
        # LB15.3 needs b == SP (space mini-cascade)
        if a == L.LB_IS:
            yield "T", 0  # LB15.4
        if b in (L.LB_CL, L.LB_CP) and a == L.LB_NS:
            yield "T", 0  # LB16
        if b == L.LB_B2 and a == L.LB_B2:
            yield "T", 0  # LB17
        if a == L.LB_QU or b == L.LB_QU:
            yield "C", _LCB_19  # LB19 (East-Asian-aware quotation)
        if a == L.LB_CB or b == L.LB_CB:
            yield "T", 1  # LB20: break around contingent-break objects
        if b in hyhh and a in alhl:
            yield "C", _LCB_20A  # LB20a: allowed two-left
        if a in (L.LB_BA, L.LB_HY, L.LB_HH, L.LB_NS):
            yield "T", 0  # LB21
        if b == L.LB_BB:
            yield "T", 0  # LB21
        if b in hyhh and a != L.LB_HL:
            yield "C", _LCB_21A  # LB21a: HL two-left
        if b == L.LB_SY and a == L.LB_HL:
            yield "T", 0  # LB21b
        if a == L.LB_IN:
            yield "T", 0  # LB22
        if b in alhl and a == L.LB_NU:
            yield "T", 0  # LB23
        if b == L.LB_NU and a in alhl:
            yield "T", 0  # LB23
        if b == L.LB_PR and a in idem:
            yield "T", 0  # LB23a
        if b in idem and a == L.LB_PO:
            yield "T", 0  # LB23a
        if b in (L.LB_PR, L.LB_PO) and a in alhl:
            yield "T", 0  # LB24
        if b in alhl and a in (L.LB_PR, L.LB_PO):
            yield "T", 0  # LB24
        # LB25 (newest TR14): the contextual numeric regex, mirrored
        # from the reference's run-state form (serial.h:419-453)
        if b == L.LB_NU and a in (L.LB_PO, L.LB_PR, L.LB_NU):
            yield "T", 0  # the "NU (SY|IS)*" run is trivially open at B
        if b in (L.LB_CL, L.LB_CP, L.LB_SY, L.LB_IS) and a in (L.LB_PO, L.LB_PR):
            yield "C", _LCB_25  # NU (SY|IS)* (CL|CP)? x (PO|PR)
        if b in (L.LB_PO, L.LB_PR) and a == L.LB_OP:
            yield "C", _LCB_25  # (PO|PR) x OP IS? NU (ahead lookahead)
        if b in (L.LB_PO, L.LB_PR, L.LB_HY, L.LB_IS) and a == L.LB_NU:
            yield "T", 0  # (PO|PR|HY|IS) x NU
        if b == L.LB_SY and a == L.LB_NU:
            yield "C", _LCB_25  # in-run SY x NU
        if b == L.LB_JL and a in (L.LB_JL, L.LB_JV, L.LB_H2, L.LB_H3):
            yield "T", 0  # LB26
        if b in (L.LB_JV, L.LB_H2) and a in (L.LB_JV, L.LB_JT):
            yield "T", 0  # LB26
        if b in (L.LB_JT, L.LB_H3) and a == L.LB_JT:
            yield "T", 0  # LB26
        if b in jk and a == L.LB_PO:
            yield "T", 0  # LB27
        if b == L.LB_PR and a in jk:
            yield "T", 0  # LB27
        if b in alhl and a in alhl:
            yield "T", 0  # LB28
        # LB28a: any pair a sub-rule could decide given dotted/ahead
        # context (AL may be a Dotted-Circle aksara base)
        maybe_bl = b in akas or b == L.LB_AL
        maybe_br = a in akas or a == L.LB_AL
        if (
            (b == L.LB_AP and (a in akas or a == L.LB_AL))
            or (maybe_bl and a in (L.LB_VF, L.LB_VI))
            or (b == L.LB_VI and (a == L.LB_AK or a == L.LB_AL))
            or (maybe_bl and maybe_br)
        ):
            yield "C", _LCB_28A
        if b == L.LB_IS and a in alhl:
            yield "T", 0  # LB29
        if (b in alhl or b == L.LB_NU) and a == L.LB_OP:
            yield "C", _LCB_30R  # LB30: unless the OP is East-Asian
        if b == L.LB_CP and (a in alhl or a == L.LB_NU):
            yield "C", _LCB_30L  # LB30: unless the CP is East-Asian
        if b == L.LB_RI and a == L.LB_RI:
            yield "C", _LCB_RI  # LB30a
        if b == L.LB_EB and a == L.LB_EM:
            yield "T", 0  # LB30b
        if a == L.LB_EM:
            yield "C", _LCB_30CN  # LB30b: unassigned-ExtPict base
        yield "T", 1  # LB31

    act = np.full((_NLB, _NLB), 1, dtype=np.int8)
    dft = np.full((_NLB, _NLB), 1, dtype=np.int8)
    ctx = np.zeros((_NLB, _NLB), dtype=np.int16)
    for b in range(_NLB):
        for a in range(_NLB):
            bits = 0
            for kind, val in chain(b, a):
                if kind == "C" and ascii_mode:
                    if val in _A_DROP:
                        continue  # condition statically false: fall through
                    if val in _A_TERM0:
                        kind, val = "T", 0  # condition statically true
                if kind == "SP":
                    act[b, a] = _LCSP
                    break
                if kind == "C":
                    bits |= val
                    continue
                # first terminal
                if bits:
                    act[b, a] = 2
                    ctx[b, a] = bits
                    dft[b, a] = val
                else:
                    act[b, a] = dft[b, a] = val
                break
    return act, dft, ctx


_LB_ACT, _LB_DFT, _LB_CTX = _build_lb_pair_tables()
_LB_ACT_A, _LB_DFT_A, _LB_CTX_A = _build_lb_pair_tables(ascii_mode=True)


_LB_ACT_F = _flat_pow2(_LB_ACT)[0]
_LB_ACT_FA, _LB_SHIFT = _flat_pow2(_LB_ACT_A)
assert _LB_SHIFT == 6

# ctx-rule bits for the SPACE mini-cascade table (walker below)
_SPB_15A, _SPB_15B, _SPB_153 = 1, 2, 4


def _build_lb_sp_tables(ascii_mode: bool = False):
    """Bake the B == SP left-walk mini-cascade (LB8/LB11/LB13-LB18, the
    sp_rule chain formerly interpreted per space boundary) into
    (NSC+1, A) tables keyed by the nearest non-SP class to the left
    (row 0 = sot) and the class after the space.  Plain text resolves
    almost every space boundary terminally (LB18 break) in ONE gather;
    only quote-/IS-adjacent spaces take the sparse ctx path.
    ``ascii_mode``: no Pi/Pf exists, so LB15a/LB15b drop (statically
    false); LB15.3 (ahead == NU) stays contextual."""
    L = _C

    def chain(nsc, a):
        if nsc == L.LB_ZW:
            yield "T", 1  # LB8 across spaces
        if a == L.LB_WJ:
            yield "T", 0  # LB11
        if a in (L.LB_CL, L.LB_CP, L.LB_EX, L.LB_SY):
            yield "T", 0  # LB13
        if nsc == L.LB_OP:
            yield "T", 0  # LB14
        if nsc == L.LB_QU and not ascii_mode:
            yield "C", _SPB_15A  # LB15a: Pi + allowed left of the run
        if a == L.LB_QU and not ascii_mode:
            yield "C", _SPB_15B  # LB15b: Pf + allowed right
        if a == L.LB_IS:
            yield "C", _SPB_153  # LB15.3: SP x IS NU breaks
            yield "T", 0  # LB15.4
        if nsc in (L.LB_CL, L.LB_CP) and a == L.LB_NS:
            yield "T", 0  # LB16
        if nsc == L.LB_B2 and a == L.LB_B2:
            yield "T", 0  # LB17
        yield "T", 1  # LB18

    act = np.full((_NLB + 1, _NLB), 1, dtype=np.int8)
    dft = np.full((_NLB + 1, _NLB), 1, dtype=np.int8)
    ctx = np.zeros((_NLB + 1, _NLB), dtype=np.int8)
    for nsc in range(-1, _NLB):
        for a in range(_NLB):
            bits = 0
            for kind, val in chain(nsc, a):
                if kind == "C":
                    bits |= val
                    continue
                if bits:
                    act[nsc + 1, a] = 2
                    ctx[nsc + 1, a] = bits
                    dft[nsc + 1, a] = val
                else:
                    act[nsc + 1, a] = dft[nsc + 1, a] = val
                break
    return act, dft, ctx


_LBSP_ACT, _LBSP_DFT, _LBSP_CTX = _build_lb_sp_tables()
_LBSP_ACT_A, _LBSP_DFT_A, _LBSP_CTX_A = _build_lb_sp_tables(ascii_mode=True)


def _ascii_lb_ok() -> bool:
    """Verify, against the live UCD tables, every staticness claim the
    ASCII-baked variants rely on for codepoints 0..0x7F: no EAW F/W/H,
    no Pi/Pf, no unassigned-ExtPict, and none of the classes whose
    conditions the bake treats as impossible (HL for LB21a, AK/AP/AS/
    VF/VI for LB28a, RI for LB30a; U+25CC is trivially >= 0x80)."""
    cps = np.arange(0x80)
    cls = set(lb_classes(cps).tolist())
    banned = {_C.LB_HL, _C.LB_AK, _C.LB_AP, _C.LB_AS, _C.LB_VF, _C.LB_VI,
              _C.LB_RI}
    return (
        not (cls & banned)
        and not eaw_flags(cps).any()
        and not epcn_flags(cps).any()
        and not qside_props(cps).any()
        and _C.DOTTED_CIRCLE >= 0x80
    )


_LB_ASCII_OK = _ascii_lb_ok()


def linebreak_decisions(cps: np.ndarray, text_start_of: np.ndarray | None = None):
    """Returns (break_before: bool[n], mandatory: bool[n]) — position p
    marked True means a line may end before cps[p]; vectorized twin of
    uax14.linebreak_opportunities.  Positions that are not cluster
    starts are always False (breaks happen only at cluster boundaries,
    LB9/LB10)."""
    n = len(cps)
    if n == 0:
        return np.zeros(0, dtype=bool), np.zeros(0, dtype=bool)
    C = lb_classes(cps)

    # Pure-ASCII batch: swap in the baked tables where LB19/LB30 are
    # unconditional and LB15a/b/21a/28a/30a/30b-Cn are statically dead
    # (verified by the import-time _LB_ASCII_OK sweep)
    is_ascii = _LB_ASCII_OK and int(cps.max()) < 0x80
    if is_ascii:
        ACTF, DFT, CTX = _LB_ACT_FA, _LB_DFT_A, _LB_CTX_A
        SPACT, SPDFT, SPCTX = _LBSP_ACT_A, _LBSP_DFT_A, _LBSP_CTX_A
    else:
        ACTF, DFT, CTX = _LB_ACT_F, _LB_DFT, _LB_CTX
        SPACT, SPDFT, SPCTX = _LBSP_ACT, _LBSP_DFT, _LBSP_CTX

    # LB9/LB10 collapse: cluster starts.  Attach-free fast path (ASCII /
    # most Latin corpora carry no CM/ZWJ): clusters are the codepoints
    # themselves — the fold, the flatnonzero and the re-gathers vanish.
    # Two int8 compares beat a LUT gather for the attach mask.
    attach = (C == _C.LB_CM) | (C == _C.LB_ZWJ)
    has_attach = bool(attach.any())
    if has_attach:
        idx = np.arange(n)
        lastb = _last_le(~attach, idx)
        cond = attach & (lastb == idx - 1) & (lastb >= 0) & _LB_NONABS[C[np.maximum(lastb, 0)]]
        cs = (~attach) | cond
        cs[0] = True
        starts = np.flatnonzero(cs)
        ccls = C[starts]
        ccls = np.where(_LB_ATTACH[ccls], _C.LB_AL, ccls).astype(np.int64)  # LB10
        base_cps = cps[starts]  # cluster base codepoints (Pi/Pf, U+25CC)
        lb8a_left = C[starts[1:] - 1] == _C.LB_ZWJ if len(starts) > 1 else None
    else:
        starts = None  # cluster k IS codepoint k; positions come free
        ccls = C  # int8 is a valid (non-negative) LUT index; no copy
        base_cps = cps
        lb8a_left = None  # ZWJ is an attach class — none present
    K = len(ccls)

    brk = np.zeros(n, dtype=bool)
    mand = np.zeros(n, dtype=bool)
    if K > 1:
        B, A = ccls[:-1], ccls[1:]
        # LB8a pre-mask: if cluster k-1's last RAW cp is ZWJ, every rule
        # with priority <= LB8 that could also fire (LB6/LB7) is itself
        # a no-break, and LB4/5/8's left classes (BK/CR/LF/NL/SP/ZW) are
        # single-cp clusters that cannot end in ZWJ — so the mask
        # commutes with the chain prefix and may be applied first.
        if lb8a_left is not None:
            d = np.full(K - 1, -1, dtype=np.int8)
            _rule(d, lb8a_left, 0)  # LB8a
            undec = d == -1
            acts = np.where(
                undec,
                ACTF[np.left_shift(B, 6, dtype=np.int16) | A],
                np.int8(-3),
            )
            # terminals AND the _LCSP/ctx markers land in d; the sparse
            # cascades below overwrite every marker position
            np.copyto(d, acts, where=undec)
        else:
            acts = ACTF[np.left_shift(B, 6, dtype=np.int16) | A]
            d = acts.copy()

        _ki = None

        def k_idx():  # lazy: only double-space runs and LB30a need it
            nonlocal _ki
            if _ki is None:
                _ki = np.arange(K)
            return _ki

        def _c2_at(sub):  # class two clusters left of boundary sub
            return np.where(sub >= 1, ccls[np.maximum(sub - 1, 0)], -1)

        def _ahead_at(sub):  # class one cluster right of boundary sub
            return np.where(sub + 2 < K, ccls[np.minimum(sub + 2, K - 1)], -1)

        m_sp = acts == _LCSP  # B == SP: the left-walk mini-cascade
        if m_sp.any():
            # SPARSE: one (nsc, A) table gather decides nearly every
            # space boundary terminally (plain text: LB18 break); only
            # quote-/IS-adjacent spaces walk the ctx bits below
            subs = np.flatnonzero(m_sp)
            # single-space shortcut: when no SP cluster is preceded by
            # another SP (checked sparsely), the nearest non-SP to the
            # left is simply subs-1 — the full accumulate is skipped
            left_sp = (subs > 0) & (ccls[np.maximum(subs - 1, 0)] == _C.LB_SP)
            if left_sp.any():
                lastnonsp = _last_le(ccls != _C.LB_SP, k_idx())
                jcl = lastnonsp[subs]
            else:
                jcl = subs - 1
            nsc = np.where(jcl >= 0, ccls[np.maximum(jcl, 0)], np.int8(-1))
            A_s = A[subs]
            sacts = SPACT[nsc + 1, A_s]
            d[subs] = sacts  # ctx markers (2) overwritten just below
            msc = sacts == 2
            if msc.any():
                s2 = subs[msc]
                j2 = jcl[msc]
                nsc2 = nsc[msc]
                A2 = A_s[msc]
                bits = SPCTX[nsc2 + 1, A2]
                ahead2 = _ahead_at(s2)
                pending = np.ones(len(s2), dtype=bool)
                # LB15a: (sot|allowed) [QU&Pi] SP* x
                b15a = (bits & _SPB_15A) != 0
                if b15a.any():
                    pi2 = (qside_props(base_cps[np.maximum(j2, 0)]) == 1) & (j2 >= 0)
                    # class left of the nearest non-SP cluster (-1 at the
                    # batch head == the scalar engine's sot case)
                    nsc_left = np.where(j2 >= 1, ccls[np.maximum(j2 - 1, 0)], -1)
                    ok = (pending & b15a & pi2
                          & ((nsc_left < 0) | _LB15A_LEFT[np.maximum(nsc_left, 0)]))
                    d[s2[ok]] = 0
                    pending[ok] = False
                # LB15b: x [QU&Pf] (allowed | eot)
                b15b = (bits & _SPB_15B) != 0
                if b15b.any():
                    pf2 = qside_props(base_cps[s2 + 1]) == 2
                    ok = (pending & b15b & pf2
                          & ((ahead2 < 0) | _LB15B_RIGHT[np.maximum(ahead2, 0)]))
                    d[s2[ok]] = 0
                    pending[ok] = False
                # LB15.3: SP x IS NU is a break opportunity
                b153 = (bits & _SPB_153) != 0
                if b153.any():
                    ok = pending & b153 & (ahead2 == _C.LB_NU)
                    d[s2[ok]] = 1
                    pending[ok] = False
                d[s2[pending]] = SPDFT[nsc2[pending] + 1, A2[pending]]

        m_ctx = acts == 2
        if m_ctx.any():
            # SPARSE: context positions only (quotes/hyphens/digits are a
            # small fraction of real text)
            subc = np.flatnonzero(m_ctx)
            B_c, A_c = B[subc], A[subc]
            c2_c = _c2_at(subc)
            ahead_c = _ahead_at(subc)
            bits = CTX[B_c, A_c]
            # sparse gathers: ctx positions are a small fraction of K,
            # and only the quote rules read quote-side at all (never in
            # the ASCII bake, where those bits are dead)
            if ((bits & (_LCB_15A | _LCB_15B | _LCB_19)) != 0).any():
                qB_c = qside_props(base_cps[subc])
                qA_c = qside_props(base_cps[subc + 1])
            else:
                qB_c = qA_c = np.zeros(len(subc), dtype=np.int8)
            pending = np.ones(len(subc), dtype=bool)

            def ctx_rule(bit, cond, val=0):
                mm = pending & ((bits & bit) != 0)
                if mm.any():
                    ok = mm & cond()
                    d[subc[ok]] = val
                    pending[ok] = False

            # LB15a (B != SP: B itself is the nearest non-SP cluster)
            ctx_rule(_LCB_15A, lambda: (qB_c == 1)
                     & ((c2_c < 0) | _LB15A_LEFT[np.maximum(c2_c, 0)]))
            # LB15b
            ctx_rule(_LCB_15B, lambda: (qA_c == 2)
                     & ((ahead_c < 0) | _LB15B_RIGHT[np.maximum(ahead_c, 0)]))

            # LB19 (East-Asian-aware): a quote glues unless both sides
            # are East-Asian context and the quote is directional Pi/Pf
            def lb19_cond():
                eawB = eaw_flags(base_cps[np.maximum(subc, 0)])
                eawA = eaw_flags(base_cps[subc + 1])
                k_ahead = subc + 2
                eaw_ahead = np.zeros(len(subc), dtype=bool)
                in_r = k_ahead < K
                if in_r.any():
                    eaw_ahead[in_r] = eaw_flags(base_cps[k_ahead[in_r]])
                eaw_prev2 = np.zeros(len(subc), dtype=bool)
                in_l = subc >= 1
                if in_l.any():
                    eaw_prev2[in_l] = eaw_flags(
                        base_cps[np.maximum(subc - 1, 0)][in_l]
                    )
                aq = A_c == _C.LB_QU
                bq = B_c == _C.LB_QU
                return (
                    (aq & (qA_c != 1))
                    | (bq & (qB_c != 2))
                    | (aq & ~eawB)
                    | (aq & ~eaw_ahead)
                    | (bq & ~eawA)
                    | (bq & ~eaw_prev2)
                )

            ctx_rule(_LCB_19, lb19_cond)
            # LB20a: (sot|allowed) (HY|HH) x (AL|HL)
            ctx_rule(_LCB_20A, lambda: (c2_c < 0) | _LB20A_LEFT[np.maximum(c2_c, 0)])
            # LB21a: HL (HY|HH) x [^HL]
            ctx_rule(_LCB_21A, lambda: c2_c == _C.LB_HL)

            # LB25 (newest TR14): the contextual numeric-regex clauses —
            # "NU (SY|IS)*" run state for the left-context forms, and a
            # two-cluster lookahead for (PO|PR) x OP IS? NU
            b25 = pending & ((bits & _LCB_25) != 0)
            if b25.any():
                syis = (ccls == _C.LB_SY) | (ccls == _C.LB_IS)
                lastnon = _last_le(~syis, k_idx())
                # run open at cluster k iff the nearest non-(SY|IS)
                # cluster at-or-before k is NU (the LF batch separator
                # is non-(SY|IS), so runs never cross texts)
                run_open = (lastnon >= 0) & (
                    ccls[np.maximum(lastnon, 0)] == _C.LB_NU
                )
                close_l = (B_c == _C.LB_CL) | (B_c == _C.LB_CP)
                run_idx = np.where(close_l, subc - 1, subc)
                run_l = (run_idx >= 0) & run_open[np.maximum(run_idx, 0)]
                rp = (A_c == _C.LB_PO) | (A_c == _C.LB_PR)
                lp = (B_c == _C.LB_PO) | (B_c == _C.LB_PR)
                ahead2_c = np.where(
                    subc + 3 < K, ccls[np.minimum(subc + 3, K - 1)], -1
                )
                cond = (
                    (rp & run_l)
                    | (lp & (A_c == _C.LB_OP) & (ahead_c == _C.LB_NU))
                    | (lp & (A_c == _C.LB_OP) & (ahead_c == _C.LB_IS)
                       & (ahead2_c == _C.LB_NU))
                    | ((A_c == _C.LB_NU) & run_open[subc])
                )
                ok = b25 & cond
                d[subc[ok]] = 0
                pending[ok] = False

            # LB28a: aksara clusters (Dotted Circle acts as a base)
            def lb28a_cond():
                dl = base_cps[subc] == _C.DOTTED_CIRCLE
                dr = base_cps[subc + 1] == _C.DOTTED_CIRCLE
                d2 = np.zeros(len(subc), dtype=bool)
                in_l = subc >= 1
                if in_l.any():
                    d2[in_l] = (
                        base_cps[np.maximum(subc - 1, 0)][in_l] == _C.DOTTED_CIRCLE
                    )
                base_l = (B_c == _C.LB_AK) | (B_c == _C.LB_AS) | dl
                base_r = (A_c == _C.LB_AK) | (A_c == _C.LB_AS) | dr
                r1 = (B_c == _C.LB_AP) & base_r
                r2 = base_l & ((A_c == _C.LB_VF) | (A_c == _C.LB_VI))
                r3 = (B_c == _C.LB_VI) & ((A_c == _C.LB_AK) | dr) \
                    & ((c2_c == _C.LB_AK) | (c2_c == _C.LB_AS) | d2)
                r4 = base_l & base_r & (ahead_c == _C.LB_VF)
                return r1 | r2 | r3 | r4

            ctx_rule(_LCB_28A, lb28a_cond)
            # LB30: bracket joins unless the bracket is East-Asian
            need_30 = pending & ((bits & (_LCB_30R | _LCB_30L)) != 0)
            if need_30.any():
                ctx_rule(_LCB_30R, lambda: ~eaw_flags(base_cps[subc + 1]))
                ctx_rule(_LCB_30L, lambda: ~eaw_flags(base_cps[subc]))
            # LB30a: RI pair parity
            ri_bit = pending & ((bits & _LCB_RI) != 0)
            if ri_bit.any():
                ri_run = _run_ending_incl(ccls == _C.LB_RI, k_idx())
                ok = ri_bit & (ri_run[subc] % 2 == 1)
                d[subc[ok]] = 0
                pending[ok] = False
            # LB30b second clause: unassigned-ExtPict base x EM
            cn_bit = pending & ((bits & _LCB_30CN) != 0)
            if cn_bit.any():
                ok = cn_bit & epcn_flags(base_cps[subc])
                d[subc[ok]] = 0
                pending[ok] = False
            d[subc[pending]] = DFT[B_c[pending], A_c[pending]]

        # assembly: boundary k (1-based cluster index) maps to position
        # starts[k]; mandatory iff the LEFT cluster class is BK-family.
        # Both gathers run on the allowed subset only (sparse).
        allowed = d == 1
        if has_attach:
            pos = starts[1:][allowed]
            left_cls = B[allowed]
        else:
            pos = np.flatnonzero(allowed) + 1
            left_cls = ccls[pos - 1]  # sparse: skip the boolean compress
        brk[pos] = True
        mand[pos[_LB_MAND[left_cls]]] = True
    return brk, mand


# --- batched text API --------------------------------------------------------


def _concat_batch(texts):
    """Join texts with the LF separator in ONE C-speed encode pass.
    Returns (cps, offs, lens, text_start_of) where texts[t] occupies
    cps[offs[t] : offs[t]+lens[t]]."""
    if not texts:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    joined = "\n".join(texts) + "\n"
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").view(np.int32)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    offs = np.concatenate([[0], np.cumsum(lens[:-1] + 1)])
    return cps, offs, lens, (offs, lens)


def _expand_tso(tso) -> np.ndarray:
    """Materialize the per-position text-start array (only the sentence
    engine needs it; word/grapheme/linebreak never pay for it)."""
    if tso is None or isinstance(tso, np.ndarray):
        return tso
    offs, lens = tso
    return np.repeat(offs, lens + 1)


def _count_interior(bnd: np.ndarray, offs: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per text: number of True interior boundaries + 1 (0 for empty) =
    segment count.  Sparse: boundary positions + two binary searches per
    text instead of a full-length int64 cumsum (8x the write traffic)."""
    pos = np.flatnonzero(bnd)
    counts = np.searchsorted(pos, offs + lens) - np.searchsorted(
        pos, np.minimum(offs + 1, len(bnd))
    )
    return np.where(lens > 0, counts + 1, 0).astype(np.int64)


def count_words_batch(texts) -> np.ndarray:
    cps, offs, lens, tso = _concat_batch(texts)
    return _count_interior(word_boundaries(cps, tso), offs, lens)


def count_sentences_batch(texts) -> np.ndarray:
    cps, offs, lens, tso = _concat_batch(texts)
    return _count_interior(sentence_boundaries(cps, tso), offs, lens)


def count_graphemes_batch(texts) -> np.ndarray:
    cps, offs, lens, tso = _concat_batch(texts)
    return _count_interior(grapheme_boundaries(cps, tso), offs, lens)


def count_linebreaks_batch(texts):
    """Per text: (n_opportunities, n_mandatory) arrays — the counting
    twin of uax14.linebreak_opportunities."""
    cps, offs, lens, tso = _concat_batch(texts)
    brk, mand = linebreak_decisions(cps, tso)
    pb, pm = np.flatnonzero(brk), np.flatnonzero(mand)
    hi = offs + lens
    lo = np.minimum(offs + 1, len(brk))
    nz = lens > 0  # an empty text has no interior positions at all
    return (
        np.where(nz, np.searchsorted(pb, hi) - np.searchsorted(pb, lo), 0).astype(np.int64),
        np.where(nz, np.searchsorted(pm, hi) - np.searchsorted(pm, lo), 0).astype(np.int64),
    )


def _segments_batch(texts, engine):
    cps, offs, lens, tso = _concat_batch(texts)
    bnd = engine(cps, tso)
    out = []
    for t, off, ln in zip(texts, offs, lens):
        if ln == 0:
            out.append([])
            continue
        cuts = np.flatnonzero(bnd[off + 1 : off + ln]) + 1
        prev = 0
        segs = []
        for c in cuts.tolist():
            segs.append(t[prev:c])
            prev = c
        segs.append(t[prev:])
        out.append(segs)
    return out


def word_segments_batch(texts):
    """list[list[str]] — vectorized twin of uax29.wordbreak_segments."""
    return _segments_batch(texts, word_boundaries)


def sentence_segments_batch(texts):
    """list[list[str]] — vectorized twin of uax29.sentence_segments."""
    return _segments_batch(texts, sentence_boundaries)


def grapheme_segments_batch(texts):
    """list[list[str]] — vectorized twin of uax29_graphemes.grapheme_segments."""
    return _segments_batch(texts, grapheme_boundaries)
