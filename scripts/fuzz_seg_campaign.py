#!/usr/bin/env python
"""Large-scale differential campaign: fresh random corpora through the
COMPILED reference UAX segmenters vs the repo's scalar AND vectorized
engines — beyond the frozen fixtures (new seeds every run, full
assigned-codepoint space, lengths to 500 cps).

Usage:
  gcc -O2 -I/root/reference/include -o /tmp/gen_szseg \
      scripts/gen_szseg_vectors.c
  python scripts/fuzz_seg_campaign.py [n_texts] [seed]

Prints one line per engine with the divergence count; exits nonzero on
any divergence.  Results of campaign runs are recorded in COVERAGE.md.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import unicodedata

_ROOT = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from test_uax_vec import POOL  # noqa: E402

from sz_spark import uax_vec as V  # noqa: E402
from uax14 import linebreak_segments  # noqa: E402
from uax29 import sentence_segments, wordbreak_segments  # noqa: E402
from uax29_graphemes import grapheme_segments  # noqa: E402


def _assigned_pool(rng: random.Random, n: int) -> list[int]:
    """Random assigned non-surrogate codepoints across all planes."""
    out = []
    while len(out) < n:
        cp = rng.randrange(0x110000)
        if 0xD800 <= cp <= 0xDFFF:
            continue
        if unicodedata.category(chr(cp)) == "Cn":
            continue
        out.append(cp)
    return out


def make_corpus(n_texts: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    wide_pool = POOL + _assigned_pool(rng, 600)
    texts = []
    for i in range(n_texts):
        if i % 4 == 0:
            pool = POOL  # rule-dense drawing
        else:
            pool = wide_pool
        n = rng.randrange(0, 500 if i % 16 == 15 else 80)
        texts.append("".join(chr(rng.choice(pool)) for _ in range(n)))
    return texts


def reference_tilings(texts: list[str]) -> list[dict]:
    gen = "/tmp/gen_szseg"
    if not os.path.exists(gen):
        sys.exit("build /tmp/gen_szseg first (see module docstring)")
    lines = "\n".join(" ".join(str(ord(c)) for c in t) for t in texts) + "\n"
    out = subprocess.run([gen], input=lines, capture_output=True, text=True, check=True)
    return json.loads(out.stdout)["cases"]


def _byte_spans(segments: list[str]) -> list[list[int]]:
    out, off = [], 0
    for seg in segments:
        n = len(seg.encode("utf-8"))
        out.append([off, n])
        off += n
    return out


def main() -> int:
    n_texts = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else random.SystemRandom().randrange(1 << 31)
    print(f"[campaign] {n_texts} texts, seed {seed}")
    texts = make_corpus(n_texts, seed)
    cases = reference_tilings(texts)
    assert len(cases) == len(texts)

    bad = 0
    engines = [
        ("words/scalar", "words", lambda ts: [wordbreak_segments(t) for t in ts]),
        ("sentences/scalar", "sentences", lambda ts: [sentence_segments(t) for t in ts]),
        ("graphemes/scalar", "graphemes", lambda ts: [grapheme_segments(t) for t in ts]),
        ("lines/scalar", "lines", lambda ts: [linebreak_segments(t) for t in ts]),
        ("words/vectorized", "words", V.word_segments_batch),
        ("sentences/vectorized", "sentences", V.sentence_segments_batch),
        ("graphemes/vectorized", "graphemes", V.grapheme_segments_batch),
    ]
    for name, kind, fn in engines:
        segs_all = fn(texts)
        n_bad = 0
        for case, segs, text in zip(cases, segs_all, texts):
            if _byte_spans(segs) != case[kind]:
                n_bad += 1
                if n_bad <= 2:
                    print(f"  DIVERGENCE {name}: cps={[ord(c) for c in text][:30]}")
                    print(f"    ref={case[kind][:12]}")
                    print(f"    got={_byte_spans(segs)[:12]}")
        print(f"[campaign] {name}: {n_bad}/{len(texts)} divergences")
        bad += n_bad
    # vectorized line-break decisions, tiled
    import numpy as np

    cps, offs, lens, tso = V._concat_batch(texts)
    brk, _ = V.linebreak_decisions(cps, tso)
    n_bad = 0
    for case, text, off, ln in zip(cases, texts, offs, lens):
        if ln == 0:
            ok = case["lines"] == []
        else:
            cuts = (np.flatnonzero(brk[off + 1 : off + ln]) + 1).tolist()
            segs, prev = [], 0
            for c in cuts:
                segs.append(text[prev:c])
                prev = c
            segs.append(text[prev:])
            ok = _byte_spans(segs) == case["lines"]
        if not ok:
            n_bad += 1
            if n_bad <= 2:
                print(f"  DIVERGENCE lines/vectorized: cps={[ord(c) for c in text][:30]}")
    print(f"[campaign] lines/vectorized: {n_bad}/{len(texts)} divergences")
    bad += n_bad
    print(f"[campaign] TOTAL divergences: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
