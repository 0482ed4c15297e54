#!/usr/bin/env python
"""Generate sz_spark/uax_tables_gen.py: full-coverage run-length tables
for every Unicode segmentation property the engines consume.

Sweeps the scalar classifiers in tests/uax29.py, tests/uax14.py and
tests/uax29_graphemes.py (which are themselves 100%-conformance-tested
against the reference's UCD-17 tables) over all 0x110000 codepoints and
emits one (STARTS, PROPS) run-length pair per property.  The vectorized
engines in sz_spark.uax_vec look properties up with
``PROPS[np.searchsorted(STARTS, cps, 'right') - 1]``; by construction
the table equals the scalar classifier at every codepoint
(tests/test_uax_vec.py sweeps the equality).
"""
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))  # the scalar classifiers

N = 0x110000


def rle(fn):
    starts, props = [], []
    prev = None
    for cp in range(N):
        v = int(fn(cp))
        if v != prev:
            starts.append(cp)
            props.append(v)
            prev = v
    return starts, props


def main():
    from uax14 import _quote_side, is_east_asian, is_extpict_cn, line_break_class
    from uax29 import (
        is_extended_pictographic,
        sentence_break_property,
        word_break_property,
    )
    from uax29_graphemes import grapheme_break_property, indic_conjunct_break

    tables = {}
    for name, fn in (
        ("WB", word_break_property),
        ("SB", sentence_break_property),
        ("LB", line_break_class),
        ("GCB", grapheme_break_property),
        ("INCB", indic_conjunct_break),
        ("EXTPICT", lambda cp: 1 if is_extended_pictographic(cp) else 0),
        # general-category quote side: 1 = Pi, 2 = Pf (LB15a/LB15b)
        ("QSIDE", _quote_side),
        # East-Asian-Width F/W/H flag (LB19/LB30 refinements)
        ("EAW", lambda cp: 1 if is_east_asian(cp) else 0),
        # unassigned Extended_Pictographic (LB30b second clause)
        ("EPCN", lambda cp: 1 if is_extpict_cn(cp) else 0),
    ):
        t0 = time.time()
        starts, props = rle(fn)
        tables[name] = (starts, props)
        print(f"{name}: {len(starts)} runs in {time.time() - t0:.1f}s", file=sys.stderr)

    out = [
        '"""GENERATED by scripts/gen_uax_tables.py — do not edit by hand.',
        "",
        "Run-length property tables over the full Unicode space",
        "(0x000000-0x10FFFF), one value change per entry, derived from the",
        "conformance-tested scalar classifiers in tests/uax29.py, uax14.py and",
        "uax29_graphemes.py (public UCD data).  Consumed by sz_spark.uax_vec.",
        '"""',
        "",
    ]
    for name, (starts, props) in tables.items():
        out.append(f"{name}_STARTS = {starts!r}")
        out.append(f"{name}_PROPS = {props!r}")
        out.append("")
    path = os.path.join(_ROOT, "sz_spark", "uax_tables_gen.py")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({os.path.getsize(path)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
