"""Canonicalize transcripts: conversation = Window-ordered turn concat.

Per BASELINE.json north_star: "Conversations are canonicalized by a
Window-ordered turn concatenation (stable turn ordering preserving
per-turn text equality with the reference)".

Implementation note (scale): an actual ``Window.partitionBy(conv_id)
.orderBy(turn_idx)`` followed by collect would shuffle twice.  A single
``groupBy(conv_id).agg(sort_array(collect_list(struct(turn_idx, text))))``
performs ONE shuffle with map-side partial aggregation and yields the
identical stable order — turn_idx is the leading struct field, so
sort_array orders by it (ties impossible: (conv_id, turn_idx) is a key).

The join separator is U+001F (unit separator): the reference documents
U+001C..1E as *data* separators that are NOT line breaks
(utf8_tokens.h:34-37), so no turn content can collide with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Unit separator — cannot appear in turn text (word-salad ASCII words).
SEP = "\x1f"


def canonicalize(transcripts: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) -> docs(conv_id, doc, n_turns).

    ``carry`` lists extra conv-constant columns (e.g. entity_id) to keep.
    """
    carry = carry or []
    aggs = [
        # sort_array and the struct-field projection are codegen'd;
        # array_sort and transform (a lambda) would run interpreted
        F.array_join(
            F.sort_array(F.collect_list(F.struct("turn_idx", "text")))["text"], SEP
        ).alias("doc"),
        F.count(F.lit(1)).alias("n_turns"),
    ] + [F.first(c).alias(c) for c in carry]
    return transcripts.groupBy("conv_id").agg(*aggs)


def canonicalize_sql(transcripts_cte: str, with_entity_id: bool = False) -> str:
    """DuckDB-oracle twin of :func:`canonicalize`."""
    ent = ", any_value(entity_id) AS entity_id" if with_entity_id else ""
    return f"""
WITH transcripts AS ({transcripts_cte})
SELECT conv_id,
       string_agg(text, chr(31) ORDER BY turn_idx) AS doc,
       count(*) AS n_turns{ent}
FROM transcripts
GROUP BY conv_id
"""
