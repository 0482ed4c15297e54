"""Seeded workload generators and the ground-truth cluster checker.

Each generator turns the committed corpus (``data/documents.parquet``,
5,000 word-salad documents) into a ``documents(doc_id, text)`` table
that ``sz_spark.transcripts.build_transcripts_from_documents`` expands
into about 40k turns.  Generation is pure NumPy/PyArrow on the driver, so
the same seed gives byte-identical inputs without a Spark session.

The transcript derivation salts every turn with the digits of its
``doc_id`` and derives the ``c``/``d``/``e`` conversation variants of
one document, all of which belong to the entity ``doc_id``.  The
expected clustering is therefore exactly one cluster per generated
``doc_id`` holding all of its variants (:func:`expected_conversations`).
"""

from __future__ import annotations

import itertools
import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

#: corpus documents a workload draws from (the first ones by doc_id)
CORPUS_DOCS = 200
#: ``dup_heavy`` shape: the first DUP_DOCS corpus documents, REPLICAS times
DUP_DOCS = CORPUS_DOCS // 2
REPLICAS = 32
#: ``hard_negatives`` shape: FAMILIES x FAMILY_SIZE entities, each
#: family's text is DOCS_PER_FAMILY corpus documents concatenated
DOCS_PER_FAMILY = 2
FAMILIES = CORPUS_DOCS // DOCS_PER_FAMILY
FAMILY_SIZE = 16
#: salt width of sz_spark.transcripts (lpad of doc_id); ids stay below
ID_DIGITS = 6
#: transcript derivation constants mirrored for the checker
TURN_TOKENS = 8
MIN_TAIL_EDIT_TOKENS = 3 * TURN_TOKENS

WORKLOADS = ("dup_heavy", "hard_negatives_ckpt")


def load_corpus(path: str = CORPUS) -> list[str]:
    """The first CORPUS_DOCS corpus texts by doc_id."""
    tbl = pq.read_table(path, columns=["doc_id", "text"]).sort_by("doc_id")
    return tbl.column("text").to_pylist()[:CORPUS_DOCS]


def _table(ids, texts, rng: np.random.Generator) -> pa.Table:
    """documents table in a seeded row order."""
    order = rng.permutation(len(ids))
    return pa.table(
        {
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)[order]),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )


def _replica_ids(n_docs: int) -> np.ndarray:
    """Replica r of corpus document i gets entity id r * n_docs + i, the
    layout of the pipeline's replicated-corpus probe: neighbouring
    replicas' salts share most digits, so identical texts collide in
    the content bands across entities and the blocker must emit and
    dedup those cross-entity pairs."""
    return np.arange(REPLICAS * n_docs, dtype=np.int64)


def dup_heavy(corpus: list[str], seed: int) -> pa.Table:
    """The corpus replicated REPLICAS times with identical text and
    disjoint entity ids; the seed picks the row order."""
    rng = np.random.default_rng([seed, 1])
    docs = corpus[:DUP_DOCS]
    return _table(_replica_ids(len(docs)), docs * REPLICAS, rng)


def _multisets(min_perms: int) -> list[tuple[str, ...]]:
    """Every multiset of ID_DIGITS digits with >= min_perms distinct
    orderings, in a fixed order."""
    out = []
    for ms in itertools.combinations_with_replacement("0123456789", ID_DIGITS):
        n = math.factorial(ID_DIGITS)
        for count in Counter(ms).values():
            n //= math.factorial(count)
        if n >= min_perms:
            out.append(ms)
    return out


def hard_negatives(corpus: list[str], seed: int) -> pa.Table:
    """FAMILIES families of FAMILY_SIZE entities.  A family shares one
    text (DOCS_PER_FAMILY corpus documents concatenated) and its entity
    ids are distinct digit permutations of one ID_DIGITS-digit multiset;
    no two families share a multiset.  Salts of one family then have
    identical byte histograms, so the histogram prune cannot reject any
    cross-entity pair of a family."""
    rng = np.random.default_rng([seed, 3])
    pool = _multisets(FAMILY_SIZE)
    chosen = rng.choice(len(pool), size=FAMILIES, replace=False)
    doc_order = rng.permutation(len(corpus))
    ids, texts = [], []
    for f, ms_idx in enumerate(chosen):
        perms = sorted({"".join(p) for p in itertools.permutations(pool[ms_idx])})
        picked = rng.choice(len(perms), size=FAMILY_SIZE, replace=False)
        start = (f * DOCS_PER_FAMILY) % len(corpus)
        text = " ".join(
            corpus[doc_order[(start + j) % len(corpus)]] for j in range(DOCS_PER_FAMILY)
        )
        for p in picked:
            ids.append(int(perms[p]))
            texts.append(text)
    return _table(ids, texts, rng)


GENERATORS = {"dup_heavy": dup_heavy, "hard_negatives_ckpt": hard_negatives}


def generate(workload: str, seed: int, corpus: list[str] | None = None) -> pa.Table:
    if workload not in GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    return GENERATORS[workload](corpus if corpus is not None else load_corpus(), seed)


def expected_conversations(documents: pa.Table) -> tuple[dict[str, int], int]:
    """(conv_id -> entity id, total turns) that the transcript derivation
    yields for ``documents``: ``c<id>`` for every document, ``d<id>`` for
    even ids and ``e<id>`` for ids divisible by 5 with at least
    MIN_TAIL_EDIT_TOKENS tokens; every variant keeps the token count."""
    conv: dict[str, int] = {}
    turns = 0
    ids = documents.column("doc_id").to_pylist()
    for doc_id, text in zip(ids, documents.column("text").to_pylist()):
        n_toks = len(text.split(" "))
        n_turns = -(-n_toks // TURN_TOKENS)
        variants = ["c"]
        if doc_id % 2 == 0:
            variants.append("d")
        if doc_id % 5 == 0 and n_toks >= MIN_TAIL_EDIT_TOKENS:
            variants.append("e")
        for v in variants:
            conv[f"{v}{doc_id}"] = doc_id
        turns += n_turns * len(variants)
    return conv, turns


def check_clusters(
    conv_ids: list[str], cluster_ids: list[str], expected: dict[str, int]
) -> str | None:
    """None when the (conv_id, cluster_id) rows are exactly one cluster
    per entity holding all of its conversations; else the first reason
    they are not."""
    if len(conv_ids) != len(expected):
        return f"{len(conv_ids)} cluster rows for {len(expected)} conversations"
    entity_of_cluster: dict[str, int] = {}
    cluster_of_entity: dict[int, str] = {}
    seen = set()
    for conv, cluster in zip(conv_ids, cluster_ids):
        if conv in seen:
            return f"conversation {conv} assigned twice"
        seen.add(conv)
        entity = expected.get(conv)
        if entity is None:
            return f"unexpected conversation {conv}"
        if entity_of_cluster.setdefault(cluster, entity) != entity:
            return f"cluster {cluster} mixes entities {entity_of_cluster[cluster]} and {entity}"
        if cluster_of_entity.setdefault(entity, cluster) != cluster:
            return f"entity {entity} split over clusters {cluster_of_entity[entity]} and {cluster}"
    return None


def row_hash(documents: pa.Table) -> str:
    """Order-sensitive digest of a documents table."""
    import hashlib

    h = hashlib.sha256()
    for doc_id, text in zip(
        documents.column("doc_id").to_pylist(), documents.column("text").to_pylist()
    ):
        h.update(f"{doc_id}\x1f{text}\x1e".encode())
    return h.hexdigest()
