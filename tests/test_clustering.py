"""Connected-components correctness: large-star/small-star (distributed
path) and the driver-side union-find fast path must agree with each
other and with a pure-Python reachability oracle on the fixture shapes
of FIXTURES.md §4 (chains, stars, cliques joined by a bridge,
singletons, random graphs)."""

from __future__ import annotations

import random

import pytest


@pytest.fixture(scope="module")
def spark():
    from sz_spark.session import build_session

    s = build_session(master="local[4]", app_name="cc-tests")
    yield s
    s.stop()


def oracle_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """BFS reachability oracle (independent of the union-find impl)."""
    adj: dict[str, set] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    seen, out = set(), {}
    for start in sorted(adj):
        if start in seen:
            continue
        comp, stack = [], [start]
        seen.add(start)
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        root = min(comp)
        for x in comp:
            out[x] = root
    return out


GRAPHS = {
    "chain": [(f"n{i}", f"n{i+1}") for i in range(20)],
    "star": [("hub", f"s{i}") for i in range(15)],
    "two_cliques_bridge": (
        [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
        + [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
        + [("a0", "b0")]
    ),
    "self_loops_and_dups": [("x", "x"), ("x", "y"), ("y", "x"), ("x", "y")],
    "random": [
        (f"r{random.Random(7).randrange(200)}", f"r{random.Random(11).randrange(200)}")
    ],
}
rng = random.Random(42)
GRAPHS["random"] = [
    (f"r{rng.randrange(300)}", f"r{rng.randrange(300)}") for _ in range(400)
]


def _assign(spark, edges, **kw):
    from sz_spark.clustering import connected_components

    df = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components(df, **kw)
    return {r["id"]: r["cluster_id"] for r in out.collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_local_fast_path_matches_oracle(spark, name):
    edges = GRAPHS[name]
    exp = oracle_components(edges)
    got = _assign(spark, edges)  # small → local union-find path
    exp_nontrivial = {k: v for k, v in exp.items() if k != v}
    got_full = {k: got.get(k, k) for k in exp}
    assert {k: v for k, v in got_full.items()} == exp


@pytest.mark.parametrize("name", ["chain", "two_cliques_bridge", "random"])
def test_distributed_path_matches_oracle(spark, name):
    edges = GRAPHS[name]
    exp = oracle_components(edges)
    got = _assign(spark, edges, local_threshold=0)  # force large/small-star
    got_full = {k: got.get(k, k) for k in exp}
    assert got_full == exp


def test_union_find_local_direct():
    from oracles import union_find_local

    for name, edges in GRAPHS.items():
        exp = oracle_components(edges)
        got = union_find_local(edges)
        got_full = {k: got.get(k, k) for k in exp}
        assert got_full == exp, name


def _numpy_components(edges) -> dict[str, str]:
    import pyarrow as pa

    from sz_spark.clustering import _components_local

    src = pa.chunked_array([pa.array([s for s, _ in edges], pa.string())])
    dst = pa.chunked_array([pa.array([d for _, d in edges], pa.string())])
    names, root = _components_local(src, dst)
    return dict(zip(names.to_pylist(), names.take(root).to_pylist()))


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_numpy_union_find_matches_oracle(name):
    edges = GRAPHS[name]
    assert _numpy_components(edges) == oracle_components(edges)


def test_numpy_union_find_long_chain():
    """A 10k-node chain (the worst-case diameter), its ids shuffled so
    the hooks do not follow the chain order."""
    ids = [f"v{i:05d}" for i in range(10_000)]
    random.Random(3).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    got = _numpy_components(edges)
    assert got == oracle_components(edges)
    assert set(got.values()) == {"v00000"}


def test_driver_tier_long_ids(spark):
    """LongType ids are clustered by their string form (min "10" < "9"),
    as the distributed tier does."""
    from sz_spark.clustering import connected_components

    edges = [(9, 10), (10, 11), (3, 4), (100, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    exp = oracle_components([(str(s), str(d)) for s, d in edges])
    for kw in ({}, {"local_threshold": 0}):
        got = {r["id"]: r["cluster_id"] for r in connected_components(df, **kw).collect()}
        assert got == exp, kw
    assert exp["9"] == "10"


def test_driver_tier_empty_edges(spark):
    assert _assign(spark, []) == {}
    assert _assign(spark, [("x", "x")]) == {}


def test_tiers_agree_on_non_ascii_ids(spark):
    """The driver tier orders ids like Spark's UTF-8 byte order, so both
    tiers pick the same cluster_id; "\uffff" < "\U00010000" in UTF-8
    (and code points) but not in UTF-16."""
    edges = [
        ("\U00010000", "\uffff"),
        ("é", "e"),
        ("ß", "ss"),
        ("日本", "中文"),
        ("中文", "😀"),
        ("\u00a0x", "x"),
        ("Ω", "\U0001f600a"),
    ]
    local = _assign(spark, edges)
    distributed = _assign(spark, edges, local_threshold=0)
    assert local == distributed == oracle_components(edges)
    assert local["\U00010000"] == "\uffff"


def test_distributed_tier_fails_loudly_when_rounds_run_out(spark):
    """A 64-node path needs more than 3 large-star/small-star rounds: the
    distributed tier raises instead of returning a partial clustering,
    and the default round budget gives the one component."""
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds.*cc_max_iterations"):
        _assign(spark, path, local_threshold=0, max_iterations=3)
    got = _assign(spark, path, local_threshold=0)
    assert set(got.values()) == {"p00"} and len(got) == 64
