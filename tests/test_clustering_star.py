"""Both connected-components paths against the numpy oracle's union-find.

``connected_components`` takes its single-task union-find path on every
graph here (all far below ``_SMALL_GRAPH_EDGES``); the large-star/small-star
loop it switches to above that size is called directly, in localCheckpoint
and reliable-checkpoint mode.  Each must equal the oracle's min-root labels,
including on the adversarial long chains the star loop exists for and on a
duplicate-heavy edge list with self-loops.
"""

from __future__ import annotations

import numpy as np
import pytest

from set_sketch_paper_spark.operators.clustering import (
    _star_components,
    connected_components,
)
from set_sketch_paper_spark.oracle import _UnionFind


def _oracle(rows):
    uf = _UnionFind()
    for a, b in rows:
        uf.union(a, b)
    return {v: uf.find(v) for v in uf.parent}


def _labels(df):
    rows = df.collect()
    got = {r["id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows)  # one row per vertex
    return got


@pytest.fixture(scope="module")
def checkpoint_dir(spark, tmp_path_factory):
    spark.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("cc_ckpt")))


def _check_all_paths(spark, rows):
    """Union-find path, star loop and reliable-checkpoint star loop each
    equal the oracle's min-root labels."""
    want = _oracle(rows)
    edges = spark.createDataFrame(rows, "id1 long, id2 long")
    assert _labels(connected_components(edges)) == want
    assert _labels(_star_components(edges, False)) == want
    assert _labels(_star_components(edges, True)) == want
    return want


def _permuted_path():
    perm = np.random.RandomState(5).permutation(250).tolist()
    return [(perm[i] + 10, perm[i + 1] + 10) for i in range(249)]


def _cliques():
    rng = np.random.RandomState(9)
    rows = []
    for base in (100, 200, 300):
        members = list(range(base, base + 12))
        for _ in range(30):
            a, b = rng.choice(members, 2, replace=False)
            rows.append((int(a), int(b)))
    rows.append((990, 991))  # an isolated 2-vertex component
    return rows


def test_star_cc_long_path(spark, checkpoint_dir):
    """A 300-node path with the minimum at one end — O(n) rounds for naive
    min propagation."""
    got = _check_all_paths(spark, [(i, i + 1) for i in range(1, 300)])
    assert set(got.values()) == {1} and len(got) == 300


def test_star_cc_shuffled_path(spark, checkpoint_dir):
    """Randomly permuted vertex ids: min-label chains zig-zag.  The star loop
    still converges in its default budget, and refuses to return
    half-merged labels when the budget is too small."""
    rows = _permuted_path()
    got = _check_all_paths(spark, rows)
    assert set(got.values()) == {10} and len(got) == 250
    edges = spark.createDataFrame(rows, "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge in 2"):
        _star_components(edges, False, max_iterations=2)


def test_star_cc_disjoint_cliques_and_singletable(spark, checkpoint_dir):
    got = _check_all_paths(spark, _cliques())
    assert got[990] == got[991] == 990
    assert {got[i] for i in range(100, 112)} == {100}


def test_star_cc_random_graph(spark, checkpoint_dir):
    rng = np.random.RandomState(11)
    rows = [(int(a), int(b)) for a, b in rng.randint(0, 150, size=(250, 2)) if a != b]
    _check_all_paths(spark, rows)


def test_star_cc_star_input_fixed_point(spark, checkpoint_dir):
    """Already-star input: the fixed point after one round."""
    got = _check_all_paths(spark, [(1, k) for k in range(2, 40)])
    assert set(got.values()) == {1}


def test_star_cc_duplicate_heavy_with_self_loops(spark, checkpoint_dir):
    """Every edge 5x in both orientations, self-loops on member vertices and
    one vertex whose only edge is a self-loop."""
    base = _cliques() + [(i, i + 1) for i in range(500, 530)]
    rows = [e for a, b in base for e in [(a, b), (b, a)] * 5]
    rows += [(v, v) for v in (100, 205, 510)] * 3 + [(777, 777)]
    got = _check_all_paths(spark, rows)
    assert got[777] == 777 and got[529] == 500
