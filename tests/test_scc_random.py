"""Randomized + degenerate-graph equivalence: all three SCC variants must
agree with the Kosaraju oracle on seeded Erdos-Renyi digraphs and on the
degenerate shapes fixtures don't cover (no edges, self-loops only,
2-cycles, star)."""

import random

import pytest

from detectingscc_spark.operators.coloring import scc_coloring
from detectingscc_spark.operators.partitioned import scc_partitioned
from detectingscc_spark.operators.scc import strongly_connected_components

from .oracles import kosaraju_scc


def _check_all_variants(spark, erows, vids):
    edges = spark.createDataFrame(erows or [(0, 0)], "src long, dst long")
    if not erows:
        edges = edges.limit(0)
    verts = spark.createDataFrame([(v,) for v in vids], "id long")
    exp = kosaraju_scc(erows, vids)
    for fn, name in (
        (lambda: strongly_connected_components(spark, edges, verts), "fbtrim"),
        (lambda: scc_coloring(spark, edges, verts), "coloring"),
        (lambda: scc_partitioned(spark, edges, verts, n_parts=4), "partitioned"),
    ):
        got = {r["id"]: r["scc_id"] for r in fn().collect()}
        assert got == exp, f"{name} mismatch"


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_scc_random_digraph_all_variants(spark, seed):
    rng = random.Random(seed)
    n = 30
    vids = list(range(n))
    erows = sorted(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(90)}
    )
    _check_all_variants(spark, erows, vids)


def test_scc_degenerate_shapes(spark):
    # no edges: every vertex its own SCC
    _check_all_variants(spark, [], [0, 1, 2, 3])
    # self-loops only (engine drops them; singleton SCCs)
    _check_all_variants(spark, [(0, 0), (1, 1)], [0, 1, 2])
    # disjoint 2-cycles + isolated vertex + star into a cycle
    erows = [(0, 1), (1, 0), (2, 3), (3, 2), (5, 6), (6, 7), (7, 5), (4, 5)]
    _check_all_variants(spark, erows, list(range(8)))
