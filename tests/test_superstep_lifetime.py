"""Cache lifetimes owned by `SuperstepRunner`, and its keyed-edge policy
in both broadcast regimes.

* A release really frees: a checkpointed slot takes its blocks with it,
  and a frame still reading it fails loudly.
* Every graph operator leaves behind only persistent RDDs that its
  returned frame reads. The RDDs a frame reads are found by walking its
  plan's LogicalRDD / InMemoryRelation leaves and their RDD
  dependencies (`toRdd().toDebugString()` misses broadcast build sides).
* With BROADCAST_ROW_LIMIT forced to 0, every operator with a keyed edge
  frame still matches its oracle.
"""

import os

import numpy as np
import pytest

from detectingscc_spark.plans import superstep
from detectingscc_spark.plans.superstep import SuperstepRunner
from detectingscc_spark.sources.gtgraph import read_gtgraph

from .oracles import cc_unionfind, kosaraju_scc, lpa_sync, pagerank_numpy
from .test_partitioning_reuse import _n_shuffle_exchanges_outside_cache

G128 = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "g128.gr")

# two SCCs joined by a bridge, a triangle, a self loop and a tail
EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6), (6, 7), (7, 5), (2, 2), (7, 8)]
DAG = [(1, 2), (2, 3), (1, 3), (3, 4), (5, 4), (4, 6)]


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def _read_rdd_ids(df) -> set[int]:
    """Ids of every RDD `df` reads: its plan's LogicalRDD and
    InMemoryRelation leaves (with cache substitution applied) and,
    transitively, their RDD dependencies."""
    rdds, nodes = [], [df._jdf.queryExecution().withCachedData()]
    while nodes:
        node = nodes.pop()
        kind = node.getClass().getSimpleName()
        if kind == "LogicalRDD":
            rdds.append(node.rdd())
        elif kind == "InMemoryRelation":
            rdds.append(node.cacheBuilder().cachedColumnBuffers())
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    seen: set[int] = set()
    while rdds:
        rdd = rdds.pop()
        if rdd.id() in seen:
            continue
        seen.add(rdd.id())
        deps = rdd.dependencies().iterator()
        while deps.hasNext():
            rdds.append(deps.next().rdd())
    return seen


def _graph(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _ops():
    from detectingscc_spark.operators import (
        bfs, centrality, coloring, components, condensation, hits, kcore, lpa, pagerank,
        partitioned, scc, truss,
    )

    return {
        "scc": lambda s, g, d: scc.strongly_connected_components(s, g),
        "scc_local_finish": lambda s, g, d: scc.strongly_connected_components(s, g, local_finish_edges=4),
        "scc_coloring": lambda s, g, d: coloring.scc_coloring(s, g),
        "scc_partitioned": lambda s, g, d: partitioned.scc_partitioned(s, g, n_parts=2),
        "connected_components": lambda s, g, d: components.connected_components(s, g),
        "bipartiteness": lambda s, g, d: components.bipartiteness(s, g),
        "label_propagation": lambda s, g, d: lpa.label_propagation(s, g, rounds=3),
        "pagerank": lambda s, g, d: pagerank.pagerank(s, g, tol=1e-3),
        "personalized_pagerank": lambda s, g, d: pagerank.personalized_pagerank(
            s, g, _ids(s, [1, 5]), fixed_iters=3),
        "bfs_distances": lambda s, g, d: bfs.bfs_distances(s, g, _ids(s, [1])),
        "harmonic_centrality": lambda s, g, d: centrality.harmonic_centrality(s, g, _ids(s, [1, 4])),
        "transitive_closure": lambda s, g, d: condensation.transitive_closure(s, d),
        "dag_reachability": lambda s, g, d: condensation.dag_reachability(s, d),
        "dag_layers": lambda s, g, d: condensation.dag_layers(s, d),
        "kcore": lambda s, g, d: kcore.kcore(s, g, k=2),
        "ktruss": lambda s, g, d: truss.ktruss(s, g, k=3),
        "hits": lambda s, g, d: hits.hits(s, g, _ids(s, range(1, 9)), iters=3),
        "salsa": lambda s, g, d: hits.salsa(s, g, _ids(s, range(1, 9)), iters=3),
        "eigencentrality": lambda s, g, d: hits.eigencentrality(s, g, iters=3),
    }


def test_release_frees_checkpoint_and_fails_loudly(spark):
    runner = SuperstepRunner(spark)
    before = _persistent_ids(spark)
    ck, n = runner.tick("ck", spark.range(50).selectExpr("id", "id % 3 AS k"))
    kept = runner.keyed("kept", spark.range(50).selectExpr("id AS src", "id % 3 AS dst"), n, "dst", "src")
    assert n == 50 and len(_persistent_ids(spark) - before) == 2
    assert kept.count() == 50
    runner.release("ck")
    runner.release("kept")
    assert _persistent_ids(spark) - before == set()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        ck.collect()


@pytest.mark.parametrize("limit, key", [(None, "dst"), (0, "src")], ids=["broadcast", "shuffle"])
def test_keyed_picks_key_by_regime(spark, monkeypatch, limit, key):
    """Agg key while the joined frame broadcasts, join key past the limit."""
    if limit is not None:
        monkeypatch.setattr(superstep, "BROADCAST_ROW_LIMIT", limit)
    runner = SuperstepRunner(spark)
    e = runner.keyed("e", _graph(spark, EDGES), 8, "dst", "src")
    other = "src" if key == "dst" else "dst"
    assert _n_shuffle_exchanges_outside_cache(e.groupBy(key).count()) == 0
    assert _n_shuffle_exchanges_outside_cache(e.groupBy(other).count()) == 1
    runner.finish()


@pytest.mark.parametrize("op", sorted(_ops()))
def test_operator_leaves_only_result_backing_rdds(spark, op):
    g, d = _graph(spark, EDGES), _graph(spark, DAG)
    before = _persistent_ids(spark)
    result = _ops()[op](spark, g, d)
    assert result.collect() is not None
    new = _persistent_ids(spark) - before
    assert new <= _read_rdd_ids(result), f"{op}: {len(new - _read_rdd_ids(result))} cached RDDs outlive it"


def _hits_numpy(es, ids, iters):
    idx = {x: i for i, x in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, t in es:
        A[idx[s], idx[t]] += 1.0
    h = np.full(len(ids), 1.0 / len(ids))
    for _ in range(iters):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    return {x: (a[idx[x]], h[idx[x]]) for x in ids}


@pytest.mark.parametrize("op", ["pagerank", "wcc", "lpa", "coloring", "hits"])
def test_keyed_operators_shuffle_regime(spark, monkeypatch, op):
    """BROADCAST_ROW_LIMIT forced to 0: every keyed edge frame takes its
    join key and no state is broadcast-hinted; outputs stay exact."""
    from detectingscc_spark.operators.coloring import scc_coloring
    from detectingscc_spark.operators.components import connected_components
    from detectingscc_spark.operators.hits import hits
    from detectingscc_spark.operators.lpa import label_propagation
    from detectingscc_spark.operators.pagerank import pagerank

    monkeypatch.setattr(superstep, "BROADCAST_ROW_LIMIT", 0)
    edges = read_gtgraph(spark, G128)
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    ids = list(range(1, 129))
    verts = spark.range(1, 129)
    if op == "pagerank":
        got = {r["id"]: r["rank"] for r in pagerank(spark, edges, verts, tol=1e-12).collect()}
        want = pagerank_numpy(erows, ids)
        assert set(got) == set(want)
        assert all(abs(got[i] - want[i]) < 1e-6 for i in ids)
    elif op == "wcc":
        got = {r["id"]: r["cc_id"] for r in connected_components(spark, edges, verts).collect()}
        assert got == cc_unionfind(erows, ids)
    elif op == "lpa":
        got = {r["id"]: r["label"] for r in label_propagation(spark, edges, verts, rounds=4).collect()}
        assert got == lpa_sync(erows, ids, rounds=4)
    elif op == "coloring":
        got = {r["id"]: r["scc_id"] for r in scc_coloring(spark, edges, verts).collect()}
        assert got == kosaraju_scc(erows, ids)
    else:
        got = {r["id"]: (r["auth"], r["hub"]) for r in hits(spark, edges, verts, iters=5).collect()}
        want = _hits_numpy(erows, ids, 5)
        assert all(abs(got[i][0] - want[i][0]) < 1e-9 and abs(got[i][1] - want[i][1]) < 1e-9 for i in ids)
