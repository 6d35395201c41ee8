"""SCC exactness vs independent Kosaraju oracle on the reference's own
fixture graphs (/root/reference/data/*.gr) — golden values in SURVEY.md §5."""

import os

import pytest

from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import REF_DATA
from .oracles import kosaraju_scc

GOLDEN = {
    "sample0.gr": 4,
    "sample4.gr": 4,
    "sample5.gr": 3,
    "sample1.gr": 3,
    "sample128.gr": 13,
}


def _run_scc(spark, name, **kw):
    path = os.path.join(REF_DATA, name)
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    vertices = spark.range(1, v + 1).withColumnRenamed("id", "id")
    result = strongly_connected_components(spark, edges, vertices, **kw)
    got = {r["id"]: r["scc_id"] for r in result.collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    expect = kosaraju_scc(erows, list(range(1, v + 1)))
    return got, expect, v


@pytest.mark.parametrize("name", ["sample0.gr", "sample4.gr", "sample5.gr"])
def test_scc_small_distributed(spark, name):
    got, expect, v = _run_scc(spark, name)
    assert len(got) == v
    assert got == expect
    assert len(set(got.values())) == GOLDEN[name]


def test_scc_sample1_distributed(spark):
    got, expect, v = _run_scc(spark, "sample1.gr")
    assert got == expect
    assert len(set(got.values())) == GOLDEN["sample1.gr"]


def test_scc_sample128_distributed(spark):
    got, expect, v = _run_scc(spark, "sample128.gr")
    assert got == expect
    assert len(set(got.values())) == GOLDEN["sample128.gr"]


def test_scc_local_finish_path(spark):
    """Driver-side Tarjan finish must agree with the oracle (sample128,
    threshold above its edge count so the residual finishes locally)."""
    got, expect, _ = _run_scc(spark, "sample128.gr", local_finish_edges=1_000_000)
    assert got == expect


def test_scc_no_trim2(spark):
    got, expect, _ = _run_scc(spark, "sample5.gr", trim2_enabled=False)
    assert got == expect


def test_scc_corpus_ingest_end_to_end(spark):
    """corpus -> pandas-UDF extraction -> SCC, vs oracle on rule edges."""
    from detectingscc_spark.corpus import generate_corpus
    from detectingscc_spark.ingest import ingest
    from .oracles import kosaraju_scc as _k

    n = 400
    corpus = generate_corpus(spark, n)
    verts, edges, _ = ingest(spark, corpus, use_pandas=True)
    res = strongly_connected_components(spark, edges, verts.select("id"))
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == _k(erows, list(range(n)))


def _ring_chords(n=400):
    """Ring plus a chord from every 3rd vertex: no vertex dominates."""
    return [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 7) % n) for i in range(0, n, 3)]


def _ring_hub(n=600, hub=0):
    """Ring plus spokes to and from every 2nd vertex: the hub touches
    ~50% of the edges."""
    return [(i, (i + 1) % n) for i in range(n)] + [
        e for i in range(2, n, 2) for e in ((hub, i), (i, hub))
    ]


@pytest.mark.parametrize("make_edges", [_ring_chords, _ring_hub], ids=["ring-chords", "ring-hub"])
def test_scc_big_frontier_plain_shuffle_path(spark, monkeypatch, make_edges):
    """Frontier past the broadcast limit -> the plain shuffle-join hop
    (BROADCAST_ROW_LIMIT forced to 0), on a balanced and a hub-skewed
    graph. Output must stay exact."""
    from detectingscc_spark.operators import scc as scc_mod
    from .oracles import kosaraju_scc as _k

    monkeypatch.setattr(scc_mod, "BROADCAST_ROW_LIMIT", 0)
    edges = make_edges()
    n = max(max(e) for e in edges) + 1
    df = spark.createDataFrame(edges, "src long, dst long")
    res = strongly_connected_components(spark, df)
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    assert got == _k(edges, list(range(n)))
    assert len(set(got.values())) == 1  # the ring makes it one SCC


def test_entry_contract(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id", "scc_id"}
    assert set(se.oracle_sql()) <= set(se.queries())


@pytest.mark.slow
def test_scc_sample2_giant(spark):
    """32,768-vertex giant-SCC graph (golden: 4,889 SCCs, largest 25,039)."""
    got, expect, v = _run_scc(spark, "sample2.gr", local_finish_edges=50_000)
    assert got == expect
    assert len(set(got.values())) == 4889
