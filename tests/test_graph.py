"""Delta-admission verdict core (graph.indexed_admission_rejects): no
persisted frame outlives a failed call."""

import pytest

from magiceye_spark.io import local_frame
from magiceye_spark.llmops import graph


def _persisted(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_admission_rejects_unpersists_edges_on_raise(spark, monkeypatch):
    """A raise inside the small-graph verdict (here: the edge collect)
    must still unpersist the edge frame: a streaming driver calls this
    once per micro-batch, so a leak per failed batch adds up."""
    pairs = local_frame(spark, [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    stored = local_frame(spark, [(1,)], "doc_id long")
    # the verdict itself, for reference: 2 and 3 chain to stored 1, 11
    # is not the minimum of its all-incoming component
    assert sorted(
        r[0] for r in graph.indexed_admission_rejects(pairs, stored).collect()
    ) == [2, 3, 11]
    before = _persisted(spark)

    def boom(und):
        assert _persisted(spark) == before + 1  # the edge cache is live
        raise RuntimeError("edge collect failed")

    monkeypatch.setattr(graph, "_edge_tuples", boom)
    with pytest.raises(RuntimeError, match="edge collect failed"):
        graph.indexed_admission_rejects(pairs, stored)
    assert _persisted(spark) == before


def _seeded_admission_graph(seed):
    """Edges (doc_a < doc_b) and stored ids covering every rule arm: a
    component holding a stored member (its incoming members are all
    rejected), an all-incoming chain (all but its minimum rejected),
    stored and incoming singletons (never in the verdict), plus a random
    sparse graph over a random stored subset."""
    import random

    rng = random.Random(seed)
    edges = {(100, 101), (101, 102), (200, 201), (201, 202), (202, 203)}
    stored = {100, 300}  # 300: a stored singleton with no edges
    nodes = range(400, 460)
    for _ in range(45):
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    stored |= {n for n in nodes if rng.random() < 0.25}
    return sorted(edges), sorted(stored)


@pytest.mark.parametrize("id_type", ["int", "long"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_admission_verdict_driver_side_equals_distributed(
    spark, monkeypatch, seed, id_type
):
    """The driver-side verdict (graphs under SMALL_GRAPH_EDGE_CAP) and the
    distributed verdict (forced by a zero cap) reject the same ids, for
    int and long id columns (both paths compare ids as longs)."""
    edges, stored_ids = _seeded_admission_graph(seed)
    pairs = local_frame(spark, edges, f"doc_a {id_type}, doc_b {id_type}")
    stored = local_frame(spark, [(s,) for s in stored_ids], f"doc_id {id_type}")

    def rejected():
        return {r[0] for r in graph.indexed_admission_rejects(pairs, stored).collect()}

    local = rejected()
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGE_CAP", 0)
    distributed = rejected()
    assert local == distributed
    # the fixed components: 101, 102 touch stored 100; 201-203 lose to 200
    assert {101, 102, 201, 202, 203} <= local
    assert not local & {100, 200, 300, *stored_ids}
