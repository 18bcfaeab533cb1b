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
