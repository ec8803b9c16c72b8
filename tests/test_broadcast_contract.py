"""The graph family's broadcast-|V| contract (r14 verdict item 7).

pagerank / PPR / BFS / LPA / the triangle estimator broadcast
node-keyed vectors that are |V| rows — dimension-sized by this repo's
data model, with a keyed-join fallback documented per query for
billion-node graphs.  `_broadcast_vec` turns that prose into a
checked boundary: with the check armed, a |V| above
`_BROADCAST_V_BOUND` raises instead of attempting a driver-OOM
broadcast.  These tests pin (a) the guard trips on an oversized
frame, (b) every committed-SF graph passes with the check armed, and
(c) the five per-round vector broadcasts actually route through the
guard (so a future edit cannot silently drop the contract).
"""

from __future__ import annotations

import inspect

import pytest

import ondemand_dask_spark.queries.graph as g

SF_DIR = "/root/testdata/sf0.001"


def test_guard_trips_on_oversized_frame(spark, monkeypatch):
    monkeypatch.setattr(g, "_BROADCAST_V_BOUND", 10)
    big = spark.range(11).toDF("node")
    with pytest.raises(ValueError, match="not dimension-sized"):
        g._broadcast_vec(big, "test vector", check=True)


def test_guard_passes_bounded_frame(spark):
    small = spark.range(5).toDF("node")
    # returns the broadcast-hinted frame untouched
    out = g._broadcast_vec(small, "test vector", check=True)
    assert out.count() == 5


def test_graph_queries_pass_with_check_armed(spark, monkeypatch):
    """The committed graphs are dimension-sized: every guarded query
    runs green with the contract check armed (each per-round
    broadcast is counted)."""
    monkeypatch.setenv("SPARK_GRAFT_CHECK_BROADCAST", "1")
    for name in (
        "graph_pagerank",
        "graph_bfs_khop",
        "graph_label_propagation",
        "graph_triangle_count_estimate",
        "graph_personalized_pagerank",
    ):
        from ondemand_dask_spark.registry import all_queries

        df = all_queries()[name].fn(spark, SF_DIR)
        assert df.count() > 0, name


def test_vector_broadcasts_route_through_guard():
    """Source pin: the five |V|-vector broadcast sites call
    _broadcast_vec, not bare F.broadcast."""
    for fn, needle in [
        (g.graph_pagerank, "graph_pagerank (node, pr, d) vector"),
        (g.graph_bfs_khop, "graph_bfs_khop distance vector"),
        (
            g.graph_label_propagation,
            "graph_label_propagation label vector",
        ),
        (
            g.graph_personalized_pagerank,
            "graph_personalized_pagerank walk vector",
        ),
    ]:
        src = inspect.getsource(fn)
        assert '_broadcast_vec' in src and needle in src, fn.__name__
    census = inspect.getsource(g._intersection_census)
    assert "graph_triangle adjacency" in census
