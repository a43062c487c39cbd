"""Connected components + consensus unit tests."""

import random

import pytest
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.operators.cluster import (
    build_edges, cluster_consensus, connected_components)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["component"]
            for r in connected_components(df).collect()}


def test_cc_chain(spark):
    # chain a-b-c-d collapses to min 'a'
    comp = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_cc_two_components(spark):
    comp = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert comp["a"] == comp["b"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"


def test_cc_star_and_cycle(spark):
    comp = _cc(spark, [("h", "a"), ("h", "b"), ("h", "c"),
                       ("p", "q"), ("q", "r"), ("r", "p")])
    assert comp["h"] == comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["p"] == comp["q"] == comp["r"] == "p"


def test_cc_deterministic(spark):
    e = [("n3", "n1"), ("n2", "n3"), ("n9", "n8"), ("n8", "n1")]
    assert _cc(spark, e) == _cc(spark, list(reversed(e)))


def test_consensus_majority_vote_fans_out(spark):
    docs = spark.createDataFrame(
        [("d1", "G1"), ("d2", "G1"), ("d3", "G1"), ("d4", "G1")],
        "doc_id string, group_key string")
    matches = spark.createDataFrame(
        [("d1", "U7", 0.9), ("d2", "U7", 0.8), ("d3", "U5", 0.7)],
        "doc_id string, uprn string, confidence double")
    edges = build_edges(matches, docs)
    comps = connected_components(edges)
    out = cluster_consensus(comps, matches, docs).collect()
    # d4 (unmatched) gets the majority UPRN U7 with 2-vote confidence
    assert len(out) == 1
    r = out[0]
    assert (r["doc_id"], r["uprn"], r["confidence"]) == ("d4", "U7", 0.85)
    assert r["method"] == "cluster_consensus"


def test_consensus_respects_min_votes(spark):
    docs = spark.createDataFrame([("d1", "G1"), ("d2", "G1")],
                                 "doc_id string, group_key string")
    matches = spark.createDataFrame([("d1", "U7", 0.9)],
                                    "doc_id string, uprn string, confidence double")
    comps = connected_components(build_edges(matches, docs))
    out = cluster_consensus(comps, matches, docs, min_votes=2).collect()
    assert out == []  # single vote is not consensus


def test_consensus_voter_gate_requires_eligible_voters(spark):
    """The group-propagation gate must count only matches ELIGIBLE to
    vote (confidence > min_conf): a group whose two matches sit below
    the vote threshold cannot receive the component winner through
    them (round-5 review: voter_groups omitted the min_conf filter the
    votes aggregation applies)."""
    # G1 supplies the eligible votes; G2's two matches to the same
    # UPRN are sub-threshold — its unmatched doc must NOT be assigned.
    docs = spark.createDataFrame(
        [("d1", "G1"), ("d2", "G1"),
         ("d3", "G2"), ("d4", "G2"), ("d5", "G2")],
        "doc_id string, group_key string")
    matches = spark.createDataFrame(
        [("d1", "U7", 0.9), ("d2", "U7", 0.8),
         ("d3", "U7", 0.45), ("d4", "U7", 0.45)],
        "doc_id string, uprn string, confidence double")
    comps = connected_components(build_edges(matches, docs))
    out = cluster_consensus(comps, matches, docs, min_conf=0.5).collect()
    assert out == []  # d5's own group has no ELIGIBLE voter for U7


def test_cc_raises_when_rounds_run_out(spark, monkeypatch):
    """A 64-node chain with shuffled ids needs more than 3 star rounds:
    with the budget cut to 3 the labeling is refused, not returned
    split; with the default budget the chain is one component."""
    from ehdc_llpg_address_matching_spark.operators import cluster
    nodes = [f"n{i:02d}" for i in range(64)]
    random.Random(7).shuffle(nodes)
    edges = list(zip(nodes, nodes[1:]))
    assert set(_cc(spark, edges).values()) == {"n00"}
    monkeypatch.setattr(cluster, "MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="after 3 rounds"):
        _cc(spark, edges)
