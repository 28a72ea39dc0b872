"""connected_components unit tests on adversarial graph shapes —
the oracle suite only exercises the near-clique dup blobs, so chains,
cycles, and label-ordering traps get direct coverage here.  Both CC
engines (label propagation + large-star/small-star) run every case, on
BOTH execution paths: the sub-threshold driver union-find (the default
at these sizes) and the distributed loops (forced by pinning the
threshold to 0), plus explicit driver ≡ distributed equivalence per
engine, including null endpoints and non-ASCII string ids."""

from __future__ import annotations

import pytest

from etl_wildweb_spark.operators import dedup
from etl_wildweb_spark.operators.dedup import (
    connected_components,
    connected_components_bigstar,
)


def _cc(spark, pairs, impl=connected_components):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = impl(df).collect()
    return {r.node: r.cluster_id for r in out}


def test_chain_propagates_past_diameter(spark):
    # 0-1-2-...-9: min label must walk the whole chain
    got = _cc(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_two_components_and_cycle(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_min_label_enters_from_high_end(spark):
    # min node attached at the END of the chain: 5-4-3-...-0 reversed
    # edge direction; propagation must be direction-agnostic
    got = _cc(spark, [(i + 1, i) for i in range(5)])
    assert got == {i: 0 for i in range(6)}


def test_bridged_stars(spark):
    # two stars joined by one bridge edge collapse to one component
    pairs = [(0, i) for i in range(1, 5)] + [(100, 100 + i) for i in range(1, 5)]
    pairs.append((4, 104))
    got = _cc(spark, pairs)
    assert set(got.values()) == {0}


_CASES = {
    "chain": [(i, i + 1) for i in range(9)],
    "reversed_chain": [(i + 1, i) for i in range(5)],
    "cycle_plus_pair": [(1, 2), (2, 3), (3, 1), (10, 11)],
    "bridged_stars": [(0, i) for i in range(1, 5)]
    + [(100, 100 + i) for i in range(1, 5)]
    + [(4, 104)],
    "self_loop_and_dup_edges": [(5, 5), (1, 2), (2, 1), (1, 2), (3, 4)],
    "long_chain_log_rounds": [(i, i + 1) for i in range(40)],
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_bigstar_matches_label_propagation(spark, case):
    """The O(log n) large-star/small-star engine must agree with label
    propagation on every adversarial shape — including the 41-node
    chain, where propagation needs 40 rounds but contraction must
    finish in its max_iter=30 (i.e. actually converge in O(log n))."""
    pairs = _CASES[case]
    assert _cc(spark, pairs, connected_components_bigstar) == _cc(spark, pairs)


@pytest.mark.parametrize("case", sorted(_CASES))
@pytest.mark.parametrize(
    "impl", [connected_components, connected_components_bigstar],
    ids=["labelprop", "bigstar"],
)
def test_driver_path_matches_distributed(spark, monkeypatch, case, impl):
    """Twin pin: the sub-threshold driver union-find and the
    distributed loop must emit identical (node, cluster_id) rows for
    both engines on every adversarial shape.  Threshold 0 forces the
    distributed path (any non-empty edge list exceeds it)."""
    pairs = _CASES[case]
    driver = _cc(spark, pairs, impl)  # default threshold → driver path
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    dist = _cc(spark, pairs, impl)  # forced distributed loop
    assert driver == dist


def test_driver_path_schema_and_empty(spark):
    """The driver path must keep the engines' output schema (node,
    cluster_id with the edge id type) — including on an EMPTY edge
    list, where it returns zero rows rather than erroring."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    for impl in (connected_components, connected_components_bigstar):
        out = impl(empty)
        assert [f.name for f in out.schema.fields] == ["node", "cluster_id"]
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint",
            "bigint",
        ]
        assert out.count() == 0


_TYPED_CASES = {
    # a null endpoint cannot be ordered in Python: the driver path must
    # hand the graph to the distributed loop, not raise
    "null_endpoint": (
        "id_a long, id_b long",
        [(1, 2), (2, None), (None, 3), (4, 5)],
    ),
    # Spark orders strings by UTF-8 bytes; the driver's Python order
    # must agree on multi-byte ids (é < ž < 日 < 😀 by code point)
    "non_ascii_ids": (
        "id_a string, id_b string",
        [("日本", "é"), ("é", "ž"), ("😀", "日本"), ("zz", "Ω"), ("a", "b")],
    ),
    # Spark orders NaN above every double and groups NaN with NaN;
    # Python does neither, so double ids take the distributed path
    "nan_ids": (
        "id_a double, id_b double",
        [(1.0, float("nan")), (float("nan"), 2.0), (3.0, 4.0)],
    ),
}


@pytest.mark.parametrize("case", sorted(_TYPED_CASES))
@pytest.mark.parametrize(
    "impl", [connected_components, connected_components_bigstar],
    ids=["labelprop", "bigstar"],
)
def test_driver_path_matches_distributed_typed(spark, monkeypatch, case, impl):
    ddl, pairs = _TYPED_CASES[case]

    def rows():
        # repr: NaN keys never compare equal inside a dict
        out = impl(spark.createDataFrame(pairs, ddl)).collect()
        return sorted((repr(r.node), repr(r.cluster_id)) for r in out)

    driver = rows()
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    assert driver == rows()


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_driver_path_is_local_relation(spark):
    """The driver union-find hands its cluster table back as a JVM-local
    relation, not a Python-RDD scan, and so does io.local_frame."""
    from etl_wildweb_spark.io import local_frame

    df = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    for impl in (connected_components, connected_components_bigstar):
        assert _plan_node(impl(df)) == "LocalRelation"
    assert _plan_node(local_frame(spark, [(1, "a")], "k long, s string")) == (
        "LocalRelation"
    )


def test_local_frame_keeps_type_checking(spark):
    """A value that does not fit the schema raises, as on the list
    path (Arrow alone would truncate 1.5 into a long column)."""
    from etl_wildweb_spark.io import local_frame

    got = local_frame(spark, [(1, "é"), (None, None)], "k long, s string")
    assert [tuple(r) for r in got.collect()] == [(1, "é"), (None, None)]
    assert local_frame(spark, [], "k long, s string").count() == 0
    for bad in ([(1.5, "a")], [("x", "a")], [(2**63, "a")]):
        with pytest.raises((TypeError, ValueError)):
            local_frame(spark, bad, "k long, s string")
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], "k long not null")


def test_driver_path_job_count(spark):
    """After the edge checkpoint the driver path starts at most two
    jobs: one count, one collect.  Eight partitions: an incremental
    take over them (limit + collect) would need three."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(_CASES["bridged_stars"], "id_a long, id_b long")
    raw = (
        edges.selectExpr("id_a AS u", "id_b AS v")
        .repartition(8)
        .localCheckpoint(eager=True)
    )
    group = "test_driver_path_job_count"
    sc.setJobGroup(group, group)
    try:
        out = dedup._driver_cc_or_none(raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out is not None
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_dedup_builders_leave_no_session_cache(spark, sf_dir):
    """The n-gram edge feed and its consumers own their shingle stage
    as a local checkpoint: building and running them registers nothing
    in the session's CacheManager, so repeated calls cannot stack
    cached plans."""
    from etl_wildweb_spark import registry

    registry.load_all()
    spark.catalog.clearCache()
    for name in (
        "b29_ngram_jaccard",
        "b29_dedup_canonical",
        "b144_leakage_safe_split",
        "b159_containment_dedup",
    ):
        assert registry.QUERIES[name](spark, sf_dir).collect(), name
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ngram_edges_survive_a_short_circuiting_action(spark, sf_dir):
    """The shingle stage is checkpointed eagerly at build time: every
    RDD leaf of the built frame is materialized before any action, and
    a caller's limit(1) leaves the same frame returning the full edge
    set on its next action."""
    from etl_wildweb_spark import registry

    registry.load_all()
    full = {tuple(r) for r in registry.QUERIES["b29_ngram_jaccard"](spark, sf_dir).collect()}
    edges = registry.QUERIES["b29_ngram_jaccard"](spark, sf_dir)
    leaves = edges._jdf.queryExecution().analyzed().collectLeaves().iterator()
    rdds = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            rdds.append(leaf.rdd())
    assert rdds and all(r.isCheckpointed() for r in rdds)
    assert len(edges.limit(1).collect()) == 1
    assert {tuple(r) for r in edges.collect()} == full
    assert len(full) > 1
