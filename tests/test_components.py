"""connected_components unit tests on adversarial graph shapes —
the oracle suite only exercises the near-clique dup blobs, so chains,
cycles, and label-ordering traps get direct coverage here.  Every case
runs on BOTH execution paths: the sub-threshold driver union-find (the
default at these sizes) and the distributed large-star/small-star loop
(forced by pinning the threshold to 0), each checked against a literal
expected labelling that a pure-Python label-propagation fixpoint
reproduces, plus driver ≡ distributed equivalence on null
endpoints, non-ASCII string ids and NaN ids."""

from __future__ import annotations

import pytest

from etl_wildweb_spark.operators import dedup
from etl_wildweb_spark.operators.dedup import connected_components


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = connected_components(df, **kw).collect()
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


#: case → (edge list, expected {node: cluster_id})
_CASES = {
    "chain": ([(i, i + 1) for i in range(9)], {i: 0 for i in range(10)}),
    "reversed_chain": ([(i + 1, i) for i in range(5)], {i: 0 for i in range(6)}),
    "cycle_plus_pair": (
        [(1, 2), (2, 3), (3, 1), (10, 11)],
        {1: 1, 2: 1, 3: 1, 10: 10, 11: 10},
    ),
    "bridged_stars": (
        [(0, i) for i in range(1, 5)]
        + [(100, 100 + i) for i in range(1, 5)]
        + [(4, 104)],
        {n: 0 for n in (0, 1, 2, 3, 4, 100, 101, 102, 103, 104)},
    ),
    "self_loop_and_dup_edges": (
        [(5, 5), (1, 2), (2, 1), (1, 2), (3, 4)],
        {5: 5, 1: 1, 2: 1, 3: 3, 4: 3},
    ),
    # 41 nodes: more rounds than max_iter=30 if contraction were
    # O(diameter) instead of O(log n)
    "long_chain_log_rounds": (
        [(i, i + 1) for i in range(40)],
        {i: 0 for i in range(41)},
    ),
    # 61 nodes, diameter 60: beyond 50 rounds for any loop whose round
    # count grows with the diameter
    "chain_61_nodes": (
        [(i, i + 1) for i in range(60)],
        {i: 0 for i in range(61)},
    ),
}


def _label_propagation(pairs):
    """Pure-Python min-label propagation run to its fixpoint (no round
    cap): the O(diameter) reference the contraction engine must match."""
    label = {n: n for edge in pairs for n in edge}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            low = min(label[a], label[b])
            if label[a] != low or label[b] != low:
                label[a] = label[b] = low
                changed = True
    return label


@pytest.mark.parametrize("case", sorted(_CASES))
def test_bigstar_matches_label_propagation(spark, case):
    """The large-star/small-star engine agrees with label propagation
    on every adversarial shape, and so does the literal expected map."""
    pairs, expected = _CASES[case]
    assert _label_propagation(pairs) == expected
    assert _cc(spark, pairs) == expected


def _bigstar_id(case):
    # test ids name the algorithm: large-star/small-star contraction
    return f"bigstar-{case}"


@pytest.mark.parametrize("case", sorted(_CASES), ids=_bigstar_id)
def test_driver_path_matches_distributed(spark, monkeypatch, case):
    """Twin pin: the sub-threshold driver union-find and the
    distributed loop must both emit the expected (node, cluster_id)
    rows on every adversarial shape.  Threshold 0 forces the
    distributed path (any non-empty edge list exceeds it)."""
    pairs, expected = _CASES[case]
    assert _cc(spark, pairs) == expected  # default threshold → driver path
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    assert _cc(spark, pairs) == expected  # forced distributed loop


def test_max_iter_exhaustion_raises(spark, monkeypatch):
    """A distributed loop that runs out of rounds fails loudly instead
    of returning a partial labelling (a 201-node chain needs more than
    two contraction rounds)."""
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="no fixpoint after 2 rounds"):
        _cc(spark, [(i, i + 1) for i in range(200)], max_iter=2)


def test_driver_path_schema_and_empty(spark):
    """The driver path must keep the engine's output schema (node,
    cluster_id with the edge id type) — including on an EMPTY edge
    list, where it returns zero rows rather than erroring."""
    out = connected_components(spark.createDataFrame([], "id_a long, id_b long"))
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


@pytest.mark.parametrize("case", sorted(_TYPED_CASES), ids=_bigstar_id)
def test_driver_path_matches_distributed_typed(spark, monkeypatch, case):
    ddl, pairs = _TYPED_CASES[case]

    def rows():
        # repr: NaN keys never compare equal inside a dict
        out = connected_components(spark.createDataFrame(pairs, ddl)).collect()
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
    assert _plan_node(connected_components(df)) == "LocalRelation"
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
    edges = spark.createDataFrame(_CASES["bridged_stars"][0], "id_a long, id_b long")
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
    """The shingle-set engines own their shingle stage (and the MinHash
    engines their signatures) as local checkpoints, as the HTTP and
    file sources own their one fetch or parse: building and running
    them registers nothing in the session's CacheManager, so repeated
    calls cannot stack cached plans."""
    from etl_wildweb_spark import registry

    registry.load_all()
    spark.catalog.clearCache()
    for name in (
        "b29_ngram_jaccard",
        "b29_dedup_canonical",
        "b144_leakage_safe_split",
        "b159_containment_dedup",
        "b29_minhash_near_dedup",
        "b82_incremental_neardup",
        "b33_http_ingest",
        "b36_file_ingest",
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
