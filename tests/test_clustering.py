"""Duplicate-cluster resolution and deterministic sampling operators."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark.operators import clustering

from conftest import CC_LANES, cc_lane


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _components(spark, edges):
    return {
        r.node: r.cluster_id
        for r in clustering.connected_components(_edges(spark, edges)).collect()
    }


def _jobs_and_new_pins(spark, edges, group):
    """(result, jobs launched, persisted RDD ids added) of one
    connected_components call; jobs are counted through a job group set
    around the call."""
    sc = spark.sparkContext
    df = _edges(spark, edges)
    persisted_before = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup(group, "connected_components job count")
    try:
        comp = clustering.connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    new_pins = set(sc._jsc.getPersistentRDDs().keys()) - persisted_before
    return comp, jobs, new_pins


def test_connected_components_basic(spark):
    # {1,2,3} chained, {10,11} pair, 5 only via reversed edge {5,4}.
    for lane in CC_LANES:
        with cc_lane(spark, lane):
            got = _components(spark, [(1, 2), (2, 3), (10, 11), (5, 4)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 5: 4}, lane


def test_connected_components_long_chain_converges(spark):
    # Path graph 0-1-2-...-9: worst case for label propagation (diameter 9).
    for lane in CC_LANES:
        with cc_lane(spark, lane):
            got = _components(spark, [(i, i + 1) for i in range(9)])
        assert set(got.values()) == {0}, lane


def test_connected_components_diameter_beyond_max_iter(spark):
    # Path graph of diameter 120 in sorted id order — plain min-propagation
    # would need 120 rounds and, pre-fix, silently returned SPLIT clusters at
    # max_iter=15; the loop's pointer jump resolves this order within the
    # cap, and the driver lane never iterates.
    for lane in CC_LANES:
        with cc_lane(spark, lane):
            got = _components(spark, [(i, i + 1) for i in range(120)])
        assert set(got.values()) == {0}, lane


def test_connected_components_empty_edges(spark):
    for lane in CC_LANES:
        with cc_lane(spark, lane):
            out = clustering.connected_components(
                _edges(spark, []).filter("doc_a > 0")
            )
            assert out.count() == 0, lane


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=20
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Both lanes must agree with a driver-side union-find on arbitrary small
    graphs (self-loops and duplicate edges included)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    for lane in CC_LANES:
        with cc_lane(spark, lane):
            got = _components(spark, edges)
        assert got == expected, lane


def test_connected_components_driver_lane_no_pin_fewer_jobs(spark):
    """Under the broadcast budget the call leaves no persisted RDD behind
    (the edge pin is released after the collect; the result is a
    LocalRelation) and runs fewer jobs than the loop lane on the same
    diameter-4 chain: 2 jobs (edge pin, collect) against 24 for the loop
    lane's edge pin plus rounds (AQE on, local[8] test session)."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    comp, driver_jobs, new_pins = _jobs_and_new_pins(spark, edges, "cc_driver_lane")
    assert not new_pins, f"driver lane left {len(new_pins)} persisted RDDs"
    assert comp._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
        "LocalRelation"
    )
    with cc_lane(spark, "loop"):
        _, loop_jobs, _ = _jobs_and_new_pins(spark, edges, "cc_loop_lane")
    assert 0 < driver_jobs < loop_jobs, (driver_jobs, loop_jobs)


def test_connected_components_driver_lane_resolves_long_random_chain(spark):
    """A chain of diameter 60 in random id order — rounds of the loop lane
    grow about linearly with such a diameter — resolves in one driver pass:
    the same job count as a two-node graph, and one cluster at the min id."""
    ids = list(range(1000, 1061))
    random.Random(7).shuffle(ids)
    chain = list(zip(ids, ids[1:]))
    comp, chain_jobs, new_pins = _jobs_and_new_pins(spark, chain, "cc_long_chain")
    _, pair_jobs, _ = _jobs_and_new_pins(spark, [(1, 2)], "cc_one_pair")
    got = {r.node: r.cluster_id for r in comp.collect()}
    assert got == dict.fromkeys(ids, 1000)
    assert chain_jobs == pair_jobs, (chain_jobs, pair_jobs)
    assert not new_pins


def test_attach_clusters_singletons_and_survivors(spark):
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (9, 50)], "doc_id long, n_chars long"
    )
    comp = clustering.connected_components(_edges(spark, [(1, 2), (2, 3)]))
    clustered = clustering.attach_clusters(docs, comp)
    assert {(r.doc_id, r.cluster_id) for r in clustered.collect()} == {
        (1, 1), (2, 1), (3, 1), (9, 9),
    }
    # Survivor: longest doc wins, tie (2 vs 3 at 300 chars) broken by min id.
    surv = {
        (r.cluster_id, r.doc_id, r.cluster_size)
        for r in clustering.canonical_survivors(clustered).collect()
    }
    assert surv == {(1, 2, 3), (9, 9, 1)}


def test_deterministic_sample_is_stable_and_subset(spark):
    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in clustering.deterministic_sample(docs, "doc_id", 30).collect()}
    b = {r.doc_id for r in clustering.deterministic_sample(docs, "doc_id", 30).collect()}
    wider = {
        r.doc_id for r in clustering.deterministic_sample(docs, "doc_id", 60).collect()
    }
    assert a == b                      # reproducible, no RNG
    assert a <= wider                  # monotone in pct: bucket < 30 ⊂ bucket < 60
    assert 0.2 < len(a) / 1000 < 0.4   # ~30%


def test_stratified_sample_rates_and_default(spark):
    docs = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 3 == 0, "en")
            .when(F.col("doc_id") % 3 == 1, "de")
            .otherwise("xx"),
        )
    )
    out = clustering.stratified_sample(
        docs, "doc_id", "lang", {"en": 100, "de": 50}, default_pct=0
    )
    by_lang = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang.get("en") == 1000          # 100% stratum kept whole
    assert 350 < by_lang.get("de", 0) < 650   # ~50%
    assert "xx" not in by_lang                # default 0% drops the stratum
