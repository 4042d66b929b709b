"""Materialization strategy dial (operators/materialize.pin, pin_observed)."""

from __future__ import annotations

from quill_agent_dashboard_pbi_etl_spark.operators.materialize import PIN_CONF, pin


def test_pin_default_is_local_checkpoint(spark):
    df = spark.range(10)
    out = pin(df)
    assert out is not df
    assert out.count() == 10
    # lineage is truncated: the checkpointed plan is a scan over materialized
    # blocks, with the original Range operator gone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Range" not in plan
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan


def test_pin_none_passes_through_unless_required(spark):
    df = spark.range(10)
    spark.conf.set(PIN_CONF, "none")
    try:
        assert pin(df) is df  # pure lineage kept — recompute-safe
        required = pin(df, required=True)  # correctness sites still pin
        assert required is not df
        assert required.count() == 10
    finally:
        spark.conf.unset(PIN_CONF)


def test_pin_reliable_checkpoint(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(PIN_CONF, "checkpoint")
    try:
        out = pin(spark.range(10))
        assert out.count() == 10
        # the reliable checkpoint materialized to the configured dir
        assert any((tmp_path / "ckpt").iterdir())
    finally:
        spark.conf.unset(PIN_CONF)


def test_unpin_frees_blocks_and_is_noop_on_plain_frames(spark):
    from quill_agent_dashboard_pbi_etl_spark.operators.materialize import unpin

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    pinned = pin(spark.range(100))
    assert sc._jsc.sc().getPersistentRDDs().size() == before + 1
    unpin(pinned)
    assert sc._jsc.sc().getPersistentRDDs().size() == before
    # plain / derived frames are a safe no-op
    unpin(spark.range(5))
    unpin(pinned.select("id"))


def test_connected_components_retires_superseded_pins(spark):
    """CC must not leave one dead block generation per round: after the call
    returns, the loop lane may keep only the FINAL pinned step persisted (the
    returned frame is backed by it), and the driver lane none; the symmetric
    edge pin and every superseded round must be gone (materialize.unpin)."""
    from quill_agent_dashboard_pbi_etl_spark.operators import clustering

    from conftest import CC_LANES, cc_lane

    sc = spark.sparkContext
    for lane in CC_LANES:
        with cc_lane(spark, lane):
            before = sc._jsc.sc().getPersistentRDDs().size()
            # a diameter-4 chain forces >1 loop round before convergence
            edges = spark.createDataFrame(
                [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
            )
            comp = clustering.connected_components(edges)
            got = {(r["node"], r["cluster_id"]) for r in comp.collect()}
            assert got == {
                (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)
            }, lane
            after = sc._jsc.sc().getPersistentRDDs().size()
        kept = 1 if lane == "loop" else 0
        assert after <= before + kept, (
            f"{lane} lane leaked {after - before} persisted RDDs (expected "
            f"<= {kept}: the final step backing the result)"
        )


def test_pin_observed_counts_exactly_under_every_strategy(spark):
    """pin_observed returns exact counters from the pin's own action on an
    empty and a non-empty frame, under the default localCheckpoint and under
    spark.graft.pin=none (where no pin action runs, so the counters come
    from one aggregate and the frame passes through)."""
    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators.materialize import (
        pin_observed,
    )

    counters = {
        "rows": F.count(F.lit(1)),
        "evens": F.count(F.when(F.col("id") % 2 == 0, 1)),
    }
    for strategy in ("localCheckpoint", "none"):
        spark.conf.set(PIN_CONF, strategy)
        try:
            for n, evens in ((0, 0), (11, 6)):
                df = spark.range(n)
                out, seen = pin_observed(df, **counters)
                assert seen == {"rows": n, "evens": evens}, (strategy, n)
                assert out.count() == n
                if strategy == "none":
                    assert out is df
                else:
                    plan = out._jdf.queryExecution().analyzed()
                    assert plan.getClass().getSimpleName() == "LogicalRDD"
            # `columns` projects above the observation: the counter reads a
            # column the pinned frame does not carry
            wide = spark.range(5).withColumn("flag", F.col("id") > 2)
            out, seen = pin_observed(
                wide, columns=["id"], flagged=F.count(F.when(F.col("flag"), 1))
            )
            assert seen == {"flagged": 2}
            assert out.columns == ["id"]
        finally:
            spark.conf.unset(PIN_CONF)
