"""Mid-plan materialization with an explicit reliability/speed dial.

Several operators reuse an expensive intermediate (near-dup candidate pairs
joined 2-3×, iterative label propagation whose plan would otherwise grow per
iteration). They pin that intermediate through :func:`pin`, whose strategy is
a session conf rather than a hardcoded ``localCheckpoint``:

``spark.graft.pin`` =
  ``localCheckpoint`` (default)
      Eager local checkpoint: lineage-truncating, blocks GC-released when the
      DataFrame is collected (no persist leak), but UNREPLICATED — stored only
      on the executors that computed them. On executor loss (spot kill, OOM,
      dynamic-allocation decommission) the data is unrecoverable and the job
      fails instead of recomputing. Right for single-node dev/bench and for
      clusters without preemption.
  ``checkpoint``
      Reliable checkpoint to ``sparkContext.setCheckpointDir`` storage
      (HDFS/object store): survives executor loss — the 100 TB posture on
      preemptible fleets. Requires the checkpoint dir to be configured;
      costs one write+read of the intermediate.
  ``none``
      Pass through: keeps full lineage (always recomputable — maximum fault
      tolerance) at the cost of recomputing the intermediate per reuse.
      Straight-line operators tolerate this (a bounded number of extra
      passes); ITERATIVE operators do not — without per-round truncation the
      plan embeds the previous round several times over, so recompute grows
      exponentially in round count. Such sites pass ``required=True`` and
      keep materializing under ``none``.

This makes the executor-loss trade-off a deployment choice instead of a
hidden property of the operator internals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation

PIN_CONF = "spark.graft.pin"


def pin(df: DataFrame, required: bool = False) -> DataFrame:
    """Materialize ``df`` per the session's ``spark.graft.pin`` strategy.

    ``required=True`` marks sites where materialization is a CORRECTNESS
    contract, not an optimization (e.g. the ledger gate must snapshot its
    survivors before the ledger lock releases, or a later lazy execution
    would observe a mutated ledger): there ``none`` falls back to
    ``localCheckpoint`` instead of passing through.
    """
    strategy = df.sparkSession.conf.get(PIN_CONF, "localCheckpoint")
    if strategy == "none" and not required:
        return df
    if strategy == "checkpoint":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def pin_observed(
    df: DataFrame,
    required: bool = False,
    columns: list[str] | None = None,
    **counters: Column,
) -> tuple[DataFrame, dict]:
    """:func:`pin` ``df`` and return ``(pinned, {name: value})`` for the
    named aggregate ``counters`` (e.g. ``rows=F.count(F.lit(1))``), read
    from the pin's OWN action instead of a follow-up job.

    An ``Observation`` attaches a CollectMetrics node that aggregates rows
    while the eager checkpoint materializes them, so a counter costs no job
    and no second pass — the replacement for ``pinned.isEmpty()`` /
    ``.count()`` probes that re-run a job over blocks just written (or, on
    a pass-through pin, the whole upstream lineage). ``columns`` projects
    the pinned frame ABOVE the observation, so a counter may read columns
    the pinned blocks do not carry.

    Under ``spark.graft.pin=none`` with ``required=False`` nothing runs an
    action — and ``Observation.get`` blocks until one does — so the
    counters are computed by one aggregate job over ``df`` and the
    pass-through frame is returned."""
    aggs = [c.alias(name) for name, c in counters.items()]
    strategy = df.sparkSession.conf.get(PIN_CONF, "localCheckpoint")
    if strategy == "none" and not required:
        values = df.agg(*aggs).first().asDict()
        return (df.select(*columns) if columns else df), values
    obs = Observation()
    observed = df.observe(obs, *aggs)
    if columns:
        observed = observed.select(*columns)
    return pin(observed, required=required), dict(obs.get)


def unpin(df: DataFrame) -> None:
    """Free a pin()-materialized DataFrame's storage blocks immediately.

    ONLY safe when nothing will execute ``df`` (or any lazy plan referencing
    it) again: a ``localCheckpoint`` truncates lineage, so once its blocks
    drop the data is unrecoverable and further actions on ``df`` FAIL.
    Iterative operators use this to retire *superseded* intermediates inside
    their loop — without it each round's dead blocks sit in the block
    manager until Python GC + the JVM ContextCleaner happen to run, and the
    accumulated dead storage measurably poisons later work in the same
    session (execution-memory pressure evicts/spills the corpses over and
    over; measured r14: three pin-heavy queries left enough dead blocks to
    slow the next Arrow/Python-stage query from ~3 s to ~40 s, and the sf10
    ladder rung previously OOMed on the third execution for the same
    reason). Reliable ``checkpoint`` frames keep their on-disk copy — for
    them this only drops the memory replica. No-op for frames that are not
    pinned materializations (strategy ``none`` pass-throughs, derived
    plans).
    """
    try:
        lp = df._jdf.queryExecution().analyzed()
        if lp.getClass().getSimpleName() == "LogicalRDD":
            lp.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leak here degrades to the old GC-released path


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-local rows → DataFrame as a JVM ``LocalRelation`` (r14, guide
    §4: eliminate the Python boundary).

    ``createDataFrame(list)`` parallelizes into ``defaultParallelism``
    Python-RDD slices — every downstream stage that scans the frame then
    launches that many tasks, each paying a Python-worker round trip for a
    near-empty slice (measured: ~0.25 s/task × 32 tasks × every stage, with
    ~zero CPU — the dominant cost of the k-means centroid loop and of every
    query broadcasting the 4-row DimMetric). Routing through pandas + Arrow
    yields a ``LocalRelation``: no RDD, no Python workers, directly
    broadcastable, and Catalyst gets honest size stats. Falls back to the
    plain path when pandas/Arrow is unavailable or rejects the values."""
    if rows:
        try:
            import pandas as pd

            if hasattr(schema, "fields"):
                struct = schema
            else:  # DDL string → StructType, via the public empty-frame path
                struct = spark.createDataFrame([], schema).schema
            pdf = pd.DataFrame(
                [tuple(r) for r in rows], columns=[f.name for f in struct.fields]
            )
            return spark.createDataFrame(pdf, schema=struct)
        except Exception:
            pass  # fall back to the row-iterating path below
    return spark.createDataFrame(rows, schema)


def release_dead_blocks(spark) -> None:
    """Session hygiene between independent query executions: drop cached
    tables and nudge both GCs so dead pin() blocks actually leave the block
    manager (the ContextCleaner unpersists them only after the JVM notices
    the Python-side references died). The JVM GC is skipped when nothing is
    persisted — the common (pin-free) case stays cheap."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    try:
        if spark.sparkContext._jsc.sc().getPersistentRDDs().size() > 0:
            spark.sparkContext._jvm.System.gc()
    except Exception:
        spark.sparkContext._jvm.System.gc()
