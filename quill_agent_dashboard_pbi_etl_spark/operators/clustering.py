"""Duplicate-cluster resolution and deterministic corpus sampling.

North-star extensions (BASELINE.json): the stage AFTER near-dup pair
generation in a training-data pipeline. Pair emitters (``dedup.ngram_jaccard_
pairs``, ``dedup.minhash_lsh_pairs``, ...) produce an edge list; turning that
into "keep exactly one document per duplicate group" requires the connected
components of the pair graph, then a canonical-survivor pick per component.

Scale posture (100 TB):
- ``connected_components`` pins the symmetric edge list once and counts its
  rows inside that pin's own action. The count picks one of two lanes:
  - **driver lane** — when ``rows x 64 bytes`` fits the session's
    ``spark.sql.autoBroadcastJoinThreshold``, the ``a <= b`` half is
    collected through Arrow and the components are resolved with vectorized
    numpy hooking + pointer jumping, then returned as a ``LocalRelation``.
    64 bytes per directed edge is the lane's measured Python peak (numpy,
    pandas and Arrow buffers together: 61.8-61.9 bytes from 0.25M to 8M
    directed edges, ``tools/probe_cc_lanes.py``), so the lane runs only where
    its whole driver-side footprint fits the budget Spark already spends to
    collect one relation onto the driver for a broadcast join. No new conf
    exists; a threshold <= 0 (or unparseable) disables the lane. No round
    loop, no per-round pins: the whole call is the edge pin plus one collect.
    The boundary is set by that memory budget, not by speed: on the same
    graphs the driver lane was 4-9x faster than the loop from 0.25M to 4M
    directed edges (``SCALE_LADDER.json["cc_lanes"]``).
  - **loop lane** — every bigger graph runs iterative min-label propagation
    over DataFrame joins: every round is one equi-join + one groupBy
    (shuffle on node id), never a cross join, and lineage is truncated per
    round with ``materialize.pin`` (default eager ``localCheckpoint``;
    ``spark.graft.pin`` selects reliable checkpointing on preemptible
    clusters) so the plan does not grow with iterations. Cliques converge
    in one round; chains in random id order need rounds roughly linear in
    their diameter (see :func:`connected_components`), capped by
    ``max_iter``.
  Force the loop lane with ``spark.sql.autoBroadcastJoinThreshold=-1``.
- Sampling is HASH-based, not RNG-based: ``md5(key) % 100 < pct`` is
  reproducible across runs, engines, partitionings and retries — the only
  sampling discipline that is auditable at 100 TB (and the reason it keeps a
  DuckDB oracle; ``df.sample()`` seeds are engine-private).

No reference parity row — the reference (an event-ETL service) has nothing
like this; see SURVEY.md §7 north-star scope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .dedup import parse_spark_bytes
from .materialize import pin, pin_observed, unpin

# Driver-lane Python peak per directed edge, measured (61.8 bytes) and
# rounded up: see tools/probe_cc_lanes.py and SCALE_LADDER.json["cc_lanes"].
_EDGE_BYTES = 64


def _pin_step_counting_changes(df: DataFrame) -> tuple[DataFrame, int]:
    """Pin one propagation round's ``(node, old_label, label)`` output and
    return ``(pinned (node, label) frame, changed-label count)`` — both from
    ONE action (r15, guide §2.4: cut the CC loop's per-round driver actions).

    The loop previously ran a separate ``filter(label != old_label).limit(1)
    .count()`` job after every pin — a full extra driver round trip + job per
    round whose input was the blocks the pin had just written.
    :func:`~.materialize.pin_observed` reads the convergence count from the
    pin action itself (verified: ``Observation.get`` returns after a bare
    ``localCheckpoint(eager=True)``, including on empty frames). Bonus:
    ``old_label`` is consumed by the metric below the projection, so the
    checkpointed blocks now carry only (node, label) — one column fewer than
    before.
    """
    pinned, seen = pin_observed(
        df,
        required=True,
        columns=["node", "label"],
        changed=F.count(F.when(F.col("label") != F.col("old_label"), 1)),
    )
    return pinned, int(seen["changed"])


def _components_on_driver(sym: DataFrame) -> DataFrame:
    """Driver lane of :func:`connected_components`: resolve the pinned
    symmetric edge list ``sym`` (columns ``a``, ``b``) on the driver and
    return ``(node, cluster_id)`` as a ``LocalRelation``.

    Only the ``a <= b`` half is collected — ``<=``, not ``<``, so a node
    whose only edge is a self-loop keeps its row. Node ids are mapped to
    their rank in sorted order, so the smallest rank in a component is its
    smallest id. Each pass hooks the larger root of every edge onto the
    smallest root it meets (``parent[hi] = min(parent[hi], lo)``), then
    pointer-jumps
    until every tree is a star. ``parent[x] <= x`` always holds, so a root
    is the minimum of its tree; every pass with an unresolved edge hooks at
    least one root, so the loop ends, and it ends when every edge joins one
    tree — i.e. when each component's root is its minimum id.
    """
    import numpy as np
    import pandas as pd

    spark = sym.sparkSession
    id_type = sym.schema["a"].dataType
    half = sym.filter(F.col("a") <= F.col("b")).toPandas()
    unpin(sym)  # collected: the edge pin is dead weight now
    n_edges = len(half)
    ends = np.concatenate([half["a"].to_numpy(), half["b"].to_numpy()])
    del half  # the ids live on in ``ends``; drop the frame before unique
    nodes, idx = np.unique(ends, return_inverse=True)
    del ends
    ia, ib = idx[:n_edges], idx[n_edges:]
    parent = np.arange(len(nodes))
    while True:
        pa, pb = parent[ia], parent[ib]  # every tree is a star: roots
        if np.array_equal(pa, pb):
            break
        np.minimum.at(parent, np.maximum(pa, pb), np.minimum(pa, pb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    schema = StructType(
        [StructField("node", id_type), StructField("cluster_id", id_type)]
    )
    # Straight from the arrays through the same Arrow path local_frame uses:
    # no per-row Python objects.
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "cluster_id": nodes[parent]}), schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 15,
) -> DataFrame:
    """Connected components of the edge list: returns ``(node, cluster_id)``
    where cluster_id is the smallest node id in the node's connected
    component. Both lanes return that same answer.

    The symmetric edge list is pinned once, and the pin's own action counts
    its rows. If ``rows x 64 bytes`` fits the session's
    ``spark.sql.autoBroadcastJoinThreshold``, the components are resolved
    on the driver (:func:`_components_on_driver`) with no round loop.
    Otherwise min-label propagation with pointer jumping runs as a loop of
    DataFrame rounds, each one checkpointed step:
    1. propagate: label[n] <- min(label[n], min over neighbors' labels) —
       one shuffle-join + one aggregation ("hash-to-min");
    2. pointer-jump: label[n] <- label[label[n]] — one self-join on the
       (small) label table. Labels are always node ids and label[x] <= x, so
       the jump only ever shrinks labels.

    The jump does not collapse chains exponentially: measured with a
    Python model of this loop on chains in random id order, the rounds
    needed grow about linearly with the diameter — chains of diameter 16
    exceed ``max_iter=15`` about 2% of the time, chains of diameter 32 about
    half the time. Graphs within the broadcast budget take the driver lane
    and never iterate.

    The loop stops when a full round changes no label. If it exhausts
    ``max_iter`` while labels are still moving, it raises rather than
    silently returning split (wrong) clusters — a wrong dedup survivor set
    is worse than a failed job.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Materialize the edge list ONCE: the caller's edge pipeline (e.g. the
    # whole shingle→Jaccard join) must not re-execute on every round. The
    # symmetric closure is an explode of [(a,b),(b,a)], NOT a self-union —
    # a union's two branches would each execute the caller's edge DAG inside
    # this one checkpoint action.
    # required=True: lineage truncation is STRUCTURAL for this loop, not an
    # optimization — with pass-through pinning each round's plan would embed
    # the previous round ~3x (neighbor join, propagate join, pointer jump)
    # plus the convergence count, re-executing the caller's whole edge DAG
    # O(3^rounds) times. The 'none' strategy therefore still materializes
    # here (see operators/materialize.py). The row count that picks the
    # lane rides the same action.
    sym, seen = pin_observed(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b"),
        required=True,
        rows=F.count(F.lit(1)),
    )
    budget = parse_spark_bytes(
        sym.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    )
    if budget is not None and 0 < budget and seen["rows"] * _EDGE_BYTES <= budget:
        return _components_on_driver(sym)
    # Identity labels stay LAZY: both round-0 references (the neighbor join
    # and the propagate join) recompute the distinct from SYM'S PINNED BLOCKS
    # inside round 0's single action — two cheap local re-aggregations beat a
    # whole extra eagerly-scheduled job (measured ~0.3-0.5s of pure overhead
    # per query at bench scale).
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def one_round(lbl: DataFrame, jump: bool) -> DataFrame:
        """(node, old_label, label) after one propagate (+ optional pointer
        jump) over ``lbl``. Pointer jump = label-of-label: every label is
        itself a node id, so the self-join always matches. ``jump=False``
        for identity labels, where label[mid] == mid makes the join pure
        cost."""
        neigh_min = (
            sym.join(
                lbl.select(F.col("node").alias("b"), F.col("label").alias("nlabel")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlabel").alias("min_neigh"))
        )
        propagated = lbl.join(
            neigh_min, lbl["node"] == neigh_min["a"], "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("min_neigh"), F.col("label"))
            ).alias("mid_label"),
        )
        if not jump:
            return propagated.select(
                "node", "old_label", F.col("mid_label").alias("label")
            )
        return (
            propagated.join(
                lbl.select(
                    F.col("node").alias("mid_label"), F.col("label").alias("jumped")
                ),
                "mid_label",
            )
            .select(
                "node",
                "old_label",
                F.least(F.col("mid_label"), F.col("jumped")).alias("label"),
            )
        )

    # Rounds 0+1 share ONE action: round 0 (identity labels, jump skipped)
    # is lazily persisted, so its three appearances inside round 1's plan
    # (neighbor join, propagate join, pointer jump) materialize the cache
    # once during round 1's pin instead of paying a separate eagerly-
    # scheduled job — or, without the persist, recomputing round 0 three
    # times (measured: plain lazy fusion is SLOWER than two pins because
    # ReusedExchange does not dedup the three references under AQE).
    # old_label carries round 0's output, so the convergence count —
    # observed DURING the pin action itself, see _pin_step_counting_changes —
    # certifies round 1 changed nothing: near-dup graphs are dense little
    # cliques (diameter 1-3) that converge in round 0, making ONE job the
    # COMMON whole-loop cost (r13: two pins + a count job; r15: the count
    # rides the pin). Later rounds still pin one step at a time, keeping the
    # per-round plan constant-size.
    l1 = one_round(labels, jump=False).select("node", "label").persist()
    step, changed = _pin_step_counting_changes(one_round(l1, jump=True))
    l1.unpersist()  # pinned step is materialized; the cache is dead weight
    converged = False
    for i in range(1, max_iter):
        if changed == 0:
            converged = True
            break
        if i == max_iter - 1:
            break  # cap reached with labels still moving
        prev = step
        step, changed = _pin_step_counting_changes(one_round(step, jump=True))
        # The new step is materialized (eager pin), so the previous round's
        # blocks are unreachable from any live plan — free them NOW instead
        # of leaving a generation of dead storage per round (see
        # materialize.unpin: the GC-released path measurably poisons later
        # queries in the same session and OOMed the sf10 ladder rung).
        unpin(prev)
    if not converged:
        raise ValueError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the component graph has long chains — the loop's rounds "
            "grow about linearly with chain diameter in random id order. "
            "Raise max_iter. (A spark.sql.autoBroadcastJoinThreshold large "
            "enough for the driver lane also avoids the rounds, but that "
            "threshold governs every broadcast join in the session: raising "
            "it lets any join collect relations of that size onto the "
            "driver and executors.)"
        )
    # Only the FINAL step backs the returned frame; the symmetric edge pin —
    # the big one, two rows per input pair — is dead once that step exists.
    unpin(sym)
    return step.select("node", F.col("label").alias("cluster_id"))


def attach_clusters(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Left-join component labels onto the full corpus; docs in no pair get a
    singleton cluster (their own id). The components side is tiny relative to
    the corpus (only duplicated docs), so Spark broadcasts it under AQE."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("__cid")
    )
    return docs.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("__cid"), F.col(id_col))
    ).drop("__cid")


def canonical_survivors(
    clustered: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Pick ONE survivor per duplicate cluster: highest ``quality_col``,
    ties broken by lowest id (deterministic). Emits the survivor row plus the
    cluster size — one window over a shuffle keyed by cluster_id."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        clustered.withColumn("__rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("cluster_id")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def hash_bucket(key: Column, modulus: int = 100) -> Column:
    """Deterministic bucket in [0, modulus) from md5(key) — portable: DuckDB
    ``('0x' || substr(md5(k),1,15))::BIGINT % modulus`` computes the same."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % modulus


def deterministic_sample(
    df: DataFrame, key_col: str, pct: int
) -> DataFrame:
    """Keep ~pct% of rows, chosen by content hash of ``key_col`` — stable
    across runs/engines/partitionings (unlike ``df.sample``)."""
    return df.filter(hash_bucket(F.col(key_col)) < pct)


def stratified_sample(
    df: DataFrame, key_col: str, stratum_col: str, rates: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the 'data mixing' primitive of a
    training pipeline (e.g. keep 80% en, 30% de, downsample the rest). The
    rates map is a literal MAP expression, so no join and no shuffle: the
    filter is evaluated row-local inside the scan stage and pushes the
    stratum column read down to Parquet."""
    pairs = []
    for k, v in sorted(rates.items()):
        pairs += [F.lit(k), F.lit(int(v))]
    rate = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(stratum_col)),
        F.lit(int(default_pct)),
    )
    return df.filter(hash_bucket(F.col(key_col)) < rate)
