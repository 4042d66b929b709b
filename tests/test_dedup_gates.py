"""Dedup operators (D1-D3) and the roster gate (D4), incl. the reference's
fail-open contract and TTL semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark.operators import dedup, gates


def test_keep_first_preserves_first_in_order(spark):
    df = spark.createDataFrame(
        [
            ("k1", 2, "second"),
            ("k1", 1, "first"),
            ("k2", 5, "only"),
        ],
        "key string, seq long, payload string",
    )
    out = dedup.keep_first(df, ["key"], [F.col("seq")]).collect()
    got = {r.key: r.payload for r in out}
    assert got == {"k1": "first", "k2": "only"}


def test_dedup_key_format(spark):
    df = spark.createDataFrame([("ALOWARE", "42")], "src string, eid string")
    r = df.select(dedup.dedup_key(F.col("src"), F.col("eid")).alias("k")).collect()[0]
    assert r.k == "ALOWARE:42"


def test_ledger_gate_drops_seen_keeps_expired(spark):
    now = 1_700_000_000
    events = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "dedup_key string"
    )
    ledger = spark.createDataFrame(
        [
            ("a", dt.datetime(2023, 1, 1), now + 1000),  # live → blocks
            ("b", dt.datetime(2023, 1, 1), now - 1),     # expired → passes
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    out = {r.dedup_key for r in dedup.ledger_gate(events, ledger, now_epoch=now).collect()}
    assert out == {"b", "c"}


def test_ledger_new_entries_ttl(spark):
    seen = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame([("x", seen), ("x", seen)], "dedup_key string, ts timestamp")
    out = dedup.ledger_new_entries(df, F.col("ts"), ttl_days=14).collect()
    assert len(out) == 1  # deduped
    assert out[0].expiresAt == int(seen.timestamp()) + 14 * 86400


def test_ledger_update_atomic_concurrent_writers(spark, tmp_path):
    """Two pipeline runs racing on OVERLAPPING keys must never both mark the
    same pk — the parquet analogue of DynamoDB's conditional write
    (ledger.repo.ts:16-27), serialized by the O_EXCL ledger lock."""
    import threading

    ledger_path = str(tmp_path / "ledger")
    mk = lambda keys: spark.createDataFrame(  # noqa: E731
        [(k, dt.datetime(2024, 1, 15, 12)) for k in keys], "dedup_key string, ts timestamp"
    )
    batches = [mk(["A:1", "A:2", "A:3"]), mk(["A:2", "A:3", "A:4"])]
    survivors: dict[int, list[str]] = {}

    def run(i: int) -> None:
        out = dedup.ledger_update_atomic(
            batches[i], ledger_path, F.col("ts"), now_epoch=1705320000
        )
        survivors[i] = [r.dedup_key for r in out.collect()]

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    ledger = spark.read.parquet(ledger_path)
    pks = [r.pk for r in ledger.collect()]
    assert sorted(pks) == ["A:1", "A:2", "A:3", "A:4"]  # no duplicate pk
    # overlapping keys went to exactly one batch's survivors
    all_surv = survivors[0] + survivors[1]
    assert sorted(all_surv) == ["A:1", "A:2", "A:3", "A:4"]


def test_ledger_lock_released_on_error(spark, tmp_path):
    """A failed cycle must not leave the ledger permanently locked."""
    import os

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import LedgerLock

    path = str(tmp_path / "ledger")
    try:
        with LedgerLock(path):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not os.path.exists(path + ".lock")
    with LedgerLock(path, timeout_sec=1):  # reacquirable immediately
        pass


def test_roster_gate_filters_and_fail_modes(spark):
    events = spark.createDataFrame([("1",), ("2",), ("9",)], "AgentID string")
    roster = spark.createDataFrame([("1",), ("2",)], "AgentID string")
    assert {r.AgentID for r in gates.roster_gate(events, roster).collect()} == {"1", "2"}
    # fetch failure → fail-open passes all (orchestrator.ts:59-61)
    assert gates.roster_gate(events, None, fail_open=True).count() == 3
    assert gates.roster_gate(events, None, fail_open=False).count() == 0


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = dedup.exact_dedup(docs).collect()
    kept = {r.doc_id for r in out}
    assert kept == {1, 3}  # 2 is a normalized dup of 1


def test_minhash_finds_identical_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated text about spark query planning and shuffles"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=2).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_ngram_jaccard_exact_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # shingles: abc bcd cde
            (2, "a b c d x"),   # shingles: abc bcd cdx → inter=2, union=4 → 0.5
            (3, "z z z z z"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert out == {(1, 2): 0.5}


def test_simhash_identical_docs_distance_zero(spark):
    docs = spark.createDataFrame(
        [(1, "spark engine test text"), (2, "spark engine test text"), (3, "zebra xylophone quartz")],
        "doc_id long, text string",
    )
    fps = dedup.simhash_df(docs)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_near_pairs(fps, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0


def test_ledger_update_auto_falls_back_without_merge_catalog(spark, tmp_path):
    """Capability probe: no Delta/Iceberg extension in this session, so
    ledger_update_auto must take the LedgerLock parquet path and still gate
    correctly across two sequential cycles."""
    assert dedup.merge_capable(spark) is False

    ledger_path = str(tmp_path / "ledger")
    mk = lambda keys: spark.createDataFrame(  # noqa: E731
        [(k, dt.datetime(2024, 1, 15, 12)) for k in keys],
        "dedup_key string, ts timestamp",
    )
    out1 = dedup.ledger_update_auto(
        mk(["B:1", "B:2"]), ledger_path, F.col("ts"), now_epoch=1705320000,
        ledger_table="ledger_tbl",  # ignored: catalog can't MERGE
    )
    assert sorted(r.dedup_key for r in out1.collect()) == ["B:1", "B:2"]
    out2 = dedup.ledger_update_auto(
        mk(["B:2", "B:3"]), ledger_path, F.col("ts"), now_epoch=1705320000,
    )
    assert [r.dedup_key for r in out2.collect()] == ["B:3"]


def test_ledger_merge_sql_claim_and_reclaim_branches():
    """The MERGE statement must claim unseen keys, reclaim TTL-expired ones,
    and never touch a live claim (the conditional-write contract,
    ledger.repo.ts:16-27)."""
    sql = dedup.ledger_merge_sql("cat.ledger", "cand", now_epoch=1705320000)
    assert "MERGE INTO cat.ledger" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    assert "l.expiresAt < 1705320000" in sql  # reclaim only when expired
    assert "writer_id" in sql  # claim-then-verify marker


def test_bloom_no_false_negatives_and_sane_fpp(spark):
    """Bloom contract: every inserted key is flagged maybe (NO false
    negatives — this is what makes ledger_gate_bloom exact), and the false-
    positive rate on disjoint keys stays near the design point (64 Kbit / 7
    hashes / 1k keys → well under 5%)."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(1000)], "pk string")
    bitmap = dedup.bloom_build(keys, "pk")
    flagged = dedup.bloom_maybe_flag(keys, bitmap, "pk")
    assert flagged.filter(~F.col("__bloom_maybe")).count() == 0

    other = spark.createDataFrame([(f"X:{i}",) for i in range(2000)], "pk string")
    fp = dedup.bloom_maybe_flag(other, bitmap, "pk").filter(
        F.col("__bloom_maybe")
    ).count()
    assert fp / 2000 < 0.05


def test_bloom_non_word_multiple_bits(spark):
    """num_bits is rounded up to a 64-bit word multiple (a raw 100_000 —
    what the sizing formula actually yields — used to IndexError), and the
    probe side derives its modulus from the bitmap length so build and test
    always agree."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(500)], "pk string")
    bitmap = dedup.bloom_build(keys, "pk", num_bits=100_000)
    assert len(bitmap) == (100_000 + 63) // 64
    flagged = dedup.bloom_maybe_flag(keys, bitmap, "pk")
    assert flagged.filter(~F.col("__bloom_maybe")).count() == 0


def test_bloom_oversized_bitmap_raises_loudly(spark):
    """Sizings past MAX_BLOOM_LITERAL_BITS must fail with guidance instead
    of hanging plan construction on a multi-hundred-MB literal (the 100 TB
    ledger sizing the build formula yields, ~10^9 bits, is deliberately out
    of literal-embedding range)."""
    import pytest

    keys = spark.createDataFrame([("K:1",)], "pk string")
    too_big = [0] * ((dedup.MAX_BLOOM_LITERAL_BITS // 64) + 1)
    with pytest.raises(ValueError, match="ledger_gate anti-join"):
        dedup.bloom_maybe_flag(keys, too_big, "pk")


def test_ledger_gate_bloom_equals_exact_gate(spark):
    """The Bloom pre-gate must be a pure scan-reduction: its survivors are
    row-identical to the exact anti-join gate, including expired-entry
    readmission."""
    events = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 15, 12)) for i in range(200)],
        "dedup_key string, ts timestamp",
    )
    now = 1705320000
    ledger = spark.createDataFrame(
        # E:0..49 live, E:50..59 expired (must NOT block)
        [(f"E:{i}", dt.datetime(2024, 1, 10), now + 1000) for i in range(50)]
        + [(f"E:{i}", dt.datetime(2023, 12, 1), now - 1000) for i in range(50, 60)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    exact = {
        r.dedup_key
        for r in dedup.ledger_gate(events, ledger, now_epoch=now).collect()
    }
    bloomed = {
        r.dedup_key
        for r in dedup.ledger_gate_bloom(events, ledger, now_epoch=now).collect()
    }
    assert bloomed == exact
    assert len(exact) == 150  # 200 − 50 live
    # probe="bucketed" forces the word-table path BELOW the literal guard
    # (the huge-probe-volume caller's knob) — same survivors exactly.
    forced = {
        r.dedup_key
        for r in dedup.ledger_gate_bloom(
            events, ledger, now_epoch=now, probe="bucketed"
        ).collect()
    }
    assert forced == exact
    import pytest

    with pytest.raises(ValueError, match="probe"):
        dedup.ledger_gate_bloom(events, ledger, now_epoch=now, probe="literal?")


def test_bloom_bucketed_probe_matches_literal_probe(spark):
    """The distributed word-table probe (bloom_maybe_flag_bucketed) is the
    literal probe's beyond-guard twin: identical hashing → identical flags
    on every row of the same filter, no false negatives, row multiplicity
    preserved through the k 1:≤1 left joins, scratch columns dropped."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(800)], "pk string")
    nbits = 100_000
    bitmap = dedup.bloom_build(keys, "pk", num_bits=nbits)
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    probe = spark.createDataFrame(
        [(f"K:{i}",) for i in range(400)]
        + [(f"X:{i}",) for i in range(1200)]
        + [("K:7",), ("K:7",)],  # duplicate rows must stay duplicated
        "pk string",
    )
    lit = sorted(
        (r.pk, r["__bloom_maybe"])
        for r in dedup.bloom_maybe_flag(probe, bitmap, "pk").collect()
    )
    buck = sorted(
        (r.pk, r["__bloom_maybe"])
        for r in dedup.bloom_maybe_flag_bucketed(
            probe, words, nbits, "pk"
        ).collect()
    )
    assert buck == lit
    assert len(buck) == probe.count()
    ins = dedup.bloom_maybe_flag_bucketed(keys, words, nbits, "pk")
    assert ins.filter(~F.col("__bloom_maybe")).count() == 0
    assert set(ins.columns) == {"pk", "__bloom_maybe"}


def test_bloom_bucketed_probe_stays_map_side(spark):
    """The probed side must not shuffle: every word-table probe is a
    BroadcastHashJoin (the word table carries an explicit broadcast hint,
    so this holds regardless of its post-shuffle size estimate)."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(100)], "pk string")
    words = dedup.bloom_words(keys, "pk", num_bits=1 << 12)
    probe = spark.createDataFrame([(f"K:{i}",) for i in range(50)], "pk string")
    out = dedup.bloom_maybe_flag_bucketed(
        probe, words, 1 << 12, "pk", num_hashes=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_bucketed_probe_single_broadcast_materialization(spark):
    """The k probe joins must materialize the word-table broadcast ONCE —
    the other k−1 joins read it through ReusedExchange (AQE exchange reuse
    on the canonically-equal broadcast subplans). Broadcast traffic is
    therefore 1× the word table regardless of num_hashes; executed-plan
    evidence, not an assumption. Also: exactly one shuffle stage total (the
    word-table bit_or aggregation) — the probed events never shuffle."""
    import re

    keys = spark.createDataFrame([(f"K:{i}",) for i in range(500)], "pk string")
    nbits = 1 << 14
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    probe = spark.createDataFrame([(f"K:{i}",) for i in range(1000)], "pk string")
    k = 7
    out = dedup.bloom_maybe_flag_bucketed(probe, words, nbits, "pk", num_hashes=k)
    out.collect()  # AQE: reuse is decided at runtime; audit the FINAL plan
    # VERSION-SENSITIVITY NOTE (tools/plan_audit.py lesson): under AQE a
    # DataFrame's own queryExecution().executedPlan() is a DERIVED execution
    # — .collect() runs its own QueryExecution. This works here because the
    # collect-first ordering populates the AQE final plan on this exact
    # QueryExecution and the "== Initial Plan ==" split drops the pre-reuse
    # text, and it passes on Spark 4.1 — but the toString layout is not a
    # stable API across minor versions. If this assertion ever breaks on a
    # Spark upgrade, port it to the UI REST SQL endpoint's final executed
    # plan (the approach tools/plan_audit.py and probe_weak_scaling.py
    # already use), which reports the plan that actually ran.
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]  # drop the pre-reuse initial plan
    )
    reused_broadcasts = len(
        re.findall(r"ReusedExchange \[[^\]]*\], BroadcastExchange", plan)
    )
    real_broadcasts = len(
        [
            ln
            for ln in plan.splitlines()
            if "BroadcastExchange" in ln and "ReusedExchange" not in ln
        ]
    )
    assert real_broadcasts == 1, plan
    assert reused_broadcasts == k - 1, plan
    shuffle_stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
    assert len(shuffle_stages) == 1, plan


def test_bloom_exploded_counterfactual_matches_bucketed(spark):
    """_bloom_maybe_exploded (the rejected explode→join→re-aggregate shape,
    kept for the measured comparison) must agree flag-for-flag with the
    production probe, duplicates preserved — and its plan must contain the
    event-scale re-aggregation shuffle the production shape avoids, which
    is exactly WHY it is the counterfactual."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(300)], "pk string")
    nbits = 1 << 13
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    probe = spark.createDataFrame(
        [(f"K:{i}",) for i in range(150)]
        + [(f"Z:{i}",) for i in range(400)]
        + [("K:3",), ("K:3",)],
        "pk string",
    )
    buck = sorted(
        (r.pk, r["__bloom_maybe"])
        for r in dedup.bloom_maybe_flag_bucketed(probe, words, nbits, "pk").collect()
    )
    expl = sorted(
        (r.pk, r["__bloom_maybe"])
        for r in dedup._bloom_maybe_exploded(probe, words, nbits, "pk").collect()
    )
    assert expl == buck
    assert len(expl) == probe.count()
    plan = (
        dedup._bloom_maybe_exploded(probe, words, nbits, "pk")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(__brow" in plan  # the shuffle the prod shape lacks


def test_ledger_gate_bloom_beyond_guard_dispatches_and_matches(
    spark, monkeypatch
):
    """Past MAX_BLOOM_LITERAL_BITS the gate must NOT raise: it dispatches to
    the word-table probe and stays row-identical to the exact gate,
    including expired-entry readmission (guard shrunk so the dispatch
    branch runs without building a 67-Mbit bitmap)."""
    monkeypatch.setattr(dedup, "MAX_BLOOM_LITERAL_BITS", 1 << 10)
    events = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 15, 12)) for i in range(200)],
        "dedup_key string, ts timestamp",
    )
    now = 1705320000
    ledger = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 10), now + 1000) for i in range(50)]
        + [
            (f"E:{i}", dt.datetime(2023, 12, 1), now - 1000)
            for i in range(50, 60)
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    exact = {
        r.dedup_key
        for r in dedup.ledger_gate(events, ledger, now_epoch=now).collect()
    }
    bloomed = {
        r.dedup_key
        for r in dedup.ledger_gate_bloom(
            events, ledger, now_epoch=now, num_bits=1 << 16
        ).collect()
    }
    assert bloomed == exact
    assert len(exact) == 150


def test_bloom_bucketed_probe_preserves_caller_w_bits_columns(spark):
    """Regression (r9 ADVICE): the word-table probe's scratch columns were
    briefly bare `w`/`bits`, so a caller df with its own `w` column lost it
    silently and a caller `bits` column failed analysis. The probe must
    treat those as ordinary user columns: values intact, flags unchanged."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(100)], "pk string")
    nbits = 1 << 13
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    probe = spark.createDataFrame(
        [(f"K:{i}", i, i * 10) for i in range(50)]
        + [(f"Z:{i}", -i, -i * 10) for i in range(50)],
        "pk string, w int, bits long",
    )
    out = dedup.bloom_maybe_flag_bucketed(probe, words, nbits, "pk").collect()
    assert len(out) == 100
    for r in out:
        # caller columns survive with their values
        if r.pk.startswith("K:"):
            i = int(r.pk[2:])
            assert (r.w, r.bits) == (i, i * 10)
            assert r["__bloom_maybe"] is True  # member keys always flag
        else:
            i = int(r.pk[2:])
            assert (r.w, r.bits) == (-i, -i * 10)


def test_ledger_gate_bloom_probe_auto_dispatches_on_volume(
    spark, monkeypatch, tmp_path
):
    """probe="auto" must pick the encoding from the PROBE VOLUME, not only
    the bitmap size: a small in-memory batch keeps the zero-join literal
    probe; a file-backed events side whose Catalyst input-size estimate
    exceeds AUTO_BUCKETED_PROBE_BYTES dispatches to the word-table probe
    even though the bitmap fits the plan literal. (Threshold shrunk so the
    dispatch runs on test-sized data; the threshold VALUE itself comes from
    the sf100 literal-vs-bucketed measurement in SCALE_LADDER.json.)"""
    calls: list[str] = []
    real_bucketed = dedup.bloom_maybe_flag_bucketed
    real_literal = dedup.bloom_maybe_flag

    def spy_bucketed(*a, **kw):
        calls.append("bucketed")
        return real_bucketed(*a, **kw)

    def spy_literal(*a, **kw):
        calls.append("literal")
        return real_literal(*a, **kw)

    monkeypatch.setattr(dedup, "bloom_maybe_flag_bucketed", spy_bucketed)
    monkeypatch.setattr(dedup, "bloom_maybe_flag", spy_literal)

    now = 1705320000
    events = spark.createDataFrame(
        [(f"E:{i}",) for i in range(100)], "dedup_key string"
    )
    ledger = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 10), now + 1000) for i in range(30)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    # small probe volume, small filter -> literal
    out = dedup.ledger_gate_bloom(events, ledger, now_epoch=now, probe="auto")
    assert out.count() == 70
    assert calls == ["literal"]

    # file-backed events past the (shrunk) volume threshold -> bucketed
    calls.clear()
    pq = str(tmp_path / "events_pq")
    events.write.parquet(pq)
    big = spark.read.parquet(pq)
    est = dedup.probe_volume_estimate(big)
    assert est is not None and est > 0  # parquet scans are sizeable
    monkeypatch.setattr(dedup, "AUTO_BUCKETED_PROBE_BYTES", est - 1)
    out2 = dedup.ledger_gate_bloom(big, ledger, now_epoch=now, probe="auto")
    assert out2.count() == 70
    assert calls == ["bucketed"]


def test_ledger_gate_bloom_probe_literal_forced_and_guarded(
    spark, monkeypatch
):
    """probe="literal" forces the plan-literal encoding regardless of the
    volume heuristic, but must still refuse sizings past
    MAX_BLOOM_LITERAL_BITS — that guard protects the driver (the literal
    ships the whole bitmap in the serialized plan), not performance."""
    import pytest

    now = 1705320000
    events = spark.createDataFrame(
        [(f"E:{i}",) for i in range(50)], "dedup_key string"
    )
    ledger = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 10), now + 1000) for i in range(10)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    # forcing literal under a tiny volume threshold must NOT dispatch bucketed
    monkeypatch.setattr(dedup, "AUTO_BUCKETED_PROBE_BYTES", 0)
    out = dedup.ledger_gate_bloom(events, ledger, now_epoch=now, probe="literal")
    assert out.count() == 40
    monkeypatch.setattr(dedup, "MAX_BLOOM_LITERAL_BITS", 1 << 10)
    with pytest.raises(ValueError, match="MAX_BLOOM_LITERAL_BITS"):
        dedup.ledger_gate_bloom(
            events, ledger, now_epoch=now, num_bits=1 << 16, probe="literal"
        )


def test_ledger_gate_bloom_accepts_precomputed_live(spark):
    """The streaming sink materializes the TTL-filtered live key set once
    per micro-batch (sizing count); passing it through `live=` must yield
    the exact same survivors as the internal ledger scan — including NOT
    re-applying the TTL filter (the caller already did)."""
    now = 1705320000
    events = spark.createDataFrame(
        [(f"E:{i}",) for i in range(100)], "dedup_key string"
    )
    ledger = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 10), now + 1000) for i in range(30)]
        + [(f"E:{i}", dt.datetime(2023, 12, 1), now - 1000) for i in range(30, 40)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    internal = {
        r.dedup_key
        for r in dedup.ledger_gate_bloom(events, ledger, now_epoch=now).collect()
    }
    live = ledger.filter(F.col("expiresAt") >= F.lit(now)).select(
        F.col("pk").alias("dedup_key")
    )
    passed = {
        r.dedup_key
        for r in dedup.ledger_gate_bloom(
            events, ledger, now_epoch=now, live=live
        ).collect()
    }
    assert passed == internal
    assert len(passed) == 70  # expired 30-39 readmitted


def test_merge_capable_rejects_non_merge_table_provider(spark, tmp_path):
    """The probe must sniff the TARGET TABLE's provider, not just session
    extensions: a parquet-provider table in a Delta-extended session fails at
    MERGE time, so merge_capable(table) must be False for it. (No delta jar
    ships in this sandbox, so the extension leg is exercised as
    False-everywhere and the provider leg is tested directly.)"""
    # lands in the session's default warehouse (spark-warehouse/, gitignored;
    # the warehouse dir is a static conf and can't be pointed at tmp_path)
    spark.createDataFrame([(1, "a")], "pk long, v string").write.mode(
        "overwrite"
    ).saveAsTable("probe_parquet_tbl")
    try:
        assert dedup.table_provider(spark, "probe_parquet_tbl") == "parquet"
        assert dedup.table_provider(spark, "no_such_table_xyz") == ""
        # parquet provider → not MERGE-capable even if the extension were live
        assert dedup.merge_capable(spark, "probe_parquet_tbl") is False
        assert dedup.merge_capable(spark, "no_such_table_xyz") is False
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_parquet_tbl")


def test_ledger_crash_between_gate_and_append(spark, tmp_path):
    """Crash injection: writer 1 dies holding the lock BEFORE appending its
    keys (simulated by an acquired-never-released lock). Writer 2 must break
    the stale lock after stale_sec and complete a consistent cycle."""
    import os
    import time as _time

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import LedgerLock

    ledger_path = str(tmp_path / "ledger")
    # Writer 1 "dies": lock file exists, no ledger rows were appended.
    dead = LedgerLock(ledger_path)
    dead.__enter__()
    assert os.path.exists(ledger_path + ".lock")
    # Age the lock file past writer 2's staleness threshold.
    old = _time.time() - 10
    os.utime(ledger_path + ".lock", (old, old))

    events = spark.createDataFrame(
        [("C:1", dt.datetime(2024, 1, 15, 12)), ("C:2", dt.datetime(2024, 1, 15, 12))],
        "dedup_key string, ts timestamp",
    )
    with_lock = dedup.LedgerLock(ledger_path, timeout_sec=5, stale_sec=5)
    # ledger_update_atomic constructs its own lock; patch staleness via a
    # short-stale subclassed call path: emulate by breaking stale lock first.
    with with_lock:
        pass  # stale lock broken and cleanly released
    out = dedup.ledger_update_atomic(
        events, ledger_path, F.col("ts"), now_epoch=1705320000
    )
    assert sorted(r.dedup_key for r in out.collect()) == ["C:1", "C:2"]
    ledger = spark.read.parquet(ledger_path)
    assert sorted(r.pk for r in ledger.collect()) == ["C:1", "C:2"]


def test_ledger_crash_after_append_before_unlock(spark, tmp_path):
    """Crash injection: writer 1 dies AFTER appending but before releasing
    the lock. Its marks must stand; writer 2 breaks the stale lock and its
    overlapping keys are gated out (no double-mark)."""
    import os
    import time as _time

    ledger_path = str(tmp_path / "ledger")
    events1 = spark.createDataFrame(
        [("D:1", dt.datetime(2024, 1, 15, 12))], "dedup_key string, ts timestamp"
    )
    out1 = dedup.ledger_update_atomic(
        events1, ledger_path, F.col("ts"), now_epoch=1705320000
    )
    assert [r.dedup_key for r in out1.collect()] == ["D:1"]
    # Re-create writer 1's lock as if it died post-append, and age it stale.
    lock_path = ledger_path + ".lock"
    with open(lock_path, "w") as fh:
        fh.write("dead-writer")
    old = _time.time() - 400  # > default stale_sec (300)
    os.utime(lock_path, (old, old))

    events2 = spark.createDataFrame(
        [("D:1", dt.datetime(2024, 1, 15, 13)), ("D:2", dt.datetime(2024, 1, 15, 13))],
        "dedup_key string, ts timestamp",
    )
    out2 = dedup.ledger_update_atomic(
        events2, ledger_path, F.col("ts"), now_epoch=1705320000
    )
    assert [r.dedup_key for r in out2.collect()] == ["D:2"]  # D:1 gated
    ledger = spark.read.parquet(ledger_path)
    assert sorted(r.pk for r in ledger.collect()) == ["D:1", "D:2"]


def test_bloom_probe_is_single_binary_literal_not_row_data(spark):
    """Pin the probe ENCODING, not just its results — both measured
    regressions (bloom_maybe_flag docstring): the bitmap carried as a
    per-row column (every projection memcpys it per row), and a hex STRING
    literal (character-indexed substring walks the literal per probe,
    O(bitmap)). The plan must add only the flag column, reference the
    bitmap as one BINARY literal (plan text shows 0x…, no quoted hex blob),
    and never materialize a helper column."""
    df = spark.createDataFrame([(f"K:{i}",) for i in range(10)], "pk string")
    bitmap = dedup.bloom_build(df, "pk", num_bits=1 << 12)
    flagged = dedup.bloom_maybe_flag(df, bitmap, "pk")
    assert set(flagged.columns) == {"pk", "__bloom_maybe"}

    plan = flagged._jdf.queryExecution().optimizedPlan().toString()
    assert "__bloom_hex" not in plan and "__bpos" not in plan
    assert "0X" in plan.upper(), "bitmap should appear as a binary literal"
    packed_hex = b"".join(
        (int(w) & ((1 << 64) - 1)).to_bytes(8, "little") for w in bitmap
    ).hex().upper()
    assert f"'{packed_hex}'" not in plan.upper(), (
        "bitmap must not appear as a quoted STRING literal (char-indexed "
        "substring is O(bitmap) per probe)"
    )


def test_anti_join_small_left_parity_and_plan(spark):
    """anti_join_small_left == plain left-anti on every overlap shape
    (incl. null keys and duplicate right keys), and its plan never
    sort-merge-shuffles or hash-builds the BIG side: both joins are
    BroadcastHashJoin with small-side builds, and nothing else exchanges."""
    left = spark.createDataFrame(
        [("a",), ("b",), ("x",), (None,)], "k string"
    )
    right = spark.createDataFrame(
        [("a",), ("a",), ("c",), ("d",), (None,)], "k string"
    )
    plain = {r.k for r in left.join(right, "k", "left_anti").collect()}
    inverted = {
        r.k for r in dedup.anti_join_small_left(left, right, "k").collect()
    }
    # null keys match nothing in an anti-join -> kept in both shapes
    assert inverted == plain == {"b", "x", None}

    big = spark.range(200_000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("k")
    )
    small = spark.createDataFrame(
        [("pk-5",), ("pk-99999",), ("novel-1",)], "k string"
    )
    out = dedup.anti_join_small_left(small, big, "k")
    assert {r.k for r in out.collect()} == {"novel-1"}
    # AQE prints Final + Initial plan sections; judge the final one
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # shuffle-free: the only exchanges are the two broadcasts (duplicate
    # build keys change neither broadcast join, so no dropDuplicates)
    assert plan.count("Exchange") == plan.count("BroadcastExchange") == 2


def test_batch_ledger_gate_auto_inverts_in_flip_regime(spark, tmp_path):
    """Directive r13-3: the BATCH gate (ledger_gate, and through it
    ledger_update_atomic) routes through the same flip-regime selector as
    the streaming sink. Against a ledger whose plan estimate lands under
    the broadcast threshold while being the larger side, the executed
    plan must be the inverted shape (two small-side broadcasts, the
    ledger never hash-built as an anti-join build side); against a ledger
    SMALLER than the events side, the plain anti-join stands."""
    import datetime as dt

    now = int(dt.datetime(2024, 1, 20, tzinfo=dt.timezone.utc).timestamp())
    # 1M-key parquet ledger, well above the 3-row events side; the
    # session threshold is set to 64MB for this block so the ledger sits
    # in the flip window [INVERTED_GATE_MIN_LIVE_BYTES, threshold] — the
    # measured floor keeps small ledgers (under ~2.5 MiB, e.g. a 50k-key
    # one) on the plain shape, where building their hash is cheaper.
    ledger_path = str(tmp_path / "ledger")
    spark.range(1_000_000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("pk"),
        F.timestamp_seconds(F.lit(now - 3600)).alias("seenAt"),
        F.lit(now + 86400).cast("long").alias("expiresAt"),
    ).write.parquet(ledger_path)
    ledger = spark.read.parquet(ledger_path)
    # parquet-backed events so Catalyst can size the small side (a
    # Python-built LogicalRDD has no stats -> the selector would keep the
    # plain shape by design)
    events_path = str(tmp_path / "events")
    spark.createDataFrame(
        [("pk-5",), ("pk-999999",), ("novel-1",)], "dedup_key string"
    ).coalesce(1).write.parquet(events_path)
    events = spark.read.parquet(events_path)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
    try:
        assert dedup.probe_volume_estimate(ledger) >= dedup.INVERTED_GATE_MIN_LIVE_BYTES
        out = dedup.ledger_gate(events, ledger, now_epoch=now)
        assert {r.dedup_key for r in out.collect()} == {"novel-1"}
        plan = (
            out._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2, plan

    # outside the flip regime (ledger smaller than events): plain shape
    tiny_path = str(tmp_path / "tiny_ledger")
    spark.createDataFrame(
        [("pk-5", dt.datetime(2024, 1, 19), now + 86400)],
        "pk string, seenAt timestamp, expiresAt long",
    ).write.parquet(tiny_path)
    tiny = spark.read.parquet(tiny_path)
    big_events = spark.range(100_000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("dedup_key")
    )
    out2 = dedup.ledger_gate(big_events, tiny, now_epoch=now)
    plan2 = (
        out2._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan2.count("BroadcastHashJoin") == 1, plan2
    assert out2.count() == 100_000 - 1


def test_is_broadcast_flip_regime_boundaries():
    """The flip-regime predicate (when the streaming sink swaps the plain
    anti-join for anti_join_small_left) fires exactly when the planner
    would hash-build the BIG side of a left-anti join: big estimate under
    the threshold but above the small estimate, small side broadcastable.
    Unknown estimates are never the flip regime."""
    T = 64 << 20
    flip = dedup.is_broadcast_flip_regime
    assert flip(1 << 20, 55 << 20, T)           # the measured r13 case
    assert not flip(1 << 20, 80 << 20, T)       # big above threshold -> SMJ
    assert not flip(55 << 20, 1 << 20, T)       # big side SMALLER: planner
    assert not flip(T, T, T) is True or not flip(T, T, T)  # equal: not flip
    assert not flip(None, 55 << 20, T)          # unsized small
    assert not flip(1 << 20, None, T)           # unsized big
    assert not flip(1 << 20, 55 << 20, None)    # unparsable threshold conf
    assert not flip(1 << 20, 55 << 20, -1)      # broadcast disabled (-1)
    assert flip(T, T + 1 - 1, T) is False       # big == small == threshold
    assert flip(T - 1, T, T)                    # boundary: big at threshold
    # the measured floor (SCALE_LADDER.json small_batch_gate *_shuffle_free
    # cells: plain wins at 10k and 100k live keys, ties at 500k / 2.84 MB,
    # loses at 2M): below it building the ledger's hash beats the inverted
    # shape's second broadcast. It replaced the r14 half-threshold floor,
    # which was priced against the shuffle-ful inverted shape.
    floor = dedup.INVERTED_GATE_MIN_LIVE_BYTES
    assert not flip(10 << 10, 150 << 10, T)     # 150KB ledger: under the floor
    assert flip(1 << 20, 32 << 20, T)           # half the threshold
    assert flip(1 << 20, (32 << 20) - 1, T)     # ...and just under it
    assert flip(10 << 10, floor, T)             # exactly at the floor
    assert not flip(10 << 10, floor - 1, T)     # just under the floor
