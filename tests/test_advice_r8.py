"""Regression tests for the five round-7 ADVICE findings (one per
test group, in severity order):

1. (high) ``commit_change_rows`` re-emitted already-dead rows as
   spurious deletes when a commit REMOVED a deletion-vectored file
   (MOR delete killing a holed file, CoW rewrite of a holed straddler,
   restore) — a follower applying the feed could delete a re-inserted
   live key.  Fix: removed files load minus their PRIOR DV; added
   files load minus any DV the commit attaches (restore re-adding a
   holed file); a restore that CLEARS a DV emits the resurrected rows
   as inserts.
2. (medium) the feed reader's first ``latestOffset()``
   after a restart capped from ``start_version`` and could return an
   offset BELOW the checkpointed one; a second restart from that
   regressed offset re-delivered versions.  Fix: until the engine
   reveals the real base (initialOffset or a partitions() call) the
   reader returns the uncapped table version.
3. (low) two concurrent ADD CONSTRAINTs serialized through
   last-writer-wins ``set-properties`` and silently lost one.  Fix:
   property commits abort-and-retry against intervening property
   commits, re-deriving the nested merge from fresh state.
4. (low) ``version_as_of``'s mtime fallback called ``os.path.getmtime``
   directly and SILENTLY SKIPPED ts-less commits on a non-POSIX store.
   Fix: the fallback routes through ``LogStore.mtime`` and raises a
   typed IOError when the store records no times.
5. (low) a feed column matching neither a current logical nor any
   physical name (double-rename) silently read as all-NULL.  Fix:
   typed ValueError naming the column and the current names.
"""

from __future__ import annotations

import json
import time

import pytest

from event_streaming_toy_example_spark.operators import txtable as tx
from event_streaming_toy_example_spark.operators.logstore import (
    InMemoryLogStore,
    register_log_store,
    unregister_log_store,
)


def _df(spark, rows, schema="k int, ts int, v string"):
    return spark.createDataFrame(rows, schema)


def _rows(n):
    return [(i, 1, f"r{i}") for i in range(n)]


def _feed(path, version, content=("v",)):
    return tx.commit_change_rows(path, version, ["k"], list(content))


# ------------------------------------------------------------------ 1


def test_feed_mor_kill_of_holed_file_does_not_reemit_dead_rows(
    spark, tmp_path
):
    """MOR delete punches holes (v2), a second MOR delete kills every
    remaining live row so the file drops WHOLE (v3).  v3's feed must
    emit deletes for the rows live at v2 only — never re-emit v2's."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    v3 = tx.tx_delete(spark, p, [("k", ">=", 0)], merge_on_read=True)
    # the fully-dead file left the snapshot whole
    c = tx.read_log(p)[-1]
    assert c.remove and not c.add
    changes = _feed(p, v3)
    assert all(row[-2] == "delete" for row in changes)
    assert sorted(row[0] for row in changes) == list(range(3, 10))


def test_feed_cow_rewrite_of_holed_straddler_does_not_reemit(
    spark, tmp_path
):
    """A CoW delete rewriting a DV-carrying file removes the holed file
    and adds its survivors; the feed diff must take the OLD side minus
    the prior DV, else rows 0..2 re-emit as deletes."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    v3 = tx.tx_delete(spark, p, [("k", "=", 5)])  # copy-on-write
    changes = _feed(p, v3)
    assert changes == [(5, "r5", "delete", v3)]


def test_feed_after_holed_file_kill_never_deletes_a_reinserted_key(
    spark, tmp_path
):
    """The replica-divergence scenario from the finding: key 1 is
    MOR-deleted (v2), re-inserted into ANOTHER file (v3), then the
    holed file is removed by a CoW delete of a different key (v4).
    v4's feed must not carry a delete for key 1."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "=", 1)], merge_on_read=True)
    tx.tx_upsert(
        spark, p, _df(spark, [(1, 2, "r1-back")]), keys=["k"],
        order_by=["ts"],
    )
    v4 = tx.tx_delete(spark, p, [("k", "=", 7)])
    changes = _feed(p, v4)
    assert all(row[0] != 1 for row in changes), changes
    assert (7, "r7", "delete", v4) in changes


def test_feed_restore_clearing_a_dv_emits_resurrected_rows_as_inserts(
    spark, tmp_path
):
    """RESTORE to a pre-MOR-delete version clears the file's DV: the
    rows coming back to life must feed as inserts (a follower applying
    the feed re-inserts them), not vanish silently."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    v3 = tx.tx_restore(p, 1)
    changes = _feed(p, v3)
    assert sorted(changes) == [
        (k, f"r{k}", "insert", v3) for k in range(3)
    ]


def test_feed_restore_readding_a_holed_file_applies_its_dv(
    spark, tmp_path
):
    """RESTORE back to a holed version re-adds files WITH their DVs:
    the dead positions must not feed as inserts."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)  # v2
    tx.tx_delete(spark, p, [("k", ">=", 0)], merge_on_read=True)  # v3
    v4 = tx.tx_restore(p, 2)  # re-adds the file, DV = {0,1,2}
    changes = _feed(p, v4)
    assert sorted(changes) == [
        (k, f"r{k}", "insert", v4) for k in range(3, 10)
    ]


# ------------------------------------------------------------------ 2


def _mk_table(spark, tmp_path, versions=6):
    p = str(tmp_path / "src")
    for i in range(versions):
        tx.tx_append(_df(spark, [(i, 1, f"r{i}")]).coalesce(1), p)
    return p


def test_dist_feed_restart_cap_bases_on_the_recovery_replan(
    spark, tmp_path
):
    """ADVICE r7 resolution, unit form.  The microbatch engine's FIRST
    call on a restarted instance is the recovery re-plan
    ``partitions(committed, committed)`` (pinned end-to-end below) —
    the cap's base is the checkpointed offset before any latestOffset
    computes, so the capped offset can never regress below one the
    engine recorded."""
    from event_streaming_toy_example_spark.sources.txfeed import (
        TxFeedStreamReader,
    )

    p = _mk_table(spark, tmp_path, versions=6)
    opts = {
        "path": p, "keys": "k", "contentcols": "v",
        "maxversionsperbatch": "2",
    }
    # restarted instance, checkpointed offset 5: recovery re-plan first
    restarted = TxFeedStreamReader(dict(opts))
    assert restarted.partitions({"version": 5}, {"version": 5}) == []
    # capped latestOffset now bases on 5, never below it
    assert restarted.latestOffset() == {"version": 6}
    tx.tx_append(_df(spark, [(98, 1, "x")]).coalesce(1), p)  # v7
    tx.tx_append(_df(spark, [(99, 1, "y")]).coalesce(1), p)  # v8
    assert restarted.latestOffset() == {"version": 8}  # min(8, 6+2)
    # an uncommitted-batch restart re-plans (4, 6]: delivered once,
    # floor advances, a re-plan of the same range is empty
    restarted2 = TxFeedStreamReader(dict(opts))
    parts = restarted2.partitions({"version": 4}, {"version": 6})
    assert [q.version for q in parts] == [5, 6]
    assert restarted2.partitions({"version": 4}, {"version": 6}) == []
    # fresh query: latestOffset arrives BEFORE initialOffset (the
    # engine's actual order) and must still self-cap from the start
    fresh = TxFeedStreamReader(dict(opts))
    assert fresh.latestOffset() == {"version": 2}
    assert fresh.initialOffset() == {"version": 0}


def test_dist_feed_double_restart_never_redelivers_e2e(spark, tmp_path):
    """ADVICE r7 resolution, end-to-end: a capped change feed is
    run, RESTARTED on the same checkpoint after new commits (twice),
    and every version must be delivered exactly once across all three
    query incarnations — the redelivery scenario the finding feared is
    unreachable because the engine reveals the checkpointed offset via
    the recovery re-plan before the first capped latestOffset."""
    from event_streaming_toy_example_spark.sources import txfeed

    p = _mk_table(spark, tmp_path, versions=6)
    delivered: list[int] = []

    def sink(batch_df, batch_id):
        delivered.extend(r["version"] for r in batch_df.collect())

    def run():
        q = (
            txfeed.read_change_feed_stream(
                spark, p, ["k"], ["v"], max_versions_per_batch=2
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination(60)

    run()
    assert sorted(delivered) == list(range(1, 7))
    tx.tx_append(_df(spark, [(98, 1, "x")]).coalesce(1), p)  # v7
    run()  # restart 1
    assert sorted(delivered) == list(range(1, 8)), delivered
    tx.tx_append(_df(spark, [(99, 1, "y")]).coalesce(1), p)  # v8
    tx.tx_append(_df(spark, [(97, 1, "z")]).coalesce(1), p)  # v9
    run()  # restart 2
    assert sorted(delivered) == list(range(1, 10)), delivered


# ------------------------------------------------------------------ 3


def test_concurrent_add_constraints_both_survive(spark, tmp_path):
    """Two ADD CONSTRAINTs racing at the exact put-if-absent step: the
    loser must re-derive its merge against the winner's result — the
    final table carries BOTH constraints."""
    prefix = str(tmp_path / "mem")
    store = InMemoryLogStore()
    register_log_store(prefix, store)
    try:
        p = f"{prefix}/t"
        tx.tx_append(_df(spark, _rows(5)), p)
        fired = {"done": False}

        def hook(path: str) -> None:
            if not fired["done"] and ".json" in path:
                fired["done"] = True
                tx.tx_add_constraint(spark, p, "v_set", "v is not null")

        store.before_put = hook
        try:
            tx.tx_add_constraint(spark, p, "k_pos", "k >= 0")
        finally:
            store.before_put = None
        cons = tx.table_properties(p)["__constraints"]
        assert set(cons) == {"v_set", "k_pos"}, cons
    finally:
        unregister_log_store(prefix)


def test_add_racing_drop_constraint_resolves_to_both_intents(
    spark, tmp_path
):
    prefix = str(tmp_path / "mem2")
    store = InMemoryLogStore()
    register_log_store(prefix, store)
    try:
        p = f"{prefix}/t"
        tx.tx_append(_df(spark, _rows(5)), p)
        tx.tx_add_constraint(spark, p, "k_pos", "k >= 0")
        fired = {"done": False}

        def hook(path: str) -> None:
            if not fired["done"] and ".json" in path:
                fired["done"] = True
                tx.tx_drop_constraint(p, "k_pos")

        store.before_put = hook
        try:
            tx.tx_add_constraint(spark, p, "v_set", "v is not null")
        finally:
            store.before_put = None
        cons = tx.table_properties(p).get("__constraints") or {}
        assert set(cons) == {"v_set"}, cons
    finally:
        unregister_log_store(prefix)


# ------------------------------------------------------------------ 4


def test_version_as_of_ts_less_commit_on_non_posix_store_is_typed(
    spark, tmp_path
):
    prefix = str(tmp_path / "mem3")
    store = InMemoryLogStore()
    register_log_store(prefix, store)
    try:
        p = f"{prefix}/t"
        schema = json.dumps({"type": "struct", "fields": []})
        tx.commit(p, "append", ["data/f0.parquet"], [], schema, 0)
        # strip the ts field, simulating a pre-ts-era commit
        cp = tx._commit_path(p, 1)
        body = json.loads(store.read_bytes(cp))
        body.pop("ts", None)
        store.delete(cp)
        assert store.put_if_absent(cp, json.dumps(body).encode())
        with pytest.raises(IOError, match="records no modification times"):
            tx.version_as_of(p, time.time())
    finally:
        unregister_log_store(prefix)


def test_version_as_of_is_sublinear_in_commit_reads(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 6: AS-OF resolution must binary-search the
    retained range — O(log n) commit reads on a long log, pinned here
    on 512 metadata-only commits."""
    p = str(tmp_path / "t")
    schema = json.dumps({"type": "struct", "fields": []})
    n = 512
    for i in range(n):
        tx.commit(p, "append", [f"data/f{i}.parquet"], [], schema, i)
    reads = {"n": 0}
    orig = tx._read_commit

    def counting(path, version):
        reads["n"] += 1
        return orig(path, version)

    monkeypatch.setattr(tx, "_read_commit", counting)
    mid_ts = orig(p, n // 2).ts
    assert tx.version_as_of(p, mid_ts) == n // 2
    assert reads["n"] <= 12, reads["n"]  # ceil(log2(512)) = 9, slack 3


# ------------------------------------------------------------------ 5


def test_feed_column_renamed_away_resolves_or_fails_actionably(
    spark, tmp_path
):
    """Round-8 finding: a feed column matching no known name must never
    silently read all-NULL.  Round 9 STRENGTHENED the resolution (ADVICE
    r9 item 3): a renamed-away intermediate logical name now resolves
    through the schema LOGGED AT THE REQUESTED VERSION (it was the
    current name when those files were written), returning the real
    bytes — so only a name no retained schema ever knew still raises,
    and it raises typed."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(5)).coalesce(1), p)
    tx.tx_rename_column(p, "v", "amount")
    v3 = tx.tx_append(_df(spark, [(100, 1, None)], "k int, ts int, amount string"), p)
    tx.tx_rename_column(p, "amount", "amt")
    # the intermediate name was v3's CURRENT name: historical-schema
    # resolution returns its bytes (round-9 behavior; round 8 raised)
    assert tx.commit_change_rows(p, v3, ["k"], ["amount"]) == [
        (100, None, "insert", v3)
    ]
    # a name NO schema ever carried still fails typed, never all-NULL
    with pytest.raises(ValueError, match="'never_existed'"):
        tx.commit_change_rows(p, v3, ["k"], ["never_existed"])
    # current logical and raw physical names both still resolve
    assert tx.commit_change_rows(p, v3, ["k"], ["amt"]) == [
        (100, None, "insert", v3)
    ]
    assert tx.commit_change_rows(p, v3, ["k"], ["v"]) == [
        (100, None, "insert", v3)
    ]
