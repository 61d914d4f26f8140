"""Streaming change-data-feed source over the transaction log
(`sources/txfeed.py`) and the per-commit CDC reader
(`txtable.commit_change_rows`): offset = log version, O(commit delta)
row production, follower-table maintenance with exactly-once replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import txtable as tx
from event_streaming_toy_example_spark.sources import txfeed


def _df(spark, rows, schema="k int, ts int, v string"):
    return spark.createDataFrame(rows, schema)


def _content(spark, path, cols=("k", "v")):
    df = tx.read_table(spark, path).select(*cols)
    return sorted(tuple(r) for r in df.collect())


def _build_source(spark, p):
    """append → upsert (update+insert) → delete → compact: one commit
    per action, every delta oracle-predictable."""
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]), p)
    tx.tx_upsert(
        spark, p, _df(spark, [(2, 5, "b2"), (9, 1, "new")]),
        keys=["k"], order_by=["ts"],
    )
    tx.tx_delete(spark, p, [("k", "=", 3)])
    tx.tx_compact(spark, p, target_bytes=1 << 30)


def test_commit_change_rows_per_action(spark, tmp_path):
    p = str(tmp_path / "src")
    _build_source(spark, p)
    rows_v1 = tx.commit_change_rows(p, 1, ["k"], ["v"])
    assert sorted(rows_v1) == [
        (1, "a", "insert", 1), (2, "b", "insert", 1), (3, "c", "insert", 1),
    ]
    rows_v2 = tx.commit_change_rows(p, 2, ["k"], ["v"])
    assert sorted(rows_v2) == [(2, "b2", "update", 2), (9, "new", "insert", 2)]
    rows_v3 = tx.commit_change_rows(p, 3, ["k"], ["v"])
    assert rows_v3 == [(3, "c", "delete", 3)]  # delete carries OLD content
    # compaction is content-invariant: the feed emits nothing
    assert tx.commit_change_rows(p, 4, ["k"], ["v"]) == []


def test_commit_change_rows_unchanged_carryover_drops_out(spark, tmp_path):
    """A MERGE rewrites whole files; carried-over rows that did not
    change must NOT appear in the feed."""
    p = str(tmp_path / "src")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1), p)
    tx.tx_upsert(spark, p, _df(spark, [(1, 5, "a5")]), ["k"], ["ts"])
    rows = tx.commit_change_rows(p, 2, ["k"], ["v"])
    assert rows == [(1, "a5", "update", 2)]  # k=2 carried over silently


def test_commit_change_rows_vacuumed_delta_is_loud(spark, tmp_path):
    p = str(tmp_path / "src")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_upsert(spark, p, _df(spark, [(1, 2, "a2")]), ["k"], ["ts"])
    tx.vacuum(p, retain_versions=1, min_age_seconds=0.0)  # drops v1 files
    with pytest.raises(IOError, match="already vacuumed"):
        tx.commit_change_rows(p, 2, ["k"], ["v"])


def test_feed_stream_one_batch_per_version(spark, tmp_path):
    p = str(tmp_path / "src")
    _build_source(spark, p)
    seen: list[tuple] = []
    batches: list[int] = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batches.append(batch_id)
            seen.extend((r["k"], r["v"], r["change_type"], r["version"]) for r in rows)

    q = (
        txfeed.read_change_feed_stream(spark, p, ["k"], ["v"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination(60)
    # maxVersionsPerBatch=1 → each commit delivered in its own batch
    versions = {v for _, _, _, v in seen}
    assert versions == {1, 2, 3}  # compact emits nothing
    assert len(batches) == 3
    assert (3, "c", "delete", 3) in seen and (2, "b2", "update", 2) in seen


def test_follower_matches_source_and_replay_is_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    fol = str(tmp_path / "fol")
    _build_source(spark, src)

    seed = spark.createDataFrame([], "k int, v string, version long")
    tx.tx_append(seed, fol)

    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck1"), key="k", content_cols=["v"]
    )
    assert _content(spark, fol) == _content(spark, src) == [
        (1, "a"), (2, "b2"), (9, "new"),
    ]
    v_after = tx.table_version(fol)

    # fresh checkpoint forces FULL re-delivery of every feed batch:
    # the (app, batch) floor must skip them all — zero new commits
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck2"), key="k", content_cols=["v"]
    )
    assert tx.table_version(fol) == v_after
    assert _content(spark, fol) == _content(spark, src)

    # the source advances; the SAME checkpoint resumes from its offset
    tx.tx_upsert(
        spark, src, _df(spark, [(1, 9, "a9"), (7, 1, "seven")]),
        keys=["k"], order_by=["ts"],
    )
    tx.tx_delete(spark, src, [("k", "=", 9)])
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck2"), key="k", content_cols=["v"]
    )
    assert _content(spark, fol) == _content(spark, src) == [
        (1, "a9"), (2, "b2"), (7, "seven"),
    ]


def test_feed_from_expired_version_is_loud(spark, tmp_path):
    """A feed asked for commits expire_log already dropped must raise
    the TYPED error, never FileNotFoundError or silent emptiness."""
    p = str(tmp_path / "src")
    _build_source(spark, p)
    tx.expire_log(p, retain_versions=2)  # drops commits 1..3
    with pytest.raises(tx.VersionExpiredError, match="change feed"):
        tx.commit_change_rows(p, 2, ["k"], ["v"])
    # retained tail still feeds fine
    assert tx.commit_change_rows(p, 4, ["k"], ["v"]) == []


def test_distributed_feed_matches_simple_reader(spark, tmp_path):
    """The feed (one executor task per commit) must deliver exactly the
    rows the driver-side per-commit reader ``commit_change_rows``
    yields, with the whole committed range planned as one uncapped
    batch of per-commit tasks."""
    p = str(tmp_path / "src")
    _build_source(spark, p)
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r["k"], r["v"], r["change_type"], r["version"])
            for r in batch_df.collect()
        )

    q = (
        txfeed.read_change_feed_stream(
            spark, p, ["k"], ["v"], max_versions_per_batch=0
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
    want = []
    for v in range(1, tx.table_version(p) + 1):
        want.extend(tx.commit_change_rows(p, v, ["k"], ["v"]))
    assert sorted(seen) == sorted(want)
    # restart on the SAME checkpoint after the source advances:
    # resumes from the committed offset, delivers only the delta
    tx.tx_upsert(spark, p, _df(spark, [(1, 9, "a9")]), ["k"], ["ts"])
    seen.clear()
    q = (
        txfeed.read_change_feed_stream(
            spark, p, ["k"], ["v"], max_versions_per_batch=0
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
    assert seen == [(1, "a9", "update", 5)]


def test_follower_composite_key(spark, tmp_path):
    """Composite-key follower: net-effect window, MERGE, and key-set
    delete all partition on the full key tuple."""
    src = str(tmp_path / "src")
    fol = str(tmp_path / "fol")
    df = spark.createDataFrame(
        [(1, "x", 1, "a"), (1, "y", 1, "b"), (2, "x", 1, "c")],
        "k1 int, k2 string, ts int, v string",
    )
    tx.tx_append(df, src)
    tx.tx_upsert(
        spark, src,
        spark.createDataFrame([(1, "y", 5, "b2")], "k1 int, k2 string, ts int, v string"),
        keys=["k1", "k2"], order_by=["ts"],
    )
    tx.tx_delete(spark, src, [("k1", "=", 2)])
    tx.tx_append(
        spark.createDataFrame(
            [], "k1 int, k2 string, v string, version long"
        ),
        fol,
    )
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck"),
        key=["k1", "k2"], content_cols=["v"],
    )
    got = sorted(
        (r["k1"], r["k2"], r["v"])
        for r in tx.read_table(spark, fol).collect()
    )
    assert got == [(1, "x", "a"), (1, "y", "b2")]


# ----------------------------------------------- dtype fidelity (r7)


def test_change_rows_keep_integer_types_through_straddling_replace(
    spark, tmp_path
):
    """A commit whose pandas diff contains deletes ALONGSIDE updates
    (left_only rows in the outer merge) must not upcast integer content
    columns to float64 (ADVICE r6): the emitted values must stay Python
    ints, and the Arrow conversion in the streaming source must accept
    them against the feed's LongType schema."""
    p = str(tmp_path / "src")
    tx.tx_append(
        _df(
            spark, [(1, 1, 10), (2, 1, 20), (3, 1, 30)], "k int, ts int, n long"
        ).coalesce(1),
        p,
    )
    # replace region k<=2: k=1 updates, k=2 vanishes (a delete), k=3 kept
    tx.tx_replace_where(
        spark,
        p,
        _df(spark, [(1, 9, 11)], "k int, ts int, n long"),
        [("k", "<=", 2)],
    )
    rows = tx.commit_change_rows(p, 2, ["k"], ["ts", "n"])
    by = {r[0]: r for r in rows}
    assert by[1] == (1, 9, 11, "update", 2)
    assert by[2] == (2, 1, 20, "delete", 2)  # delete carries OLD ints
    for r in rows:
        for x in r[:3]:
            assert isinstance(x, int) and not isinstance(x, bool), r
    # end-to-end: the streaming source converts these rows via Arrow
    # against the int feed schema
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r["k"], r["ts"], r["n"], r["change_type"], r["version"])
            for r in batch_df.collect()
        )

    q = (
        txfeed.read_change_feed_stream(spark, p, ["k"], ["ts", "n"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination(60)
    assert (1, 9, 11, "update", 2) in seen
    assert (2, 1, 20, "delete", 2) in seen


def test_change_rows_version_beyond_log_is_loud(spark, tmp_path):
    """A feed checkpoint pointing PAST the table's log (restored/copied
    table) must raise an actionable typed error, not a raw
    FileNotFoundError (ADVICE r6)."""
    p = str(tmp_path / "src")
    _build_source(spark, p)
    with pytest.raises(IndexError, match="beyond the committed range"):
        tx.commit_change_rows(p, 99, ["k"], ["v"])


# ------------------------------------- re-batching robustness (r7)


def test_follower_token_survives_rebatching(spark, tmp_path):
    """Disaster-recovery shape (VERDICT r6 item 3): after the follower's
    checkpoint is LOST, the query restarts from a fresh checkpoint with
    a DIFFERENT batch size, so micro-batch ids no longer align with
    feed versions.  The version-based idempotence token must skip the
    already-applied prefix AND still apply the newer source commits (a
    micro-batch-id token silently skipped them)."""
    src = str(tmp_path / "src")
    fol = str(tmp_path / "fol")
    _build_source(spark, src)  # versions 1..4
    tx.tx_append(spark.createDataFrame([], "k int, v string, version long"), fol)
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck1"), key="k", content_cols=["v"],
        max_versions_per_batch=1,
    )
    assert _content(spark, fol) == _content(spark, src)

    # the source advances AFTER the first follower run
    tx.tx_upsert(
        spark, src, _df(spark, [(1, 9, "a9"), (7, 1, "seven")]),
        keys=["k"], order_by=["ts"],
    )
    tx.tx_delete(spark, src, [("k", "=", 9)])

    # fresh checkpoint + coarser batches: versions re-deliver in
    # 3-version batches whose ids restart at 0
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck2"), key="k", content_cols=["v"],
        max_versions_per_batch=3,
    )
    assert _content(spark, fol) == _content(spark, src) == [
        (1, "a9"), (2, "b2"), (7, "seven"),
    ]


def test_dist_feed_self_caps_batch_size(spark, tmp_path):
    """VERDICT r6 item 5: a 10-commit backfill through the feed with
    maxVersionsPerBatch=4 must split into ceil(10/4)=3
    retryable micro-batches, and a checkpoint-resume must deliver only
    the post-resume delta."""
    p = str(tmp_path / "src")
    for i in range(10):
        tx.tx_append(_df(spark, [(i, 1, f"r{i}")]).coalesce(1), p)
    batches: list[list[int]] = []

    def sink(batch_df, batch_id):
        rows = sorted(r["version"] for r in batch_df.collect())
        if rows:
            batches.append(rows)

    def run():
        q = (
            txfeed.read_change_feed_stream(
                spark, p, ["k"], ["v"], max_versions_per_batch=4
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
    assert batches == [[1, 2, 3, 4], [5, 6, 7, 8], [9, 10]]
    # source advances; the SAME checkpoint resumes with only the delta
    tx.tx_append(_df(spark, [(99, 1, "new")]).coalesce(1), p)
    batches.clear()
    run()
    assert batches == [[11]]


def test_feed_from_timestamp_starts_after_that_instant(spark, tmp_path):
    """fromTimestamp: the feed delivers only commits published AFTER
    the given instant (resolved via the commit publish times the log
    now records)."""
    import time

    p = str(tmp_path / "src")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    cut = time.time()
    time.sleep(0.05)
    tx.tx_append(_df(spark, [(3, 1, "c")]), p)
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r["k"], r["version"]) for r in batch_df.collect()
        )

    q = (
        txfeed.read_change_feed_stream(
            spark, p, ["k"], ["v"], from_timestamp=cut
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
    assert seen == [(3, 3)]  # versions 1-2 predate the cut


def test_follow_table_via_merge_single_commit_per_batch(spark, tmp_path):
    """via_merge=True: each feed batch applies as ONE conditional
    tx_merge commit (tombstones via the change_type source column) —
    replica content identical to the delete+upsert pair, half the
    commits, replay from a fresh checkpoint applies nothing."""
    src = str(tmp_path / "src")
    fol = str(tmp_path / "fol")
    tx.tx_append(
        _df(spark, [(i, 1, f"r{i}") for i in range(10)]).coalesce(1), src
    )
    tx.tx_upsert(spark, src, _df(spark, [(3, 5, "u3"), (20, 1, "new")]),
                 ["k"], ["ts"])
    tx.tx_delete(spark, src, [("k", "=", 7)])
    seed = spark.createDataFrame([], "k int, v string, version long")
    tx.tx_append(seed, fol)
    v0 = tx.table_version(fol)
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck1"),
        key="k", content_cols=["v"], via_merge=True,
        merge_on_read=True, max_versions_per_batch=1,
    )
    s = sorted(
        (r.k, r.v) for r in tx.read_table(spark, src).select("k", "v").collect()
    )
    f = sorted(
        (r.k, r.v) for r in tx.read_table(spark, fol).select("k", "v").collect()
    )
    assert f == s, (s, f)
    # one merge commit per non-empty feed batch (3 source data commits)
    log = tx.read_log(fol)
    applied = [c for c in log if c.version > v0]
    assert all(c.action == "merge" for c in applied), [c.action for c in applied]
    assert len(applied) == 3, [c.action for c in applied]
    # exactly-once on a FRESH checkpoint
    v1 = tx.table_version(fol)
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck2"),
        key="k", content_cols=["v"], via_merge=True,
        merge_on_read=True, max_versions_per_batch=1,
    )
    assert tx.table_version(fol) == v1
