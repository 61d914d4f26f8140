"""File-shape knobs on the processed-parquet sink: per-file row caps
(the 100 MB-1 GB target file size, BASELINE.md) and task-local sorting
for parquet min/max row-group skipping."""

from __future__ import annotations

import glob

import pandas as pd
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators.partitioning import (
    write_processed_parquet,
)


def _events_df(spark, n=400):
    return spark.range(n).select(
        (F.lit(1704067200) + (F.col("id") % 2) * 3600).cast("double").alias(
            "created_at"
        ),
        F.concat(F.lit("lang_"), (F.col("id") % 2).cast("string")).alias(
            "language_id"
        ),
        (F.col("id") * 37 % 1000).alias("v"),
    )


def test_max_records_per_file_caps_file_size(spark, tmp_path):
    out = str(tmp_path / "capped")
    write_processed_parquet(
        _events_df(spark), out, max_records_per_file=50, compression="zstd"
    )
    files = glob.glob(f"{out}/**/*.parquet", recursive=True)
    assert files, "no parquet files written"
    sizes = [len(pd.read_parquet(f)) for f in files]
    assert max(sizes) <= 50, sizes
    assert sum(sizes) == 400


def test_sort_within_partitions_orders_rows_in_files(spark, tmp_path):
    out = str(tmp_path / "sorted")
    write_processed_parquet(
        _events_df(spark), out, sort_within_partitions=["v"]
    )
    files = glob.glob(f"{out}/**/*.parquet", recursive=True)
    assert files
    for f in files:
        vs = pd.read_parquet(f)["v"].tolist()
        assert vs == sorted(vs), f


# ------------------------------------------------- round-9 write sizing


def _kv(spark, rows, schema="k int, ts int, v string"):
    return spark.createDataFrame(rows, schema)


def test_rewrites_size_output_files_by_bytes_not_partitions(
    spark, tmp_path
):
    """The round-8 follower regression's root cause: upsert/merge/
    delete rewrites wrote ONE FILE PER SHUFFLE PARTITION (34 files of
    2-3 KB in four commits), and at 33+ live files every snapshot read
    crossed Spark's distributed-listing threshold.  Rewrites must bound
    their output count by ceil(estimated bytes / 128 MB) — at KB scale
    that is exactly one file per commit."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    p = str(tmp_path / "t")
    rows = [(i, 1, f"r{i}") for i in range(1000)]
    tx.tx_append(_kv(spark, rows).repartition(4), p)

    # CoW upsert: a KB-scale rewrite lands as ONE file
    changes = _kv(spark, [(i, 2, f"u{i}") for i in range(0, 1000, 7)])
    tx.tx_upsert(spark, p, changes.repartition(8), ["k"], ["ts"])
    c = tx.read_log(p)[-1]
    assert len(c.add) == 1, (
        f"upsert rewrite wrote {len(c.add)} files for a KB-scale batch"
    )

    # CoW predicate delete: the straddler rewrite lands as ONE file
    tx.tx_delete(spark, p, [("k", "<", 100)])
    c = tx.read_log(p)[-1]
    assert len(c.add) <= 1, c.add

    # conditional MERGE (CoW): same contract
    src = _kv(spark, [(i, 3, f"m{i}") for i in range(200, 260)])
    tx.tx_merge(
        spark, p, src.repartition(8), ["k"],
        when_matched_update={"v": "source.v", "ts": "source.ts"},
        when_not_matched_insert=True,
    )
    c = tx.read_log(p)[-1]
    assert c.action == "merge" and len(c.add) == 1, (c.action, c.add)

    # content stayed exact through all sized rewrites: delete dropped
    # k<100, the upsert's surviving updates and the merge's writes hold
    got = {
        (r.k, r.v)
        for r in tx.read_table(spark, p).select("k", "v").collect()
    }
    assert (200, "m200") in got and (105, "u105") in got
    assert not any(k < 100 for k, _ in got)
    assert len(got) == 900


def test_snapshot_reads_stay_off_the_distributed_listing_job(spark):
    """Plan-construction cost pin: explicit-file-list reads must use
    driver-side listing up to thousands of paths (the A/B measured the
    one-task-per-path listing job at 0.9 s for 340 paths / 7.6 s for
    3400, vs 166/728 ms driver-side — docs/PLANS.md, "The follower
    regression, closed")."""
    thr = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    assert thr >= 4096, thr
