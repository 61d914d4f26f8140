"""Small-file compaction on the table log (``txtable.tx_compact``):
bin-packing, target-size control, clustering preservation, selective
(no-rewrite-amplification) mode, and the content-invariance relation
the ``layout_compact_invariance`` catalog entry emits."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import txtable as tx
from event_streaming_toy_example_spark.plans.queries_ext18 import (
    _compaction_invariance,
)


def _fragmented_table(spark, path: str, n_files: int = 32, rows: int = 4000):
    tx.tx_append(
        spark.range(rows)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        .repartition(n_files),
        path,
    )


def _sizes(path: str) -> dict[str, int]:
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in tx.snapshot(path).files
    }


def test_full_compaction_packs_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    sum_before = tx.read_table(spark, path).agg(F.sum("v")).collect()[0][0]
    assert len(tx.snapshot(path).files) >= 30

    assert tx.tx_compact(spark, path, target_bytes=1 << 30) is not None
    assert len(tx.snapshot(path).files) == 1  # everything fits one file
    after = tx.read_table(spark, path)
    assert after.count() == 4000
    assert after.agg(F.sum("v")).collect()[0][0] == sum_before


def test_target_size_controls_output_count(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    total = sum(_sizes(path).values())
    tx.tx_compact(spark, path, target_bytes=total // 4 + 1)
    # ceil(total/target) = 4 packed files
    assert len(tx.snapshot(path).files) == 4


def test_order_col_preserves_clustering(spark, tmp_path):
    """Compacting with ``order_col`` must keep per-file key ranges
    disjoint so footer-stat pruning stays selective (a round-robin
    repack would destroy it)."""
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path, n_files=32, rows=8000)
    total = sum(_sizes(path).values())
    tx.tx_compact(spark, path, target_bytes=total // 4 + 1, order_col="id")
    ranges = []
    for f in tx.snapshot(path).files:
        meta = pq.ParquetFile(os.path.join(path, f)).metadata
        col = meta.schema.names.index("id")
        stats = [
            meta.row_group(rg).column(col).statistics
            for rg in range(meta.num_row_groups)
        ]
        ranges.append(
            (min(s.min for s in stats), max(s.max for s in stats))
        )
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file key ranges {ranges}"


def test_selective_mode_leaves_big_files_alone(spark, tmp_path):
    """Only files below the threshold are rewritten — the property that
    makes continuous compaction affordable at scale."""
    path = str(tmp_path / "tbl")
    cols = [
        F.col("id"),
        (F.col("id") * 3).alias("v"),
        (F.col("id") % 7).alias("k"),
    ]
    tx.tx_append(spark.range(200_000).select(*cols).coalesce(1), path)
    (big,) = tx.snapshot(path).files
    tx.tx_append(
        spark.range(200_000, 204_000).select(*cols).repartition(16), path
    )
    sizes = _sizes(path)
    assert len(sizes) == 17

    tx.tx_compact(
        spark,
        path,
        target_bytes=1 << 30,
        small_file_bytes=max(sizes.values()),
    )
    files = tx.snapshot(path).files
    assert len(files) == 2  # untouched big file + one packed file
    assert big in files  # no rewrite amplification
    assert tx.read_table(spark, path).count() == 204_000


def test_noop_when_nothing_to_pack(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tx.tx_append(spark.range(100).coalesce(1), path)
    files, version = tx.snapshot(path).files, tx.table_version(path)
    assert tx.tx_compact(spark, path, target_bytes=1 << 30) is None
    assert tx.snapshot(path).files == files  # untouched
    assert tx.table_version(path) == version  # nothing committed


def test_invariance_relation_shape(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    v_before = tx.table_version(path)
    tx.tx_compact(spark, path, target_bytes=1 << 30)
    inv = _compaction_invariance(
        tx.read_table(spark, path, v_before).select("k", "v"),
        tx.read_table(spark, path),
        key_col="k",
        value_col="v",
    )
    rows = inv.collect()
    assert len(rows) == 7
    assert all(r["invariant_ok"] == 1 for r in rows)


def test_measured_scan_cost_drops(spark, tmp_path):
    """The point of compaction: same rows, fewer task-starting file
    splits.  Measure the scan's partition count before/after."""
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path, n_files=64, rows=20_000)
    n_splits_before = tx.read_table(spark, path).rdd.getNumPartitions()
    tx.tx_compact(spark, path, target_bytes=1 << 30)
    after = tx.read_table(spark, path)
    assert after.rdd.getNumPartitions() < n_splits_before
    assert after.count() == 20_000
