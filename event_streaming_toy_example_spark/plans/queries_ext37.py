"""Round-11 wave: every VERDICT r10 action item as a catalog entry.

- ``tx_sql_catalog`` (PRIMARY) — the item-1 done-criterion: a table
  CREATEd in one session is queried from a FRESH session that never
  calls ``tx_register`` (the name resolves lazily from the warehouse
  catalog, ``operators/warehouse.py``), with DROP TABLE PURGE and
  SHOW TABLES exercised along the way; hash-checked against DuckDB.
- ``tx_sql_constraints`` (item 4) — CHECK constraints + generated
  columns from SQL text: ``ADD CONSTRAINT`` proves existing data
  satisfies, a bad INSERT is rejected BY NAME, and the ``GENERATED
  ALWAYS AS`` column (materialized by INSERT, enforced by its paired
  ``__gen_`` check) hash-checks against DuckDB's computed twin.
- ``tx_truncate_restore`` (item 1's lifecycle tail) — TRUNCATE TABLE
  is one O(metadata) remove-all commit (asserted: zero adds, action
  ``truncate``); RESTORE brings the full content back, hash-checked.
- ``tx_zorder_string_pruning`` (item 6) — OPTIMIZE ZORDER BY over a
  (string, numeric) pair after the lifted NUMERIC gate; the staged
  build asserts BOTH axes prune, the read hash-checks a plain-filter
  oracle.
- ``tx_matview_join3`` (item 2) — the three-table STAR matview
  (``operators/matview_star.py``): a delta on EVERY side applied in
  one refresh, spy-asserted source-free, fact pre-filtered in the
  view spec, hash-checked vs a full DuckDB recompute.
- ``tx_auto_vacuum`` (item 5) — async auto-maintenance +
  retention-windowed auto-vacuum: exactly one background compaction,
  garbage physically reclaimed, content-invariant read.
- ``tx_stream_sql`` (item 7) — the streaming txtable source reached
  from pure SQL text (``tx_stream_view`` + the clause compiler's
  WHERE pushdown), same oracle as the option-JSON twin.

The reference has none of these (432-line pipeline with hard-coded
paths); semantics follow public Hive-metastore / Delta Lake / SQL
conventions.  Item 3 (the executor-parallel backfill delta path) has
no entry of its own — it is a cost-path inside every matview refresh,
pinned by tests/test_matview_dist_delta.py; its measurement is
written up in docs/PLANS.md and docs/MATVIEW_DIST_PROBE_r11.json.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession

from event_streaming_toy_example_spark.plans.queries_ext import (
    private_warehouse,
    stage_dir_once,
)
from event_streaming_toy_example_spark.schemas import load_table


def _catalog_session(spark: SparkSession, wh: str) -> SparkSession:
    """A NEW session (own temp views, own txsql session map) pointed at
    ``wh`` — the cross-session actor of the catalog's contract."""
    s = spark.newSession()
    s.conf.set("spark_graft.warehouse.dir", wh)
    return s


# ------------------------------------------------ persistent catalog


def q_tx_sql_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE in session 1, query from a FRESH session 2 with ZERO
    registration calls — the persistent catalog resolves the name.
    Also drives DROP TABLE PURGE (both planes gone) and SHOW TABLES
    (only the surviving table listed).  Hermetic per call: the
    warehouse is a fresh temp dir, so replays never collide."""
    import tempfile

    from event_streaming_toy_example_spark.operators import txsql

    wh = tempfile.mkdtemp(prefix="txcat_wh_")
    s1 = _catalog_session(spark, wh)
    load_table(s1, sf_dir, "nation").createOrReplaceTempView(
        "cat_nation_raw"
    )
    txsql.tx_sql(s1, """
        CREATE TABLE cat_nations AS
        SELECT n_nationkey, n_regionkey, n_name FROM cat_nation_raw
    """)
    txsql.tx_sql(s1, "CREATE TABLE cat_scratch (k INT)")
    txsql.tx_sql(s1, "INSERT INTO cat_scratch VALUES (1)")
    txsql.tx_sql(s1, "DROP TABLE cat_scratch PURGE")
    assert not _os.path.exists(_os.path.join(wh, "cat_scratch"))
    # the fresh session: catalog-only resolution, no tx_register
    s2 = _catalog_session(spark, wh)
    shown = {
        r["name"]: r["persistent"]
        for r in txsql.tx_sql(s2, "SHOW TABLES").collect()
    }
    assert shown == {"cat_nations": True}, shown
    return txsql.tx_sql(s2, """
        SELECT n_regionkey,
               COUNT(*) AS n_nations,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
               MIN(n_name) AS first_name
        FROM cat_nations
        GROUP BY n_regionkey
    """)


SQL_TX_SQL_CATALOG = """
SELECT n_regionkey,
       COUNT(*) AS n_nations,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
"""


# ------------------------------------- constraints + generated columns


def _build_constrained_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a table with a GENERATED column and a
    CHECK constraint, driven entirely through SQL text, with the
    rejection paths asserted."""
    from event_streaming_toy_example_spark.operators import txsql

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "con_orders_raw"
        )
        with private_warehouse(spark, tmp):
            txsql.tx_sql(spark, """
                CREATE TABLE con_orders (
                  o_orderkey BIGINT,
                  o_totalprice DOUBLE,
                  price_band INT GENERATED ALWAYS AS
                    (CAST(FLOOR(o_totalprice / 100000) AS INT)))
            """)
            # omitted generated column MATERIALIZES on INSERT
            txsql.tx_sql(spark, """
                INSERT INTO con_orders (o_orderkey, o_totalprice)
                SELECT o_orderkey, o_totalprice FROM con_orders_raw
            """)
            txsql.tx_sql(spark, """
                ALTER TABLE con_orders
                ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)
            """)
            # a bad INSERT is rejected BY CONSTRAINT NAME...
            try:
                txsql.tx_sql(
                    spark,
                    "INSERT INTO con_orders (o_orderkey, o_totalprice) "
                    "VALUES (0, -1.0)",
                )
                raise AssertionError("price_pos must reject the bad row")
            except ValueError as e:
                assert "price_pos" in str(e)
            # ...and so is a generated-column value that disagrees
            try:
                txsql.tx_sql(
                    spark, "INSERT INTO con_orders VALUES (0, 50000.0, 7)"
                )
                raise AssertionError("__gen_price_band must reject")
            except ValueError as e:
                assert "__gen_price_band" in str(e)

    return stage_dir_once(build, "txtable_constraints_v1", sf_dir)


def q_tx_sql_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generated column read back and aggregated — every value was
    materialized by the engine (never provided), so the oracle's
    computed twin pins the GENERATED semantics."""
    from event_streaming_toy_example_spark.operators import txsql

    base = _build_constrained_table(spark, sf_dir)
    txsql.tx_register(
        spark, _os.path.join(base, "con_orders"), "con_orders"
    )
    return txsql.tx_sql(spark, """
        SELECT price_band,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM con_orders
        GROUP BY price_band
    """)


SQL_TX_SQL_CONSTRAINTS = """
SELECT CAST(FLOOR(o_totalprice / 100000) AS INT) AS price_band,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY price_band
"""


# -------------------------------------------------- truncate + restore


def _build_truncated_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: CTAS → TRUNCATE (asserted O(metadata):
    zero adds, every live file removed, count 0) → RESTORE to the
    pre-truncate snapshot."""
    from event_streaming_toy_example_spark.operators import txsql
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "trunc_orders_raw"
        )
        with private_warehouse(spark, tmp):
            txsql.tx_sql(spark, """
                CREATE TABLE trunc_orders AS
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM trunc_orders_raw
            """)
            v = txsql.tx_sql(spark, "TRUNCATE TABLE trunc_orders")
            assert v == 2
            loc = _os.path.join(tmp, "trunc_orders")
            h = tx.history(loc)[0]  # newest first
            assert h["action"] == "truncate"
            assert h["n_added"] == 0 and h["n_removed"] >= 1
            n = txsql.tx_sql(
                spark, "SELECT COUNT(*) AS n FROM trunc_orders"
            ).first()["n"]
            assert n == 0, n
            # restore brings the whole content back, O(metadata) again
            txsql.tx_sql(
                spark, "RESTORE TABLE trunc_orders TO VERSION AS OF 1"
            )

    return stage_dir_once(build, "txtable_truncate_v1", sf_dir)


def q_tx_truncate_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post restore, the table content is EXACTLY the pre-truncate
    snapshot — hash-checked against the plain source projection."""
    from event_streaming_toy_example_spark.operators import txsql

    base = _build_truncated_table(spark, sf_dir)
    txsql.tx_register(
        spark, _os.path.join(base, "trunc_orders"), "trunc_orders"
    )
    return txsql.tx_sql(spark, """
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM trunc_orders
    """)


SQL_TX_TRUNCATE_RESTORE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
"""


# ------------------------------------------------ string-key Z-order


def _build_string_zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: part rows written ROW-MAJOR (shuffled on
    p_partkey so p_name predicates prune nothing), then OPTIMIZE
    ZORDER BY on the (string, numeric) pair — round 11's lifted gate
    (``tx_compact``: strings rescale via their first 6 UTF-8 bytes,
    monotone).  The build asserts BOTH axes became prunable; p_name is
    the TPC-H string column with varied prefixes (a shared-prefix key
    like ``Customer#...`` would collapse the 6-byte map — documented
    limit, the same one stats prefix truncation has)."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_name", "p_type", "p_retailprice"
        )
        tx.tx_append(part.repartition(8), tmp)
        n0 = len(tx.snapshot(tmp).files)
        scan0, _ = tx.prune_files(tmp, [("p_name", "<", "d")])
        assert len(scan0) == n0, "precondition: p_name unprunable"
        total = sum(
            tx.get_data_store(tmp).size(_os.path.join(tmp, f))
            for f in tx.snapshot(tmp).files
        )
        v = tx.tx_compact(
            spark, tmp, target_bytes=max(1, total // 16),
            zorder_by=("p_name", "p_retailprice"),
        )
        assert v is not None
        n = len(tx.snapshot(tmp).files)
        # LOW cuts (~1/8 of each axis): a Morton file pins each
        # dimension to a quarter-range at this file count, so a slice
        # near the edge leaves most files provably disjoint — the same
        # cut geometry the numeric zorder entry asserts
        _, skip_name = tx.prune_files(tmp, [("p_name", "<", "d")])
        hi_p = part.agg(F.max("p_retailprice")).collect()[0][0]
        lo_p = part.agg(F.min("p_retailprice")).collect()[0][0]
        cut_p = lo_p + (hi_p - lo_p) / 8
        _, skip_price = tx.prune_files(
            tmp, [("p_retailprice", "<", cut_p)]
        )
        assert len(skip_name) >= n // 3, (len(skip_name), n)
        assert len(skip_price) >= n // 3, (len(skip_price), n)

    return stage_dir_once(build, "txtable_zorder_string_v1", sf_dir)


def q_tx_zorder_string_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A string-range read over the string+numeric Z-ordered table —
    the pruned scan plus the row filter must equal the plain-filter
    oracle exactly (pruning is an optimization, never a filter)."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators import txtable as tx

    path = _build_string_zorder_table(spark, sf_dir)
    out = tx.read_table(spark, path, where=[("p_name", "<", "m")])
    return out.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).alias(
            "price_cents"
        ),
        F.min("p_name").alias("first_name"),
        F.max("p_name").alias("last_name"),
    )


SQL_TX_ZORDER_STRING = """
SELECT p_type,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       MIN(p_name) AS first_name,
       MAX(p_name) AS last_name
FROM part
WHERE p_name < 'm'
GROUP BY p_type
"""


# ------------------------------------------------ N-way star matview


def _build_matview_star(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a THREE-table star view (lineitem fact ⋈
    orders dim ⋈ part dim, fact pre-filtered in the view spec),
    maintained through a delta on EVERY side in ONE refresh —
    fact delete, orders-dim update, part-dim group-migrating update —
    spy-asserted to never re-read any source (the factorized-state
    contract), exactly-once under the packed three-version token
    (VERDICT r10 item 2)."""
    import unittest.mock as _m

    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators import (
        matview_star as ms,
    )
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        fact = _os.path.join(tmp, "fact")
        d_ord = _os.path.join(tmp, "ord")
        d_part = _os.path.join(tmp, "part")
        dst = _os.path.join(tmp, "mv")
        tx.tx_append(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey", "l_returnflag", "l_quantity"
            ).repartitionByRange(4, "l_orderkey"),
            fact,
        )
        tx.tx_append(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            ).repartitionByRange(4, "o_orderkey"),
            d_ord,
        )
        tx.tx_append(
            load_table(spark, sf_dir, "part").select(
                "p_partkey", "p_type"
            ).repartitionByRange(4, "p_partkey"),
            d_part,
        )
        ms.tx_create_matview_star(
            spark, dst, fact,
            dims=[
                {"name": "ord", "src": d_ord,
                 "on": [("l_orderkey", "o_orderkey")],
                 "group_by": ["o_orderstatus"]},
                {"name": "prt", "src": d_part,
                 "on": [("l_partkey", "p_partkey")],
                 "group_by": ["p_type"]},
            ],
            aggs={
                "n": ("count", "*"),
                "qty": ("sum", "fact.l_quantity"),
                "avg_price": ("avg", "ord.o_totalprice"),
            },
            group_by_fact=["l_returnflag"],
            filters={"fact": "l_quantity > 5"},
        )
        # one delta on EACH side, applied in ONE refresh
        tx.tx_delete(spark, fact, [("l_returnflag", "=", "R")])
        tx.tx_update(
            spark, d_ord,
            set={"o_totalprice": "o_totalprice + 1.0"},
            where="o_orderkey % 10 = 0",
        )
        tx.tx_update(
            spark, d_part,
            set={"p_type": "'migrated'"},
            where="p_partkey % 7 = 0",
        )
        calls = []
        orig = tx.read_table

        def spy(sp, path, *args, **kwargs):
            calls.append(_os.path.abspath(path))
            return orig(sp, path, *args, **kwargs)

        with _m.patch.object(ms.tx, "read_table", side_effect=spy):
            ms.tx_refresh_matview_star(spark, dst)
        bad = set(calls) & {
            _os.path.abspath(fact),
            _os.path.abspath(d_ord),
            _os.path.abspath(d_part),
        }
        assert not bad, f"star refresh re-read source table(s): {bad}"
        applied, current = ms.matview_star_lag(dst)
        assert applied == current
        assert applied == {"fact": 2, "ord": 2, "prt": 2}

    return stage_dir_once(build, "txtable_matview_star_v1", sf_dir)


def q_tx_matview_join3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained three-table star view's public columns; double
    aggregates rounded (2dp) because incremental addition order
    legitimately differs from a one-pass recompute."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators import txtable as tx

    base = _build_matview_star(spark, sf_dir)
    out = tx.read_table(spark, _os.path.join(base, "mv"))
    return out.select(
        "l_returnflag",
        "o_orderstatus",
        "p_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("qty"), 2).alias("qty"),
        F.round(F.col("avg_price"), 2).alias("avg_price"),
    )


SQL_TX_MATVIEW_JOIN3 = """
WITH f AS (
  SELECT l_orderkey, l_partkey, l_returnflag, l_quantity
  FROM lineitem
  WHERE l_quantity > 5 AND l_returnflag <> 'R'
), o AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
  FROM orders
), p AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 7 = 0 THEN 'migrated' ELSE p_type END
           AS p_type
  FROM part
)
SELECT f.l_returnflag, o.o_orderstatus, p.p_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(f.l_quantity), 2) AS qty,
       ROUND(AVG(o.o_totalprice), 2) AS avg_price
FROM f
JOIN o ON f.l_orderkey = o.o_orderkey
JOIN p ON f.l_partkey = p.p_partkey
GROUP BY 1, 2, 3
"""


# --------------------------------- async auto-maintenance + vacuum


def _build_auto_vacuumed(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a table under async auto-maintenance
    with retention-windowed auto-vacuum — streaming-merge-shaped small
    appends accumulate, the background worker lands EXACTLY ONE sized
    compaction (never inside a committing writer, pinned by the unit
    suite's gate test), and the vacuum pass physically deletes the
    rewrite's garbage in the same cycle (VERDICT r10 item 5)."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        p = _os.path.join(tmp, "t")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        tx.tx_append(src.where("o_orderkey % 8 = 0").coalesce(1), p)
        tx.tx_set_maintenance(
            p, small_file_bytes=64 << 20, small_file_count=5,
            vacuum_retain_versions=1, vacuum_min_age_seconds=0.0,
            mode="async",
        )
        for i in range(1, 8):
            tx.tx_append(
                src.where(f"o_orderkey % 8 = {i}").coalesce(1), p
            )
        tx.drain_maintenance()
        acts = [c.action for c in tx.read_log(p)]
        assert acts.count("compact") == 1, acts
        snap = tx.snapshot(p)
        assert len(snap.files) <= 6, len(snap.files)
        # the auto-vacuum left no unreferenced visible data file
        store = tx.get_data_store(p)
        on_disk = {
            f"data/{n}"
            for n in store.list_files(_os.path.join(p, "data"))
            if not _os.path.basename(n).startswith(".")
        }
        live = set(snap.files) | set((snap.dvs or {}).values())
        assert on_disk == live, sorted(on_disk - live)

    return stage_dir_once(build, "txtable_auto_vacuum_v1", sf_dir)


def q_tx_auto_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-maintained, auto-vacuumed table reads back
    content-invariant: layout changed, bytes were reclaimed, rows
    never moved."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    base = _build_auto_vacuumed(spark, sf_dir)
    return tx.read_table(spark, _os.path.join(base, "t"))


SQL_TX_AUTO_VACUUM = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
"""


# ------------------------------------ streaming source from SQL text


def q_tx_stream_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming txtable source reached ENTIRELY from SQL text
    (VERDICT r10 item 7): ``tx_stream_view`` registers the stream
    under a temp view with the WHERE string compiled by the DML
    router's clause compiler onto the source's pushdown option, and
    the query over it is plain SQL — same rows as the option-JSON
    twin (``tx_stream_source``), same checkpoint-restart contract
    (pinned in tests/test_txsource_stream.py)."""
    import uuid as _uuid

    from event_streaming_toy_example_spark.operators import txsql
    from event_streaming_toy_example_spark.plans.queries_ext import (
        await_or_raise,
    )
    from event_streaming_toy_example_spark.plans.queries_ext36 import (
        _build_stream_src,
    )

    path = _build_stream_src(spark, sf_dir)
    txsql.tx_register(spark, path, "txsql_stream_events")
    view = f"txsql_stream_{_uuid.uuid4().hex[:8]}"
    txsql.tx_stream_view(
        spark, "txsql_stream_events", view=view, where="value >= 50.0"
    )
    agg = txsql.tx_sql(spark, f"""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cc
        FROM {view}
        GROUP BY event_type
    """)
    name = f"txsqlstream_{_uuid.uuid4().hex[:8]}"
    from event_streaming_toy_example_spark.streaming.tuning import (
        stream_tuning,
    )

    with stream_tuning(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, "tx_stream_sql")
    return spark.table(name)


SQL_TX_STREAM_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cc
FROM events
WHERE value >= 50.0
GROUP BY event_type
"""


EXT37_QUERIES = {
    "tx_sql_catalog": q_tx_sql_catalog,
    "tx_sql_constraints": q_tx_sql_constraints,
    "tx_truncate_restore": q_tx_truncate_restore,
    "tx_zorder_string_pruning": q_tx_zorder_string_pruning,
    "tx_matview_join3": q_tx_matview_join3,
    "tx_auto_vacuum": q_tx_auto_vacuum,
    "tx_stream_sql": q_tx_stream_sql,
}

EXT37_ORACLES = {
    "tx_sql_catalog": SQL_TX_SQL_CATALOG,
    "tx_sql_constraints": SQL_TX_SQL_CONSTRAINTS,
    "tx_truncate_restore": SQL_TX_TRUNCATE_RESTORE,
    "tx_zorder_string_pruning": SQL_TX_ZORDER_STRING,
    "tx_matview_join3": SQL_TX_MATVIEW_JOIN3,
    "tx_auto_vacuum": SQL_TX_AUTO_VACUUM,
    "tx_stream_sql": SQL_TX_STREAM_SQL,
}
