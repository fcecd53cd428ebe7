"""Round-4 wave AE: lakehouse write-path depth + UDF/bucketing gaps.

- ``lakehouse_merge_schema_evolution`` — MERGE with Delta
  ``schema.autoMerge`` semantics: source-only columns evolve the
  table schema, target-only columns survive ``UPDATE SET *``, all
  under the hash gate via a relational oracle reconstruction.
- ``lakehouse_identity_column`` — GENERATED ALWAYS AS IDENTITY:
  ids allocated from a persisted high-water mark across commits by a
  shuffle-free block row-number (operators/ordering.py), exact ids
  hash-gated against a row_number() oracle.
- ``udf_cogroup_join_stats`` — ``cogroup(...).applyInPandas``: the
  two-sided grouped-map UDF (Arrow-batched, per-key pandas frames),
  hash-gated against the equivalent relational join+aggregate.
- ``join_bucketed_smj_no_shuffle`` — Spark bucketed tables
  (``bucketBy`` + ``sortBy``): the co-located sort-merge join whose
  physical plan contains NO exchange on either input (pinned in
  tests/test_plans.py) — at 100 TB, bucketing both fact tables on
  the join key turns every future join into a shuffle-free merge.

Reference parity: extends §2a op 33 (table write path) and the §2b
UDF matrix; bucketed joins re-express the reference's fixed
topic-partition co-location (PerformanceConsumer.java:111) in the
table domain.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_test_spark.fpsafe import dround, dsum
from lakehouse_test_spark.registry import query
from lakehouse_test_spark.session import load_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# MERGE schema evolution (Delta autoMerge) under the hash gate
# --------------------------------------------------------------------------


@query(
    "lakehouse_merge_schema_evolution",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ), src AS (
      SELECT o_orderkey,
             o_totalprice * 1.5 AS o_totalprice,
             CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_rank
      FROM orders WHERE o_orderkey % 2 = 0
    ), merged AS (
      SELECT s.o_orderkey, t.o_orderstatus, s.o_totalprice, s.priority_rank
      FROM src s LEFT JOIN target t ON s.o_orderkey = t.o_orderkey
      UNION ALL
      SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice,
             CAST(NULL AS INT) AS priority_rank
      FROM target t
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
    )
    SELECT coalesce(o_orderstatus, '<null>') AS status,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price,
           count(priority_rank) AS n_ranked,
           CAST(coalesce(sum(priority_rank), 0) AS BIGINT) AS sum_rank
    FROM merged GROUP BY 1
    """,
    tags=("lakehouse", "merge", "schema-evolution"),
)
def lakehouse_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (Delta ``schema.autoMerge``):
    the source carries a NEW column (``priority_rank``) and LACKS a
    target column (``o_orderstatus``). After the merge the table
    schema has both; matched rows keep their target status while
    taking the source price+rank (``UPDATE SET *`` touches only
    source columns), inserted rows read NULL status, untouched
    target rows read NULL rank. The oracle reconstructs exactly that
    relationally, so any wrong NULLing/overwrite flips the hash.

    Scale: evolution adds ONE key-shuffled join of the (small)
    source against a two-column projection of the snapshot — the
    full-snapshot pass count is unchanged (plans/lakehouse.py:merge).
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = T(spark, sf_dir, "orders")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_evolve_"))
    t.append(
        o.select("o_orderkey", "o_orderstatus", "o_totalprice").where(
            F.col("o_orderkey") % 3 != 0
        )
    )
    src = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.5).alias("o_totalprice"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_rank"),
    )
    t.merge(src, key_cols=["o_orderkey"], schema_evolution=True)
    return (
        t.snapshot()
        .groupBy(F.coalesce("o_orderstatus", F.lit("<null>")).alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
            F.count("priority_rank").alias("n_ranked"),
            F.coalesce(F.sum("priority_rank"), F.lit(0))
            .cast("bigint")
            .alias("sum_rank"),
        )
    )


# --------------------------------------------------------------------------
# GENERATED ALWAYS AS IDENTITY under the hash gate
# --------------------------------------------------------------------------


@query(
    "lakehouse_identity_column",
    oracle="""
    WITH b1 AS (
      SELECT c_custkey, c_acctbal,
             row_number() OVER (ORDER BY c_custkey) AS k
      FROM customer WHERE c_custkey % 3 = 0
    ), b2 AS (
      SELECT c_custkey, c_acctbal,
             (SELECT count(*) FROM customer WHERE c_custkey % 3 = 0)
               + row_number() OVER (ORDER BY c_custkey) AS k
      FROM customer WHERE c_custkey % 3 = 1
    )
    SELECT CAST(100 + 5 * (k - 1) AS BIGINT) AS row_id, c_custkey, c_acctbal
    FROM b1
    UNION ALL
    SELECT CAST(100 + 5 * (k - 1) AS BIGINT), c_custkey, c_acctbal FROM b2
    """,
    tags=("lakehouse", "identity"),
)
def lakehouse_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity column (Delta GENERATED ALWAYS AS IDENTITY): two
    appends that never supply ``row_id`` get ids ``100 + 5k``
    allocated from the table's persisted high-water mark — the
    second commit continues exactly where the first stopped. The
    exact per-row ids are hash-gated against a row_number() oracle.

    The id primitive (operators/ordering.py:block_row_number) never
    shuffles — per-partition counts + a broadcast offset join — so
    at 100 TB an identity append costs one P-row aggregate over the
    incoming batch, nothing data-sized. The gate pins each batch to
    ONE sorted partition purely so the placement-dependent ids
    become oracle-predictable; uniqueness and high-water continuity
    (what identity actually promises) hold at any partition count
    (tests/test_wave31.py exercises 32-partition appends).
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ident_"))
    t.set_identity("row_id", start=100, step=5)
    for parity in (0, 1):
        batch = (
            c.where(F.col("c_custkey") % 3 == parity)
            .repartitionByRange(1, "c_custkey")
            .sortWithinPartitions("c_custkey")
        )
        t.append(batch)
    return t.snapshot().select("row_id", "c_custkey", "c_acctbal")


# --------------------------------------------------------------------------
# cogrouped applyInPandas (two-sided grouped-map UDF)
# --------------------------------------------------------------------------


@query(
    "udf_cogroup_join_stats",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_orders,
           CAST(round(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 0), 2)
                AS DOUBLE) AS total_spend,
           max(c.c_acctbal) AS acctbal
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 7 = 0
    GROUP BY c.c_custkey
    """,
    tags=("udf", "pandas", "cogroup"),
)
def udf_cogroup_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cogroup(...).applyInPandas``: customers and their orders
    arrive as two per-key pandas frames in ONE task; the UDF computes
    order count / decimal-exact spend / account balance per customer,
    including customers with zero orders (empty right frame). Gate:
    hash-match against the relational LEFT JOIN + GROUP BY.

    Scale: cogroup shuffles BOTH sides once on the key — identical
    movement to the join it replaces — and streams each key's pair
    of Arrow batches through the UDF; per-key pandas state never
    exceeds one customer's orders. Use it when per-key logic needs
    both inputs at once and genuinely can't be a join+agg (walk-
    forward validation, per-entity reconciliation); this gate keeps
    the semantics oracle-checkable.
    """
    import pandas as pd

    c = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", "c_acctbal")
    )
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    # pre-filter the orders side with the same predicate so the
    # cogroup shuffle carries only matching keys (at 100 TB this is
    # the difference between shuffling 1/7th and all of orders)
    o = o.where(F.col("o_custkey") % 7 == 0)

    def stats(key, cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
        if cust.empty:  # orders for a filtered-out customer: emit nothing
            return pd.DataFrame(
                columns=["c_custkey", "n_orders", "total_spend", "acctbal"]
            )
        from decimal import ROUND_HALF_UP, Decimal

        spend = sum(
            (Decimal(str(v)) for v in orders["o_totalprice"]), Decimal(0)
        ).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        return pd.DataFrame(
            {
                "c_custkey": [key[0]],
                "n_orders": [len(orders)],
                "total_spend": [float(spend)],
                "acctbal": [cust["c_acctbal"].max()],
            }
        )

    return (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            stats,
            schema="c_custkey bigint, n_orders bigint, total_spend double, "
            "acctbal double",
        )
    )


# --------------------------------------------------------------------------
# bucketed tables: the zero-shuffle sort-merge join
# --------------------------------------------------------------------------


@query(
    "join_bucketed_smj_no_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "layout"),
)
def join_bucketed_smj_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two BUCKETED tables (``bucketBy(8, key)`` + ``sortBy``)
    — Spark reads both sides already hash-partitioned on the join
    key, so the sort-merge join plans with NO Exchange on either
    side (pinned in tests/test_plans.py); the residual per-task Sort
    is in-memory within a bucket, never a network move.

    Scale: THE layout decision for a 100 TB fact-to-fact join.
    Shuffling both sides on every run moves the whole dataset
    through the network; bucketing amortizes that one-time shuffle
    into the write path, and every subsequent join/aggregation on
    the bucket key is exchange-free. The bench's broadcast/AQE paths
    cover the small-dim case; this is the big-big case.
    """
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketed")
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    # EXTERNAL locations under a fresh tempdir: the default managed
    # location persists across sessions while the in-memory catalog
    # does not, so a rerun would hit LOCATION_ALREADY_EXISTS
    root = tempfile.mkdtemp(prefix="lh_bucketed_")
    for name, df, key in (
        ("bucketed.orders_b", o, "o_orderkey"),
        ("bucketed.lineitem_b", l, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # repartition to the bucket count ON the bucket key:
            # writer hash == bucket hash, so each task holds exactly
            # one bucket → ONE sorted file per bucket (readers then
            # skip the per-task Sort entirely) instead of
            # tasks × buckets small files
            df.repartition(8, key)
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{root}/{name.split('.')[1]}")
            .format("parquet")
            .saveAsTable(name)
        )
    ob, lb = spark.table("bucketed.orders_b"), spark.table("bucketed.lineitem_b")
    joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        dround(dsum(F.col("l_extendedprice")), 2).alias("revenue"),
    )
    return joined


# --------------------------------------------------------------------------
# CONVERT TO DELTA analog: in-place adoption of existing parquet
# --------------------------------------------------------------------------


@query(
    "lakehouse_convert_in_place",
    oracle="""
    WITH src AS (
      SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_partkey % 3 = 0
    ), kept AS (
      SELECT * FROM src WHERE p_partkey % 13 <> 0
    ), added AS (
      SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_partkey % 3 = 2
    ), final AS (
      SELECT * FROM kept UNION ALL SELECT * FROM added
    )
    SELECT p_brand, count(*) AS n_parts,
           CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM final GROUP BY p_brand
    """,
    tags=("lakehouse", "convert", "interop"),
)
def lakehouse_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA analog: adopt a plain parquet directory as a
    lakehouse table WITHOUT copying data (commit references the files
    in place; footers supply row counts + zone maps), then prove the
    whole feature set runs on top: a DV DELETE (row-level, against
    the external files), an APPEND (lands under the table dir), and
    a pruned point-range scan that must actually skip files.

    Scale: conversion is one footer read per file — the only viable
    migration for a 100 TB estate; a copy-based import would be a
    full data pass before the first query.
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    src_dir = tempfile.mkdtemp(prefix="lh_plainpq_")
    (
        p.where(F.col("p_partkey") % 3 == 0)
        .repartitionByRange(4, "p_partkey")
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_convert_"))
    t.convert_from_parquet(src_dir, stats_cols=["p_partkey"])
    t.delete_where_dv("p_partkey % 13 = 0")
    t.append(
        p.where(F.col("p_partkey") % 3 == 2), stats_cols=["p_partkey"]
    )
    # zone maps harvested at conversion must actually skip: a range
    # probe in the first quartile cannot touch all range-partitioned
    # source files
    _df, scanned, total = t.scan_pruned("p_partkey", 0, 10)
    if not (scanned < total):
        raise AssertionError(
            f"converted zone maps did not skip files ({scanned}/{total})"
        )
    return (
        t.snapshot()
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dround(dsum(F.col("p_retailprice")), 2).alias("total_price"),
        )
        .localCheckpoint()
    )


# --------------------------------------------------------------------------
# UniForm-style dual export: one table, both protocols, equal replays
# --------------------------------------------------------------------------


@query(
    "lakehouse_uniform_dual_export",
    oracle="""
    WITH live AS (
      SELECT event_type, value FROM events
      WHERE event_id % 5 <> 0
    ), agg AS (
      SELECT event_type, count(*) AS n,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
      FROM live GROUP BY event_type
    )
    SELECT event_type,
           n AS n_delta, n AS n_iceberg,
           total AS total_delta, total AS total_iceberg
    FROM agg
    """,
    tags=("lakehouse", "interop", "delta", "iceberg", "uniform"),
)
def lakehouse_uniform_dual_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm-style dual interop: export BOTH Delta-protocol and
    Iceberg-v2 metadata over the SAME committed data files (one copy
    of the data, two reader ecosystems — Delta UniForm's contract),
    then replay the table through each protocol independently and
    emit both aggregates side by side. The oracle asserts the two
    protocols agree with the SQL truth column-for-column, so any
    divergence between the exporters (DV handling, dropped commits,
    schema drift) flips the hash.

    Scale: both exports are metadata-only (O(files) driver work, no
    data pass) — publishing 100 TB to two ecosystems costs the same
    as to one.
    """
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_uniform_"))
    t.append(e.where(F.col("event_id") % 2 == 0))
    t.append(e.where(F.col("event_id") % 2 == 1))
    t.delete_where_dv("event_id % 5 = 0")  # DVs: the hard interop case
    export_delta_log(spark, t)
    export_iceberg_metadata(spark, t)

    def _agg(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"n_{suffix}"),
            dround(dsum(F.col("value")), 2).alias(f"total_{suffix}"),
        )

    via_delta = _agg(read_delta_log(spark, str(t.path)), "delta")
    via_iceberg = _agg(read_iceberg(spark, str(t.path)), "iceberg")
    return (
        via_delta.join(via_iceberg, "event_type", "full_outer")
        .select("event_type", "n_delta", "n_iceberg", "total_delta", "total_iceberg")
        .localCheckpoint()
    )


# --------------------------------------------------------------------------
# incremental clustering (liquid-clustering maintenance loop)
# --------------------------------------------------------------------------


@query(
    "lakehouse_cluster_incremental",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_bal
    FROM customer
    WHERE c_custkey % 100 < 40
    """,
    tags=("lakehouse", "clustering", "optimize"),
)
def lakehouse_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liquid-clustering maintenance loop under the value gate:
    cluster a seeded table on (c_custkey, c_nationkey), append two
    fresh batches, then ``hilbert_cluster_incremental`` — which must
    rewrite ONLY the new files (RemoveFile semantics; the original
    clustered files stay live and untouched) on the SAME stored grid.
    The query asserts the partial-rewrite invariants in-plan and
    returns the box-scanned slice's aggregate, hash-checked against
    straight SQL — any row lost or duplicated by the incremental
    rewrite flips the hash.

    Scale: the only clustering shape that survives 100 TB — cost is
    O(new data) per maintenance cycle, not O(table).
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_liquid_"))
    t.append(
        c.where(F.col("c_custkey") % 3 == 0).repartition(4),
        stats_cols=["c_custkey", "c_nationkey"],
    )
    t.hilbert_cluster(["c_custkey", "c_nationkey"], target_partitions=4)
    base_files = {f for _c, f in t.pin().files}
    for parity in (1, 2):
        t.append(
            c.where(F.col("c_custkey") % 3 == parity).repartition(2),
            stats_cols=["c_custkey", "c_nationkey"],
        )
    new_raw = {f for _c, f in t.pin().files} - base_files
    commit = t.hilbert_cluster_incremental()
    live = {f for _c, f in t.pin().files}
    if commit is None or set(commit.removed_files) != new_raw:
        raise AssertionError("incremental cluster did not rewrite exactly the new files")
    if not base_files <= live or (new_raw & live):
        raise AssertionError("incremental cluster touched previously clustered files")
    return (
        t.snapshot()
        .where(F.col("c_custkey") % 100 < 40)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
            dround(dsum(F.col("c_acctbal")), 2).alias("total_bal"),
        )
        .localCheckpoint()
    )


# --------------------------------------------------------------------------
# TIMESTAMP AS OF time travel under the value gate
# --------------------------------------------------------------------------


@query(
    "lakehouse_timestamp_time_travel",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey <> 0
    """,
    tags=("lakehouse", "time-travel"),
)
def lakehouse_timestamp_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF resolution (Delta/Iceberg both offer it):
    ``version_at_timestamp`` maps a wall-clock instant to the newest
    commit at-or-before it; reading at the FIRST commit's own
    timestamp must surface exactly the first batch, reading at the
    head timestamp the merged state, and an instant before history
    must refuse. Wall clocks are nondeterministic, so the gate
    travels to timestamps TAKEN FROM the commit log itself — the
    resolved contents are deterministic and hash-checked.
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ts_travel_"))
    t.append(n.where(F.col("n_regionkey") != 0).select("n_nationkey", "n_name"))
    t.append(n.where(F.col("n_regionkey") == 0).select("n_nationkey", "n_name"))
    hist = t.history()
    ts0, ts1 = hist[0].ts, hist[1].ts
    v_head = t.version_at_timestamp(ts1)
    if v_head != 1:
        raise AssertionError(f"head timestamp resolved to v{v_head}")
    try:
        t.version_at_timestamp(ts0 - 3600)
    except ValueError:
        pass
    else:
        raise AssertionError("pre-history timestamp must refuse")
    if ts1 > ts0:  # commits share a clock reading only in theory;
        # assert resolution only when the instants are distinct so
        # the gate can never flake on clock granularity
        v0 = t.version_at_timestamp(ts0)
        if v0 != 0:
            raise AssertionError(f"first-commit timestamp resolved to v{v0}")
    return t.snapshot(version=0).localCheckpoint()
