"""Round-7 wave AK: CDF typed-feed coverage + spec-native widening.

Two gates for the round-7 lakehouse fixes:

- ``streaming_cdf_decimal_feed`` — the CDF streaming DataSource over
  a table whose columns are decimal(12,2) and date (the TPC-H shape
  it previously rejected at ``schema()``), hash-checked against a
  pure-SQL reconstruction of the feed.
- ``lakehouse_widen_compact_native`` — OPTIMIZE as the spec-native
  migration for non-spec type promotions: after ``widen_column``
  (int → decimal) and ``compact()``, every live file's parquet
  footer physically carries the widened type (the gate surfaces the
  footer-vintage count as a column, so a regression hash-mismatches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_test_spark.registry import query
from lakehouse_test_spark.session import load_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "streaming_cdf_decimal_feed",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k,
             CAST(o_orderkey % 100000 + 0.25 AS DECIMAL(12,2)) AS price,
             CAST(o_orderdate AS DATE) AS od
      FROM orders
    )
    SELECT k, price, od, 'insert' AS _change_type,
           CAST(k % 2 AS INTEGER) AS _commit_version
    FROM src
    UNION ALL
    SELECT k, price, od, 'delete' AS _change_type,
           CAST(2 AS INTEGER) AS _commit_version
    FROM src WHERE price < 750
    """,
    tags=("streaming", "lakehouse", "cdf", "decimal", "datasource"),
)
def streaming_cdf_decimal_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDF streaming source over a DECIMAL + DATE table — the
    column shape every TPC-H-style table has (and the one the source
    used to reject outright): even keys commit at v0, odd at v1, a
    deletion vector removes the cheap rows at v2; the drained feed
    must hash-match the SQL reconstruction, types included.

    Scale: same plan as streaming_cdf_source — one partition per data
    file for inserts, one per DV FILE for deletes (each executor
    groups its DV's positions by base file; the driver never holds a
    position list), Arrow RecordBatches end to end.
    """
    import tempfile

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import register
    from lakehouse_test_spark.streaming.jobs import _drain_to_memory

    register(spark)
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 100000 + F.lit(0.25))
        .cast("decimal(12,2)")
        .alias("price"),
        F.to_date("o_orderdate").alias("od"),
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_cdfdec_"))
    t.append(o.where(F.col("k") % 2 == 0).repartition(2))
    t.append(o.where(F.col("k") % 2 == 1).repartition(2))
    t.delete_where_dv("price < 750")
    stream = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .load()
        .drop("_commit_timestamp")  # wall-clock; gated elsewhere
    )
    return _drain_to_memory(stream, "append")


@query(
    "lakehouse_widen_compact_native",
    oracle="""
    SELECT p_brand AS brand,
           CAST(round(sum(CAST(p_size AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS sum_v,
           count(*) AS n_parts,
           CAST(1 AS INTEGER) AS n_footer_vintages
    FROM part GROUP BY p_brand
    """,
    tags=("lakehouse", "alter", "widen", "compact"),
)
def lakehouse_widen_compact_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE materializes type widening: int→decimal is NOT in
    Iceberg's blessed promotion set, so pre-widen files need an
    explicit-schema crutch for foreign readers — until a compaction
    rewrites them. compact() reads through the widened schema, so the
    rewritten files physically carry decimal(12,2); the gate surfaces
    the live footer-vintage count as a column (expected 1) and
    aggregates the widened column, so both a physical-type regression
    and a value corruption hash-mismatch.

    Scale: the widening itself is pure metadata (zero rewrite); the
    materialization piggybacks on OPTIMIZE, which a 100 TB table runs
    bin-by-bin anyway — no dedicated migration pass.
    """
    import tempfile

    import pyarrow.parquet as pq

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").cast("int").alias("v"),
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_widcomp_"))
    t.append(p.where(F.col("k") % 2 == 0))
    t.widen_column("v", "decimal(12,2)")
    t.append(
        p.where(F.col("k") % 2 == 1).withColumn(
            "v", F.col("v").cast("decimal(12,2)")
        )
    )
    t.compact(target_partitions=2)
    vintages = {
        str(pq.read_schema(t.path / f).field("v").type) for _c, f in t.pin().files
    }
    return (
        t.snapshot()
        .groupBy("brand")
        .agg(
            F.round(F.sum("v"), 2).cast("double").alias("sum_v"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .withColumn("n_footer_vintages", F.lit(len(vintages)).cast("int"))
    )


@query(
    "lakehouse_cdf_bounded_window",
    oracle="""
    WITH src AS (
      SELECT s_suppkey AS k,
             CAST(round(s_acctbal, 2) AS DOUBLE) AS bal,
             s_suppkey % 3 AS b
      FROM supplier
    )
    SELECT k, bal, 'insert' AS _change_type,
           CAST(b AS INTEGER) AS _commit_version
    FROM (SELECT k, bal, b FROM src WHERE b <= 1)
    """,
    tags=("lakehouse", "cdf", "incremental"),
)
def lakehouse_cdf_bounded_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded change window (Delta CDF ``endingVersion``):
    ``read_changes_cdf(-1, upto_version=1)`` over a 3-commit table
    replays exactly commits 0–1 — and a RESTATE at v3 (beyond the
    window) must not poison the bounded read. Hash-checked against
    the SQL reconstruction of the first two commits.

    Scale: the window parse is O(commits in window) (checkpointed
    planning below, `_commits_between` above); the load itself is ONE
    scan of the windowed live set + a broadcast file→version map —
    plan-pinned single FileScan, no per-commit union.
    """
    import tempfile

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    s = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.round("s_acctbal", 2).alias("bal"),
        (F.col("s_suppkey") % 3).alias("b"),
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_cdfwin_"))
    for b in range(3):
        t.append(s.where(F.col("b") == b).drop("b").repartition(2))
    t.delete_where("bal < 0")  # v3: restate BEYOND the window
    return t.read_changes_cdf(-1, upto_version=1).drop("_commit_timestamp")


@query(
    "lakehouse_incremental_export",
    oracle="""
    SELECT n_nationkey AS k, n_name AS name,
           CAST(n_nationkey % 2 AS INTEGER) IS NOT NULL AS lively
    FROM nation
    """,
    tags=("lakehouse", "delta", "export", "incremental"),
)
def lakehouse_incremental_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Delta export drill: export after the first commit,
    append, re-export (the second call must RESUME — pinned by
    asserting the first commit's action file is byte-identical), then
    replay the exported ``_delta_log`` through the external-reader
    path and hash-check it against the source table.

    Scale: per-call export cost follows the NEW commits (84× vs the
    full rewrite at 122 commits, SCALE.md) — the per-micro-batch
    export pattern a streaming table needs.
    """
    import tempfile

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    n = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("name")
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_incexp_"))
    t.append(n.where(F.col("k") % 2 == 0).repartition(1))
    log_dir = export_delta_log(spark, t)
    first = (log_dir / f"{0:020d}.json").read_text()
    t.append(n.where(F.col("k") % 2 == 1).repartition(1))
    export_delta_log(spark, t)
    resumed = (log_dir / f"{0:020d}.json").read_text() == first
    return read_delta_log(spark, str(t.path)).withColumn(
        "lively", F.lit(bool(resumed))
    )
