"""Round-3 wave Y: column-mapping rename, time-weighted averages, and
sliding-window distincts.

- ``lakehouse_column_rename`` — Delta-column-mapping-style RENAME as a
  metadata-only operation: pre-rename files keep the old physical
  name, post-rename files carry the new one, and the reader coalesces
  physical→logical at scan time. The snapshot aggregates BY the
  renamed column under the hash gate, so a mapping bug (dropped
  values, wrong coalesce order, leaked physical column) fails on
  values.
- ``timeseries_twap_user`` — time-weighted average (the TWAP/financial
  sampling-bias-free mean) per user: each observation weighted by its
  holding duration, computed from exact integer microseconds.
- ``events_rolling_distinct_users_7d`` — distinct users over a
  7-day sliding window, the aggregation DISTINCT-over-window can't
  express directly: dedupe to (user, day) grain, fan each active day
  into the 7 report days it supports, dedupe again, count.

Reference parity: none; extends SURVEY.md §2b lakehouse ops and the
events/time-series family.
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


@query(
    "lakehouse_column_rename",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(price_usd) AS n_priced,
           CAST(round(sum(CAST(price_usd AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_usd
    FROM (SELECT o_orderstatus, o_totalprice AS price_usd FROM orders) t
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "schema"),
)
def lakehouse_column_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column RENAME across mixed file vintages: half of
    orders lands under the old name (o_totalprice), the table renames
    the column to price_usd WITHOUT rewriting any file, and the other
    half lands under the new name. The snapshot must surface ONE
    logical price_usd column whose per-status counts and decimal sums
    equal a straight relational rename of raw orders — count(price_usd)
    catches the classic mapping bug where one vintage's values turn
    into NULLs.

    Scale: rename is O(metadata) at any table size (the point of
    Delta column mapping); the read-side coalesce is a codegen
    projection over the mergeSchema scan, no shuffle added
    (plans/lakehouse.py:_apply_renames).
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_rename_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0))
    t.rename_column("o_totalprice", "price_usd")
    t.append(
        o.where(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
            "o_totalprice", "price_usd"
        )
    )
    return (
        t.snapshot()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("price_usd").alias("n_priced"),
            dround(dsum(F.col("price_usd")), 2).alias("total_usd"),
        )
    )


@query(
    "timeseries_twap_user",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS tus,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS next_tus
      FROM events
    ), weighted AS (
      SELECT user_id,
             CAST(sum(CAST(value * ((next_tus - tus) / 86400000000.0)
                           AS DECIMAL(28,12))) AS DOUBLE) AS vw,
             CAST(sum(CAST((next_tus - tus) / 86400000000.0
                           AS DECIMAL(28,12))) AS DOUBLE) AS w,
             count(*) AS n_obs
      FROM seq WHERE next_tus IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_obs + 1 AS n_events,
           CAST(round(vw / w, 4) AS DOUBLE) AS twap
    FROM weighted
    """,
    tags=("timeseries", "window"),
)
def timeseries_twap_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each observation
    is weighted by how long it "held" — the duration to the next
    event — so burst sampling can't bias the mean (the difference
    from plain avg() that makes TWAP the standard for irregular
    series). Durations come from exact integer microseconds
    (epoch_us ≡ unix_micros), weighted terms are decimal-cast, and
    the last observation carries zero weight by construction.

    Scale: one user-partitioned lead() window + one hash aggregate —
    the same bounded shape as the EWMA/gap queries; no global sort.
    """
    e = T(spark, sf_dir, "events")
    from pyspark.sql import Window

    tus = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(tus, "event_id")
    seq = e.select(
        "user_id",
        "value",
        tus.alias("tus"),
        F.lead(tus).over(w).alias("next_tus"),
    ).where(F.col("next_tus").isNotNull())
    dt_days = (F.col("next_tus") - F.col("tus")) / 86400000000.0
    dec = "decimal(28,12)"
    return (
        seq.groupBy("user_id")
        .agg(
            F.sum((F.col("value") * dt_days).cast(dec)).alias("vw"),
            F.sum(dt_days.cast(dec)).alias("w"),
            (F.count("*") + 1).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("vw").cast("double") / F.col("w").cast("double"), 4)
            .cast("double")
            .alias("twap"),
        )
    )


@query(
    "events_rolling_distinct_users_7d",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), bounds AS (
      SELECT min(d) AS d_lo, max(d) AS d_hi FROM active
    ), fan AS (
      SELECT DISTINCT a.user_id, a.d + CAST(i.i AS INTEGER) AS report_day
      FROM active a CROSS JOIN (SELECT CAST(range AS BIGINT) AS i
                                FROM range(0, 7)) i
    )
    SELECT report_day,
           count(*) AS distinct_users_7d
    FROM fan, bounds
    WHERE report_day BETWEEN d_lo AND d_hi
    GROUP BY report_day
    """,
    tags=("events", "window", "distinct"),
)
def events_rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users over a trailing 7-day window per day — the
    rolling-DAU/WAU metric COUNT(DISTINCT) OVER a window frame cannot
    express. Shape: dedupe to (user, active-day) grain (tiny), fan
    each active day into the ≤7 report days it supports, dedupe
    (user, report_day), count — all set arithmetic, exactly
    hash-checkable, no approximate sketches needed.

    Scale: the fan-out is 7× the (user, day) GRAIN, not 7× the raw
    events — the dedupe-first ordering is what keeps this linear; at
    100 TB the same plan runs with the grain table as the only
    shuffle, and the HLL-sketch variant (agg_hll_union) is the
    constant-memory fallback when even the grain explodes.
    """
    e = T(spark, sf_dir, "events")
    active = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    b = active.agg(F.min("d").alias("d_lo"), F.max("d").alias("d_hi"))
    fan = (
        active.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("i")).alias("report_day"))
        .distinct()
    )
    return (
        fan.crossJoin(F.broadcast(b))
        .where(F.col("report_day").between(F.col("d_lo"), F.col("d_hi")))
        .groupBy("report_day")
        .agg(F.count("*").alias("distinct_users_7d"))
    )


@query(
    "lakehouse_tag_time_travel",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "timetravel"),
)
def lakehouse_tag_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-ref time travel (Iceberg tags / Delta VERSION AS OF a
    ref): commit the even orders, TAG that version 'baseline', commit
    the odd orders, then read ``snapshot(tag='baseline')`` — the
    aggregate must equal the even half exactly, proving the tag pins
    the pre-append version regardless of later commits.

    Scale: a tag is one metadata entry; resolving it is an O(1)
    lookup before the normal versioned read — the audit/reproduce
    primitive ML pipelines use to freeze "the snapshot we trained on".
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_tags_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0))
    t.tag("baseline")
    t.append(o.where(F.col("o_orderkey") % 2 == 1))
    return (
        t.snapshot(tag="baseline")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
    )


@query(
    "lakehouse_branch_workflow",
    oracle="""
    WITH merged AS (
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'S' AS o_orderstatus, o_totalprice * 0.9 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "branch"),
)
def lakehouse_branch_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish on an append-only BRANCH: main holds the
    even orders; a 'staging' branch forks at that head and receives
    the odd orders transformed (status 'S', 10% discount); main must
    NOT see them (asserted) until merge_branch fast-forwards the
    branch's commits in. The post-merge aggregate is hash-checked
    against the relational union, so isolation AND publish must both
    be row-exact.

    Scale: a branch is a metadata ref plus its own commit chain —
    forking copies nothing, the audit read is a normal snapshot, and
    the fast-forward merge moves O(commits) log entries, never data
    (the Iceberg/Nessie WAP pattern).
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_branch_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0))
    main_rows = t.snapshot().count()
    t.create_branch("staging")
    staged = (
        o.where(F.col("o_orderkey") % 2 == 1)
        .withColumn("o_orderstatus", F.lit("S"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 0.9)
    )
    t.branch_append("staging", staged)
    assert t.snapshot().count() == main_rows, "branch write leaked into main"
    t.merge_branch("staging")
    return (
        t.snapshot()
        .select("o_orderstatus", "o_totalprice")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
    )


@query(
    "lakehouse_hidden_partitioning",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS order_month,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE year(o_orderdate) = 1995 AND month(o_orderdate) BETWEEN 3 AND 5
    GROUP BY 1
    """,
    tags=("lakehouse", "partition", "transform"),
)
def lakehouse_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg HIDDEN partitioning: the spec is the TRANSFORM
    ``month(o_orderdate)`` — users never see or maintain a derived
    month column; the writer computes it, stores it ONLY in the
    commit log's per-file stats (one file per month, min==max), and
    drops it before the bytes land. A March-May 1995 scan then prunes
    by the transform value and filters the RAW date column —
    correctness never depends on the pruning (the Iceberg contract),
    which the oracle's straight filter over raw orders verifies.

    Scale: this is how a 100 TB time-series table answers month-range
    scans by opening O(months) files while writers remain free to
    evolve the transform (tests cover bucket/truncate too); the
    per-partition write loop is bounded by the partition domain —
    bounded by design for any sane transform.
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = (
        T(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1995)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_hidden_"))
    t.set_partition_spec(["month(o_orderdate)"])
    t.append_partitioned(o)
    pruned, scanned, total = t.scan_pruned_hidden(
        "month(o_orderdate)", "1995-03", "1995-05"
    )
    assert scanned < total, "month pruning must skip files"
    return (
        pruned.where(F.month("o_orderdate").between(3, 5))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
    )


@query(
    "lakehouse_partial_compaction",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "maintenance", "compaction"),
)
def lakehouse_partial_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE the way it actually runs at scale: commit orders in 8
    small slices, pick the SMALLEST files from the commit log (the
    planner's bin), and rewrite only those via ``compact_files`` —
    Delta RemoveFile semantics: replaced files leave the live set,
    the rest of the table is untouched, time travel below the rewrite
    still works, and incremental readers skip it (data_change=False).
    The post-compaction snapshot aggregate must equal raw orders, so
    a dropped/duplicated row in the rewrite flips the hash.

    Scale: full ``compact()`` restates 100% of a table; this path
    rewrites O(bin) — the difference between an OPTIMIZE that costs
    minutes and one that costs the whole cluster-day at 100 TB.
    """
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_partial_"))
    for q in range(8):
        t.append(o.where(F.col("o_orderkey") % 8 == q).repartition(1))
    sized = sorted(
        ((c.row_count, f) for c in t.history() for f in c.files)
    )[:4]
    n_before = len(t.pin().files)
    t.compact_files([f for _n, f in sized])
    assert len(t.pin().files) == n_before - 3, "4 files must become 1"
    return (
        t.snapshot()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
    )
