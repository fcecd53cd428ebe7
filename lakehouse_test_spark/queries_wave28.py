"""Round-4 wave AB: the round's new machinery as gate surfaces.

- ``lakehouse_concurrent_commit_matrix`` — the conflict protocol under
  the HASH gate: a partial compaction REBASES over a concurrent append
  (Delta's disjoint-files rule), a predicate delete RAISES on its race
  and succeeds on recompute-and-retry; the final snapshot must equal
  the straight batch answer, proving no commit was lost or
  double-applied anywhere in the race matrix.
- ``streaming_sink_idempotent_replay`` — foreachBatch is at-least-once
  (a crashed batch re-runs), so the production sink must be
  idempotent: the same window aggregate MERGEd twice leaves the table
  exactly once-applied. Hash-gated against the batch aggregate.
- ``tokenizer_bpe_driver_merges`` — the two-stage BPE architecture's
  serving path: ONE distributed aggregation to the frequency table,
  then exact in-memory training (SentencePiece-style, no whitespace
  pre-tokenization). Rows-only (iterative, no SQL twin); parity with
  the distributed rounds and the sequential reference is pinned in
  tests/test_wave7.py.

Reference parity: extends §2a op 16 (at-least-once ack) and op 33
(offload trigger) into the concurrent-writer regime; tokenizers are
part of the mandated LLM-data extension.
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
    "lakehouse_concurrent_commit_matrix",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_totalprice >= 1000
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "concurrency"),
)
def lakehouse_concurrent_commit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-writer conflict matrix, end to end, value-checked:

    1. writer A appends slice 0;
    2. A partially compacts slice 0's files while writer B's append of
       slice 1 lands mid-commit — the compaction REBASES (disjoint
       files) instead of aborting or clobbering;
    3. A deletes cheap orders while B's append of slice 2 lands
       mid-commit — the restate RAISES (its rewrite was computed
       without slice 2) and the retry against the fresh snapshot
       succeeds.

    The final snapshot must equal the one-shot batch answer over all
    three slices minus the deleted rows — any lost append, stale
    rewrite, or double-applied commit changes counts or sums.
    """
    from lakehouse_test_spark.plans.lakehouse import (
        ConcurrentModificationError,
        LakehouseTable,
    )

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="lakehouse_conc_")
    a = LakehouseTable(spark, path)
    b = LakehouseTable(spark, path)  # second writer, same table

    c0 = a.append(o.where(F.col("o_orderkey") % 3 == 0))

    def race_append_slice1() -> None:
        a._pre_publish_hook = None  # one-shot
        b.append(o.where(F.col("o_orderkey") % 3 == 1))

    a._pre_publish_hook = race_append_slice1
    a.compact_files(c0.files)  # must rebase over B's append

    def race_append_slice2() -> None:
        a._pre_publish_hook = None
        b.append(o.where(F.col("o_orderkey") % 3 == 2))

    a._pre_publish_hook = race_append_slice2
    try:
        a.delete_where("o_totalprice < 1000")
        raise AssertionError("restate published over a concurrent append")
    except ConcurrentModificationError:
        a.delete_where("o_totalprice < 1000")  # recompute-and-retry

    return (
        a.snapshot()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
        .localCheckpoint()  # materialize before the temp table drops
    )


@query(
    "streaming_sink_idempotent_replay",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "sink", "lakehouse", "exactly-once", "events"),
)
def streaming_sink_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-by-idempotence for the production sink: Spark's
    foreachBatch contract is AT-LEAST-ONCE (a batch whose commit
    raced a crash re-runs on restart), so the per-batch upsert must
    be a keyed MERGE whose replay is a no-op. The stream drains into
    the lakehouse sink, then the final micro-batch's aggregate is
    MERGEd a second time (the crash-replay); the hash gate proves the
    table still equals the once-applied batch aggregate."""
    import shutil

    from lakehouse_test_spark.streaming.jobs import (
        _drain_into_table,
        events_stream,
    )

    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(dsum(F.col("value")), 2).alias("total_value"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    table = _drain_into_table(agg, key_cols=["day", "event_type"])
    # replay the drained aggregate — the at-least-once retry
    table.merge(table.snapshot().coalesce(1), key_cols=["day", "event_type"])
    out = table.snapshot().localCheckpoint(eager=True)
    shutil.rmtree(table.path, ignore_errors=True)
    return out


@query(
    "tokenizer_bpe_driver_merges",
    oracle=None,
    tags=("text", "llm", "tokenizer", "iterative"),
)
def tokenizer_bpe_driver_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 64 SentencePiece-style BPE merges (no whitespace
    pre-tokenization: spaces are symbols, merges cross word
    boundaries) via the two-stage architecture: distributed frequency
    aggregation, then exact driver-side training — the path that
    trains an 8k vocabulary in seconds where per-merge Spark rounds
    take hours (SCALE.md). Rows-only gate; parity with the
    distributed batched loop and the sequential reference is pinned
    in tests/test_wave7.py.

    Scale: doc-level sequences make the frequency table grow with the
    corpus, so the trainer consumes a FIXED-COUNT deterministic
    hash-ranked sample (SentencePiece's --input_sentence_size: sample
    size, not corpus size, bounds training) — flat cost at any sf.
    """
    from lakehouse_test_spark.operators.tokens import bpe_train

    d = T(spark, sf_dir, "documents")
    sample = (
        d.orderBy(F.xxhash64("doc_id"), "doc_id").limit(2000)
    )
    merges = bpe_train(
        sample, num_merges=64, pretokenize=False, driver_threshold=1_000_000
    )
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_count long"
    )
