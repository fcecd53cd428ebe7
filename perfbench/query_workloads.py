"""``analytics`` and ``llm_data``: closed-loop, one-client query mixes
over pinned fixture tables.

Each pass runs every query of the workload once, in an order shuffled
by the seed; a run times the fewest whole passes that hold the samples
its bounded tail needs (3 for ``analytics``, 7 for ``llm_data``), so
every run's latency samples hold each query equally often. A query
operation is the ``q.fn(spark, sf_dir)`` call (plan build plus schema
analysis) and its noop-sink action.
"""

from __future__ import annotations

import math
import random
import time

from lakehouse_test_spark.queries import REGISTRY
from lakehouse_test_spark.session import TABLE_NAMES, load_table, pin_fixture_tables

from perfbench import probes, stats, verify
from perfbench.harness import TAIL_Q, Run

ANALYTICS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_orders",
    "join_inner",
    "join_broadcast_dim",
    "agg_count_distinct",
    "window_running_sum",
    "window_topk_per_group",
    "events_daily_rollup",
    "json_agg_by_prop",
    "join_asof_events",
    "streaming_tumbling_counts",
]
LLM_DATA = [
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh",
    "text_quality_scores",
    "pipeline_pretraining_filter",
    "similarity_bruteforce_topk",
    "array_posexplode",
]
ALL_QUERIES = ANALYTICS + LLM_DATA
LLM_TABLES = ["documents", "embeddings"]
ANALYTICS_TABLES = [t for t in TABLE_NAMES if t not in LLM_TABLES]

#: untimed passes after the verify pass. Without them the JIT was still
#: compiling through the timed loop: the first of four timed passes took
#: up to 1.6x the fourth, by an amount that followed the host's speed
WARM_PASSES = 2
#: times the operators probe decomposes the MinHash pipeline (traced runs)
DEDUP_PROBE_REPS = 3


def _layer_of(fn) -> str:
    """Layer a query's ``fn`` belongs to, from its defining module."""
    mod = fn.__module__
    for layer in ("operators", "streaming"):
        if f".{layer}." in mod:
            return layer
    return "queries"


def _setup(run: Run, names: list[str], tables: list[str]) -> None:
    def pin(spark):
        with run.tracer.span("session", "pin_fixture_tables"):
            t0 = time.perf_counter()
            pin_fixture_tables(spark, run.sf_dir, tables)
            run.layer_samples["session.pin_fixture_tables_s"].append(time.perf_counter() - t0)

    run.setup(pin, lambda: _warm_up(run, names))
    from lakehouse_test_spark import session

    run.per_layer["session.pinned_partitions"] = sum(
        df.rdd.getNumPartitions() for df in session._TABLE_CACHE.values()
    )


def _warm_up(run: Run, names: list[str]) -> None:
    """Untimed: the verify pass, then ``WARM_PASSES`` passes of the
    timed operation, so the JVM's JIT and codegen caches are warm
    before timing."""
    _verify_pass(run, names)
    for _ in range(WARM_PASSES):
        for name in names:
            try:
                REGISTRY[name].fn(run.spark, run.sf_dir).write.format("noop").mode("overwrite").save()
            except Exception:  # already counted as failed by the verify pass
                pass
            probes.release_caches_blocking()


def _verify_pass(run: Run, names: list[str]) -> None:
    """Untimed: every query once, checked against its oracle (or, for
    MinHash-LSH, by exact-Jaccard precision)."""
    con = verify.oracle_connection(run.sf_dir)
    for name in names:
        q = REGISTRY[name]
        try:
            df = q.fn(run.spark, run.sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            if q.oracle is not None:
                problem = verify.compare_with_oracle(con, q.oracle, cols, rows)
            elif name == "dedup_minhash_lsh":
                problem = verify.minhash_precision(con, rows, cols)
            else:
                problem = None
        except Exception as e:  # a crashing query is a failed check, not a crashed run
            problem = f"{type(e).__name__}: {e}"[:300]
        probes.release_caches_blocking()
        run.oplog.check(f"verify:{name}", problem)
    con.close()


def _one_query(run: Run, name: str, op_id: int) -> None:
    """One timed query operation; its busy seconds are the op plus any
    tracing bookkeeping, without the untimed cache release."""
    q = REGISTRY[name]
    tr = run.tracer
    tr.op_id = op_id
    run.trace_op(name)
    group = f"op{op_id}"
    if tr.enabled:
        run.jobs.begin(group)
    ok, err = True, None
    t0 = time.perf_counter()
    try:
        with tr.span("bench", "op"):
            with tr.span(_layer_of(q.fn), f"build:{name}"):
                df = q.fn(run.spark, run.sf_dir)
                df.schema  # analysis is part of building the plan
            t1 = time.perf_counter()
            with tr.span("queries", f"exec:{name}"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # counted as a failed operation
        ok, err = False, f"{type(e).__name__}: {e}"[:300]
    t2 = time.perf_counter()
    if tr.enabled:
        run.jobs.end(group)
    run.record_busy(name, time.perf_counter() - t0)
    run.oplog.record(name, t2 - t0, ok, err)
    if ok:
        run.layer_samples["queries.build_s"].append(t1 - t0)
        run.layer_samples["queries.exec_s"].append(t2 - t1)
    probes.release_caches_blocking()


def passes_for(names: list[str]) -> int:
    """Fewest whole passes over ``names`` whose samples allow the
    bounded tail percentile."""
    return math.ceil(stats.min_samples_for(TAIL_Q) / len(names))


def _timed_loop(run: Run, names: list[str]) -> None:
    """``passes_for(names)`` shuffled passes; past ``max_seconds`` no
    new pass starts."""
    rng = random.Random(run.seed)
    op_id = 0
    start = time.perf_counter()
    for _ in range(passes_for(names)):
        if time.perf_counter() - start >= run.max_seconds:
            break
        order = list(names)
        rng.shuffle(order)
        for name in order:
            op_id += 1
            _one_query(run, name, op_id)


def _dedup_probe(run: Run) -> None:
    """Traced runs only: the MinHash-LSH pipeline decomposed at its
    public operator boundaries, materializing each stage. It runs after
    the timed loop, outside every operation."""
    from lakehouse_test_spark.operators import dedup

    tr = run.tracer
    tr.op_id = None
    for rep in range(DEDUP_PROBE_REPS):
        docs = load_table(run.spark, run.sf_dir, "documents")
        with tr.span("operators", "dedup.shingle_hashes"):
            t0 = time.perf_counter()
            shl = dedup.shingle_hashes(docs).cache()
            shl.count()
            t1 = time.perf_counter()
        with tr.span("operators", "dedup.banded_from_shingles"):
            banded = dedup.banded_from_shingles(shl).cache()
            banded.count()
            t2 = time.perf_counter()
        run.layer_samples["operators.dedup.shingle_hashes_s"].append(t1 - t0)
        run.layer_samples["operators.dedup.banded_from_shingles_s"].append(t2 - t1)
        if rep == 0:  # the counts are deterministic
            cand = dedup._pairs_from_banded(banded).count()
            verified = REGISTRY["dedup_minhash_lsh"].fn(run.spark, run.sf_dir).count()
        banded.unpersist(blocking=True)
        shl.unpersist(blocking=True)
        probes.release_caches_blocking()
    run.per_layer["operators.dedup.candidate_pairs"] = cand
    run.per_layer["operators.dedup.verified_pairs"] = verified
    run.per_layer["operators.dedup.verify_yield"] = stats.ratio(verified, cand)


def run_queries(run: Run, names: list[str], tables: list[str]) -> dict[str, float]:
    _setup(run, names, tables)
    if run.traced:
        listener = probes.BatchListener()
        run.spark.streams.addListener(listener)
    _timed_loop(run, names)
    run.phase("timed")
    run.tracer.enabled = run.traced
    e2e = run.mix_metrics(run.oplog.all_latencies(names))
    if run.traced:
        for name in names:
            if run.oplog.latencies.get(name):
                run.per_layer[f"queries.{name}_p50_s"] = stats.median(run.oplog.latencies[name])
        ops = max(run.traced_ops, 1)  # job counts come from traced operations only
        for k, v in run.jobs.totals.items():
            # per operation, so runs of different length compare
            run.per_layer[f"queries.{k}"] = v / ops if k != "failed_tasks" else v
        if "streaming_tumbling_counts" in names:
            time.sleep(1.0)  # listener events arrive asynchronously
            with listener.lock:
                durs = list(listener.durations_s)
            n_stream = len(run.oplog.latencies["streaming_tumbling_counts"])
            run.per_layer["streaming.batches"] = stats.ratio(len(durs), n_stream)
            if durs:
                run.per_layer["streaming.batch_p50_s"] = stats.median(durs)
        run.spark.streams.removeListener(listener)
        # every traced query run measures the operators layer, so the
        # layer is covered whichever query workload is run
        _dedup_probe(run)
    return e2e


def analytics(run: Run) -> dict[str, float]:
    return run_queries(run, ANALYTICS, ANALYTICS_TABLES)


def llm_data(run: Run) -> dict[str, float]:
    return run_queries(run, LLM_DATA, LLM_TABLES)
