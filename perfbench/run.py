"""perfbench: one command that runs a named workload of the engine with
a seed, checks the engine's outputs and prints every metric by name
and unit.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that reports the per-layer metrics (including each
layer's self time and the tracing overhead). Earlier stdout lines carry
the environment stamp and the workload-specific figures; the last line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench/`` in the tree
(see GLOSSARY.md for the engine's one exception); results and spans
are kept in ``.perfbench/results/``. See
``perfbench/GLOSSARY.md`` for every workload and metric name.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("analytics", "llm_data", "ingest_scan")
#: scale factor of the generated query fixtures (see GLOSSARY.md for why
#: not the 0.1 of bench.py)
SF = 0.01

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "op_p50_s": "s",
    "op_p75_s": "s",
}
REPORT_UNITS = {
    "peak_rss_mb": "MB",
    "failed_ratio": "ratio",
    "op_p90_s": "s",
    "rows_ingested_per_s": "rows/s",
    "append_p50_s": "s",
    "append_p90_s": "s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "merge_p50_s": "s",
    "bytes_stored_per_user_byte": "ratio",
}
LAYERS = ("bench", "session", "queries", "operators", "streaming", "lakehouse", "sources")


#: per-layer metrics where a larger value is the better one; for every
#: other per-layer metric (times, work and waste counts) lower is better
HIGHER_IS_BETTER = {
    "session.pinned_partitions",
    "operators.dedup.verified_pairs",
    "operators.dedup.verify_yield",
    "lakehouse.commits",
    "lakehouse.skip_ratio",
    "trace.ops_per_s_traced",
    "trace.ops_per_s_untraced",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.query_workloads import ALL_QUERIES

    return {
        "session.get_spark_s": "s",
        "session.pin_fixture_tables_s": "s",
        "session.pinned_partitions": "count",
        "queries.build_s": "s",
        "queries.exec_s": "s",
        **{f"queries.{q}_p50_s": "s" for q in ALL_QUERIES},
        "queries.jobs": "count",
        "queries.stages": "count",
        "queries.tasks": "count",
        "queries.failed_tasks": "count",
        "operators.dedup.shingle_hashes_s": "s",
        "operators.dedup.banded_from_shingles_s": "s",
        "operators.dedup.candidate_pairs": "count",
        "operators.dedup.verified_pairs": "count",
        "operators.dedup.verify_yield": "ratio",
        "streaming.batches": "count",
        "streaming.batch_p50_s": "s",
        "lakehouse.latest_version_s": "s",
        "lakehouse.commits": "count",
        "lakehouse.log_bytes": "bytes",
        "lakehouse.snapshot_plan_s": "s",
        "lakehouse.snapshot_scan_s": "s",
        "lakehouse.files_scanned": "count",
        "lakehouse.files_total": "count",
        "lakehouse.skip_ratio": "ratio",
        "lakehouse.read_changes_s": "s",
        "lakehouse.consumer_restarts": "count",
        "lakehouse.merge_rows_rewritten": "count",
        "lakehouse.compact_files_s": "s",
        "lakehouse.vacuum_s": "s",
        "lakehouse.live_files": "count",
        "lakehouse.data_bytes_written": "bytes",
        "lakehouse.write_amp": "ratio",
        "sources.datasource_scan_s": "s",
        "session.self_s": "s",
        **{f"{layer}.self_s_per_op": "s" for layer in LAYERS if layer != "session"},
        "trace.ops_per_s_traced": "ops/s",
        "trace.ops_per_s_untraced": "ops/s",
        "trace.overhead": "ratio",
    }


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file the run and the JVM write inside ``work``."""
    from perfbench.probes import nproc

    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None


def _per_layer(run) -> dict[str, float]:
    from perfbench import stats

    out = {name: 0.0 for name in per_layer_units()}
    for name, samples in run.layer_samples.items():
        if samples:
            out[name] = stats.median(samples)
    out.update(run.per_layer)
    ops = max(run.traced_ops, 1)
    for layer, s in stats.self_times(run.tracer.spans, in_ops=True).items():
        out[f"{layer}.self_s_per_op"] = s / ops
    out["session.self_s"] = stats.self_times(run.tracer.spans, in_ops=False).get("session", 0.0)
    traced, untraced = stats.matched_rates(run.op_busy)
    out["trace.ops_per_s_traced"] = traced
    out["trace.ops_per_s_untraced"] = untraced
    out["trace.overhead"] = 1.0 - stats.ratio(traced, untraced) if untraced else 0.0
    return out


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import lakehouse_test_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    results = ROOT / ".perfbench" / "results"
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    results.mkdir(parents=True, exist_ok=True)
    _isolate(work)

    from perfbench import datagen, probes, stats
    from perfbench.harness import Run
    from perfbench.ingest_workload import ingest_scan
    from perfbench.query_workloads import analytics, llm_data

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        if args.workload != "ingest_scan":
            datagen.write_fixtures(Path(run.sf_dir), SF, args.seed)
        run.phase("inputs")
        fn = {"analytics": analytics, "llm_data": llm_data, "ingest_scan": ingest_scan}
        mix = fn[args.workload](run)
        stamp = probes.stamp(run.spark, ROOT, args.workload, args.seed, SF, run.traced)
        e2e = {"setup_s": stats.median(run.setup_s), **mix}
        report = {
            "peak_rss_mb": probes.peak_rss_mb(),
            "failed_ratio": run.oplog.failed_ratio,
            **run.report,
        }
        per_layer = _per_layer(run) if run.traced else {}
    except Exception:
        counts = {k: (v, run.oplog.failed.get(k, 0)) for k, v in run.oplog.attempted.items()}
        print(f"perfbench: run failed; (attempted, failed) per kind: {counts}", file=sys.stderr)
        for err in run.oplog.errors:
            print("FAILED " + err, file=sys.stderr)
        raise
    finally:
        run.phase("probes")
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        run.phase("teardown")

    oplog = run.oplog
    out = {"stamp": stamp, "e2e": e2e, "report": report, "per_layer": per_layer,
           "attempted": oplog.total_attempted, "failed": oplog.total_failed,
           "setup_samples_s": run.setup_s,
           "latencies_s": dict(oplog.latencies),
           "phases_s": run.phases, "errors": oplog.errors}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{tag}.json").write_text(json.dumps(out, indent=1))
    if run.traced:
        with open(results / f"{tag}-spans.jsonl", "w") as f:
            for s in run.tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")

    print("stamp " + json.dumps(stamp))
    print("phases_s " + json.dumps({k: round(v, 2) for k, v in run.phases.items()}))
    for name, v in {**e2e, **report}.items():
        shown = "n/a (too few samples for the sample-count rule)" if v is None else repr(v)
        print(f"{name} {shown} {E2E_UNITS.get(name) or REPORT_UNITS[name]}")
    for err in oplog.errors:
        print("FAILED " + err)
    print("correct " + str(oplog.total_failed == 0).lower())
    if run.traced:
        units = per_layer_units()
        metrics = {k: {"value": per_layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": oplog.total_failed == 0,
        "attempted": oplog.total_attempted,
        "failed": oplog.total_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
