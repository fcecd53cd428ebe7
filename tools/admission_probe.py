"""Probe: CDF tail-admission planning cost vs backlog size (round 9).

Claims under test (SCALE.md "streaming admission control"):
- a capped ``latestOffset()`` walk costs one _log scandir + O(commits
  walked) JSON reads per trigger — FLAT in the backlog size;
- a capped drain's per-batch planning cost follows the CAP, so total
  drain cost is linear in the backlog with a flat per-trigger floor.

Builds tables 250 / 1000 / 2000 commits behind, then drives the
offset API the way one trigger does (latestOffset → partitions) with
maxVersionsPerTrigger=10 and maxFilesPerTrigger=10, timing each
trigger. Hand-driving is sound HERE because this probe measures COST,
not call-order semantics (those are engine-pinned in
tests/test_stream_engine_contract.py).

Run: python tools/admission_probe.py [--backlogs 250 1000 2000]

Round 10 adds the LISTING-FLOOR phase (``--synthetic 1000 10000
100000``): the one per-trigger cost that grows with table AGE is the
_log directory listing inside ``latestOffset()`` — O(total commits),
inherent to polling a file log. The phase hand-writes synthetic
commit JSONs (no Spark jobs — only listing cost is under test),
measures the steady-state ``latestOffset()`` at the head across the
10³→10⁵ regime, then runs ``clean_log`` (checkpoint + retention) and
re-measures: the post-retention cost must drop back to the
O(keep + tail) floor regardless of how many commits the table ever
saw. Numbers land in SCALE.md.
"""
from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def drain(reader, floor_offset, head, label):
    """Drive latestOffset/partitions to exhaustion; return timings."""
    reader.partitions(floor_offset, floor_offset)  # floor fast-forward
    prev = floor_offset
    lat, plan, batches = [], [], 0
    while True:
        t0 = time.perf_counter()
        off = reader.latestOffset()
        lat.append(time.perf_counter() - t0)
        if off == prev:
            break
        t0 = time.perf_counter()
        reader.partitions(prev, off)
        plan.append(time.perf_counter() - t0)
        prev = off
        batches += 1
        if batches > 10_000:
            raise RuntimeError("drain did not converge")
    return {
        "batches": batches,
        "latest_ms_median": round(statistics.median(lat) * 1e3, 2),
        "latest_ms_max": round(max(lat) * 1e3, 2),
        "plan_ms_median": round(statistics.median(plan) * 1e3, 2),
        "total_s": round(sum(lat) + sum(plan), 3),
    }


def listing_floor_phase(ns: list[int], keep: int) -> list[dict]:
    """Steady-state latestOffset() cost vs TOTAL commit count, before
    and after log retention. Spark-free: commit JSONs are hand-written
    (zero-file commits — the listing, not the data, is under test)."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import (
        LakehouseCDFStreamReader,
    )

    root = tempfile.mkdtemp(prefix="adm_probe_lst_") + "/t"
    t = LakehouseTable(None, root)
    now = time.time()
    built, out = 0, []

    def measure(tag: str, n_commits: int) -> dict:
        r = LakehouseCDFStreamReader(
            {"path": root, "maxVersionsPerTrigger": "10"}, None
        )
        head = t.latest_version()
        # steady-state: floor at the head (a caught-up poller)
        r.partitions({"version": head}, {"version": head})
        times = []
        for _ in range(25):
            t0 = time.perf_counter()
            r.latestOffset()
            times.append(time.perf_counter() - t0)
        row = {
            "phase": "listing_floor",
            "tag": tag,
            "commits_ever": n_commits,
            "jsons_on_disk": sum(
                1 for _ in Path(root, "_log").glob("*.json")
            ),
            "latest_ms_median": round(statistics.median(times) * 1e3, 3),
            "latest_ms_max": round(max(times) * 1e3, 3),
        }
        print(json.dumps(row), flush=True)
        return row

    t.log_dir.mkdir(parents=True)  # the probe hand-writes commit JSONs
    for n in sorted(ns):
        for v in range(built, n):
            (t.log_dir / f"{v:020d}.json").write_text(
                json.dumps(
                    {
                        "version": v,
                        "files": [],
                        "row_count": 0,
                        "operation": "append",
                        "ts": now + v,
                        "stats": None,
                        "restate": False,
                        "data_change": True,
                    }
                )
            )
        built = n
        out.append(measure("unbounded", built))
    t.checkpoint()
    res = t.clean_log(keep_versions=keep)
    out.append(
        {
            "phase": "listing_floor",
            "tag": "clean_log",
            "deleted": res["deleted"],
            "earliest": res["earliest"],
        }
    )
    print(json.dumps(out[-1]), flush=True)
    out.append(measure(f"retained_{keep}", built))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--backlogs", nargs="+", type=int, default=[250, 1000, 2000])
    ap.add_argument(
        "--synthetic", nargs="+", type=int, default=None,
        help="listing-floor phase commit counts (e.g. 1000 10000 100000)",
    )
    ap.add_argument("--keep", type=int, default=500,
                    help="clean_log keep_versions for the retention re-measure")
    args = ap.parse_args()

    if args.synthetic:
        results = listing_floor_phase(args.synthetic, args.keep)
        print(json.dumps({"probe": "cdf_listing_floor", "results": results}))
        return

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import (
        LakehouseCDFStreamReader,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    row = spark.range(1).select(F.col("id").alias("k"))

    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="adm_probe_") + "/t")
    built = 0
    results = []
    for n in sorted(args.backlogs):
        while built < n:
            t.append(row)
            built += 1
        head = t.latest_version()
        for opts, label in (
            ({"maxVersionsPerTrigger": "10"}, "versions10"),
            ({"maxFilesPerTrigger": "10"}, "files10"),
        ):
            r = LakehouseCDFStreamReader(
                {"path": str(t.path), **opts}, None
            )
            stats = drain(r, {"version": 0}, head, label)
            results.append({"backlog": built, "cap": label, **stats})
            print(json.dumps(results[-1]), flush=True)
    print(json.dumps({"probe": "cdf_admission", "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
