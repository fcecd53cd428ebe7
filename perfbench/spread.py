"""Run the benchmark over several seeds and report, per end-to-end
metric, the median and the quartile spread as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.

    python3 perfbench/spread.py --workload analytics --seeds 1-10

The stamps of all runs must agree except for seed and commit; a run
with a different stamp stops the comparison instead of being mixed in.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.probes import stamp_mismatch  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    first_stamp = None
    for seed in _seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        stamp = json.loads(next(x for x in out.stdout.splitlines() if x.startswith("stamp "))[6:])
        if first_stamp is None:
            first_stamp = stamp
        elif diff := stamp_mismatch(first_stamp, stamp):
            print(f"seed {seed}: stamp differs in {diff}; not comparable", file=sys.stderr)
            return 1
        line = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {result['correct']} "
              f"failed {result['failed']}/{result['attempted']} {line}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k}: median {med:.6g} spread {spread:.4f} bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
