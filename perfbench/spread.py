#!/usr/bin/env python3
"""Run the benchmark on one workload for several seeds and print, per
end-to-end metric, the median and the quartile spread (IQR as a share of
the median), plus each run's wall time.

    python3 perfbench/spread.py --workload er_batch --seeds 1 2 3 4 5

Run from the root of a checkout; reads BENCHMARK.json for run_seconds and
the bounds, so the spreads can be compared with them.
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

from perfbench.stats import quartile_spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {wall:.1f} s, correct {result['correct']}, "
              f"attempted {result['attempted']}, failed {result['failed']}, "
              + ", ".join(f"{k} {m['value']:.4f}" for k, m in result["metrics"].items()), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        values.setdefault("run_wall_s", []).append(wall)
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        bound = bounds.get(name)
        print(f"{name:32s} median {statistics.median(vals):12.4f}  spread {spread:.4f}"
              + (f"  bound {bound} (third {bound / 3:.4f})" if bound else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
