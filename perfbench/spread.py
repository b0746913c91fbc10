"""Run the benchmark on several seeds and report, per metric, the median
and the quartile spread ((Q3 - Q1) / median), set against the metric's
bound in ``BENCHMARK.json``: a spread below a third of the bound is marked
``ok``.

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=300,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        info = json.loads(lines[-2].removeprefix("perfbench-info "))
        print(f"seed {seed}: {time.monotonic() - t0:.0f}s correct={out['correct']} "
              f"attempted={out['attempted']} failed={out['failed']} "
              f"steal={info['load']['steal_share']:.3f}", flush=True)
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        spread = stats.quartile_spread(vals) if len(vals) > 1 and stats.median(vals) else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
        print(f"{name:40s} median={stats.median(vals):12.4f} spread={spread:.4f} bound={bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
