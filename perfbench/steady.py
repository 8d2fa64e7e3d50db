#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload fhir_ingest --seeds 1-10

For every metric: the median of its per-run values and the interquartile
distance as a share of that median, the figure BENCHMARK.json's `bound`s
are set against (each spread should stay below a third of its bound;
`setup_s` is exempt). Reads `run_seconds` from BENCHMARK.json.
"""

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, str(BENCH / "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"],
                           cwd=BENCH.parent, capture_output=True, text=True)
        last = (r.stdout.strip().splitlines() or ["{}"])[-1]
        result = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed}: exit {r.returncode}, correct {result.get('correct')}, "
              f"{time.monotonic() - t0:.1f} s", file=sys.stderr)
        if r.returncode != 0:
            print(r.stderr[-2000:], file=sys.stderr)
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        line = f"{name:28s} n={len(vs):2d} median={stats.median(vs):12.6f}"
        if len(vs) >= 2:
            s = stats.spread(vs)
            bound = bounds.get(name)
            flag = "" if bound is None else f" bound={bound} {'ok' if s < bound / 3 else 'WIDE'}"
            line += f" spread={s:.4f}{flag}"
        print(line + "  values=" + " ".join(f"{v:.6g}" for v in vs))


if __name__ == "__main__":
    main()
