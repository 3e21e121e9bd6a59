#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median and
spread (interquartile range over median, from `statistics.quantiles(values,
n=4)`), next to a third of its bound.

    python3 perfbench/spread.py --workload batch-suite --seeds 1-10 [--trace 0]

Runs are sequential, from the repository root; each run's full output is
kept under .perfbench/spread/.  The last line is a JSON summary (medians,
spreads, the host fingerprint and calibration times), the form
perfbench/BASELINE.json records.  Exits 1 when a run fails or reports
incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    out_dir = os.path.join(".perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    fingerprint, calib, walls = None, [], []
    ok = True
    for seed in args.seeds:
        t0 = time.perf_counter()
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        with open(os.path.join(out_dir, f"{args.workload}-{seed}-{args.trace}.out"), "w") as f:
            f.write(proc.stdout + proc.stderr)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            ok = False
        for line in lines:
            if line.startswith("# fingerprint "):
                fingerprint = json.loads(line[len("# fingerprint "):])
                calib.append(fingerprint.pop("calib_s"))
        print(f"seed {seed}: rc={proc.returncode} wall={walls[-1]:.0f}s {lines[-1] if lines else ''}", flush=True)
        for name, m in (result or {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for name, xs in values.items():
        if len(xs) < 2:
            continue
        q1, _q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("inf")
        summary[name] = {"median": med, "spread": round(spread, 4), "runs": len(xs)}
        bound = bounds.get(name)
        note = f"  (a third of the bound: {bound / 3:.3f})" if bound else ""
        print(f"{name}: median {med:.6g} spread {spread:.3f}{note}")
    print(json.dumps({
        "workload": args.workload,
        "seeds": [args.seeds[0], args.seeds[-1]],
        "metrics": summary,
        "host": fingerprint,
        "calib_s": calib,
        "run_wall_s": [round(w, 1) for w in walls],
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
