"""Run the benchmark over several seeds and summarise every run.

    python3 perfbench/repeat.py --workload serve_mor --seeds 1-10 [--trace 0]

Every run counts: for each metric this prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median
next to the metric's bound from BENCHMARK.json. There is no best-of
and no retry; a run that fails its checks is reported as failed. The
runs, with their wall times, are kept in .perfbench_out/repeat-*.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs: list[dict], bounds: dict[str, float]) -> list[dict]:
    rows = []
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        rows.append({
            "metric": name, "unit": runs[0]["result"]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "bound": bounds.get(name),
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        runs.append({"seed": seed, "wall_s": wall, "report": json.loads(lines[-2]),
                     "result": json.loads(lines[-1])})
        print(f"seed {seed}: {wall:.1f} s wall, {runs[-1]['report']['batches']} batches", flush=True)
    rows = summarise(runs, bounds)
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for r in rows:
        flag = "" if r["bound"] is None else ("ok" if r["spread"] < r["bound"] / 3 else "WIDE")
        print(f"{r['metric']:42s} {r['median']:14.4f} {r['unit']:10s} "
              f"q1 {r['q1']:.4f} q3 {r['q3']:.4f} spread {r['spread']:.3f} "
              f"bound {r['bound']} {flag}")
    out = os.path.join(ROOT, ".perfbench_out", f"repeat-{args.workload}-t{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"runs": runs, "summary": rows}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
