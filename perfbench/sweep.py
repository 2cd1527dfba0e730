#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's median and
spread (interquartile range over median), with a box reading before and
after the runs.

    python3 perfbench/sweep.py --seeds 10 --out perfbench/results/sweep.json [--workloads a,b] [--trace 0]

The box reading is `dev/burn.py 4` (a pure-CPU md5 burn on 4 workers),
taken when that script is present: it tells box drift from a code change
when two sweeps are compared.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import benchlib

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def burn():
    script = ROOT / "dev" / "burn.py"
    if not script.exists():
        return None
    out = subprocess.run([sys.executable, str(script), "4"], capture_output=True, text=True, cwd=ROOT)
    workers, seconds, rate = out.stdout.split()
    return {"workers": int(workers), "seconds": float(seconds), "md5_per_s": float(rate)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    record = {"box_before": burn(), "runs": {}, "summary": {}}
    for wl in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.monotonic()
            cmd = spec["command"] + ["--workload", wl, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if p.returncode == 0 else {"error": p.stderr[-2000:]}
            res["seed"], res["run_s"] = seed, time.monotonic() - t0
            runs.append(res)
            print(wl, seed, f"{res['run_s']:.1f}s", res.get("correct"),
                  {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()
                   if k in bounds}, flush=True)
        record["runs"][wl] = runs
        ok = [r for r in runs if "metrics" in r]
        summary = {"all_correct": all(r.get("correct") for r in runs), "run_s_total": sum(r["run_s"] for r in runs)}
        for name in (ok[0]["metrics"] if ok else {}):
            vals = [r["metrics"][name]["value"] for r in ok]
            if len(vals) >= 2 and statistics.median(vals):
                summary[name] = {"median": statistics.median(vals), "spread": benchlib.spread(vals),
                                 "bound": bounds.get(name)}
        record["summary"][wl] = summary
    record["box_after"] = burn()
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps(record["summary"], indent=1))


if __name__ == "__main__":
    main()
