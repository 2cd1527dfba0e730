#!/usr/bin/env python3
"""Compare the query suite's traffic on the generated tables with its
traffic on reference tables (the sf0.1 test tables): the row count and
cold wall of every query, and the engine's `Telemetry` yield counters.

    python3 perfbench/calibrate.py REFERENCE_DIR [--out perfbench/results/calibration-sf01.json]

REFERENCE_DIR holds `events.parquet`, `documents.parquet` and
`embeddings.parquet`. Runs the benchmark command twice with `--trace 1`
(generated tables, then the reference ones) and prints each figure for
both and their ratio.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

import run


def suite_traffic(extra):
    cmd = [sys.executable, str(run.BENCH / "run.py"), "--workload", "queries_sf01", "--seconds", "0",
           "--trace", "1"] + extra
    subprocess.run(cmd, cwd=run.ROOT, check=True, stdout=subprocess.DEVNULL)
    report = json.loads((run.WORK / "last-queries_sf01-trace1.json").read_text())
    rows = {q["name"]: q.get("rows") for q in report["passes"][0]}
    walls = {q["name"]: q.get("wall_s") for q in report["passes"][0]}
    telemetry = json.loads(report["telemetry"]) if isinstance(report["telemetry"], str) else report["telemetry"]
    return rows, walls, telemetry


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reference")
    ap.add_argument("--out", default=str(run.BENCH / "results" / "calibration-sf01.json"))
    args = ap.parse_args()
    gen = suite_traffic([])
    ref = suite_traffic(["--tables", args.reference])
    table = {}
    for what, gen_of, ref_of in zip(("rows", "wall_s", "telemetry"), gen, ref):
        for k in sorted(set(gen_of) | set(ref_of)):
            g, r = gen_of.get(k), ref_of.get(k)
            ratio = g / r if isinstance(g, (int, float)) and r else None
            table[f"{what}.{k}"] = {"generated": g, "reference": r, "ratio": ratio}
            print(f"{what}.{k:32s} {g!s:>22} {r!s:>22} {'' if ratio is None else f'{ratio:.2f}':>6}")
    Path(args.out).write_text(json.dumps({"reference": Path(args.reference).name, "compare": table},
                                         indent=1) + "\n")


if __name__ == "__main__":
    main()
