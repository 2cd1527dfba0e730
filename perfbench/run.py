#!/usr/bin/env python3
"""graft benchmark: one workload, one closed loop, one JSON result line.

    python3 perfbench/run.py --workload job_skew --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (into `target/` and `perfbench/target/`);
later runs reuse the build while the sources are unchanged. Generated
inputs and scratch files live in `perfbench/.work/`.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics. The last line of standard output is the result object.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import benchlib

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
EXPECTED = BENCH / "expected.json"

# Workload scale is a share of graft.Bench's pipeline_gen input (2.2M turns)
# or, for the query tables, of sf1.
WORKLOADS = {
    "job_skew": {"scale": 0.25},
    "queries_sf01": {"scale": 0.1, "tables_seed": 42},
}

# The measured query suite: a subset of SparkEntry.queries that fits one
# cold pass in a run (see README.md for the choice).
QUERIES = [
    "q09_red", "q10_histogram", "q20_dedup_exact", "q32_cosine_pairs", "q36_decontam",
    "q37_stratified", "q38_repetition", "q40_media_stats", "q45_ann_int8", "q47_sessions",
    "q54_corpus_report",
]
DIGEST_EVERY = 3  # each run digests every third query, rotating with the seed

JVM_HEAP = "3g"
DEADLINE_S = 170.0

LAYERS = ["sources", "parse", "enrich", "route", "rollup", "derive", "sink"]
LAYER_STATS = ["wall_s", "busy_s", "rows_out", "shuffle_mb", "spill_mb", "peak_mem_mb"]
LAYER_EXTRA = {"route": ["fetch_wait_s", "task_skew"], "rollup": ["fetch_wait_s"],
               "sink": ["fetch_wait_s", "task_skew"]}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("the engine's sources (build.sbt, src/main/scala) are not here; run from a repository checkout")
    stamp = source_stamp()
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=f, text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die(f"build failed (log: {log})")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# ----------------------------------------------------------------------- JVM

def java_cmd(cp, args, main="perfbench.Main"):
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", o]
    cmd += [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, main]
    if main == "perfbench.Main":
        cmd += ["--work", str(WORK), "--cores", str(len(os.sched_getaffinity(0)))]
    return cmd + [str(a) for a in args]


def run_jvm(cp, args, deadline):
    """Run the benchmark JVM; return (seconds from its start until its
    session was ready, its report), either None if it did not get there.
    The JVM has ended when this returns."""
    for d in ("tmp", "spark-local"):
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir(parents=True)
    events = {}
    t0 = time.monotonic()
    with open(WORK / "jvm.log", "a") as log:
        p = subprocess.Popen(java_cmd(cp, args), cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=log, text=True)

        def read():
            for line in p.stdout:
                if line.startswith("PERFBENCH "):
                    msg = json.loads(line[len("PERFBENCH "):])
                    events[msg["event"]] = (time.monotonic() - t0, msg)

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            reader.join()
    ready = events.get("ready", (None,))[0]
    return ready, events.get("result", (None, {}))[1].get("report")


def duckdb_oracle(report):
    """The engine's DuckDB oracle over the staged transcript table: the
    pipeline's counters and the routed turns per sink. Computed once per
    staged table and kept beside it (not in it: Spark reads every file in
    the table's directory)."""
    staged = Path(report["staged"])
    cached = staged.with_name(staged.name + ".oracle.json")
    if cached.exists():
        return json.loads(cached.read_text())
    import duckdb
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)), "memory_limit": "2GB"})
    cur = con.execute(report["oracle_sql"]["counters"])
    counters = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    sinks = dict(con.execute(report["oracle_sql"]["sinks"]).fetchall())
    con.close()
    result = {"observed": counters, "sinks": sinks}
    cached.write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")
    return result


# ------------------------------------------------------------------- metrics

def median(values):
    return benchlib.percentile(values, 50)


def end_to_end(wl, report, setup):
    """setup_s; throughput_per_s: input turns per second of job wall
    (job_skew) or queries per second of suite wall (queries_sf01), median
    over the run's jobs or passes; op_cpu_s: JVM CPU seconds of one job or
    pass, median."""
    if wl == "queries_sf01":
        suites = [sum(q.get("wall_s", 0.0) for q in p) for p in report["passes"]]
        rate = sum(1 for q in report["passes"][0] if "wall_s" in q) / median(suites)
        cpu = median(report["pass_cpu_s"])
    else:
        jobs = [j for j in report["jobs"] if "wall_s" in j]
        rate = report["input_turns"] / median([j["wall_s"] for j in jobs])
        cpu = median([j["cpu_s"] for j in jobs])
    return {"setup_s": (setup, "s"), "throughput_per_s": (rate, "1/s"), "op_cpu_s": (cpu, "s")}


def per_layer_names():
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{s}" for s in LAYER_STATS + LAYER_EXTRA.get(layer, [])]
    names += ["rollup.reduction", "sink.written_mb"]
    names += [f"query.{q}_s" for q in QUERIES]
    names += ["plan.construct_s", "plan.construct_jobs", "cache.entries_peak", "cache.resident_mb_peak",
              "cache.duplicate_requests", "udf.reregistrations"]
    names += list(benchlib.YIELD_COUNTERS)
    names += ["jvm.gc_s", "jvm.peak_rss_mb", "trace.overhead_s", "trace.coverage"]
    return names


def per_layer(wl, report):
    """Per-layer values; 0 for a layer the workload does not run."""
    m = dict.fromkeys(per_layer_names(), 0.0)
    tags = report.get("tags", {})
    if wl == "queries_sf01":
        cold = report["passes"][0]
        for q in cold:
            if "wall_s" in q:
                m[f"query.{q['name']}_s"] = q["wall_s"]
        m["plan.construct_s"] = sum(q.get("construct_s", 0.0) for q in cold)
        m["plan.construct_jobs"] = sum(t["jobs"] for k, t in tags.items() if k.startswith("plan:"))
        m.update(benchlib.parse_telemetry(report.get("telemetry", {})))
        untraced, traced = report["overhead_passes"]
        m["trace.overhead_s"] = (sum(q.get("wall_s", 0.0) for q in traced)
                                 - sum(q.get("wall_s", 0.0) for q in untraced))
        m["trace.coverage"] = 1.0
    else:
        traced = report["traced"]
        rows = traced.get("rows", {})
        for layer in LAYERS:
            t = tags.get(layer)
            if not t:
                continue
            for s in LAYER_STATS + LAYER_EXTRA.get(layer, []):
                m[f"{layer}.{s}"] = rows.get(layer, 0) if s == "rows_out" else t[s]
        if rows.get("enrich"):
            m["rollup.reduction"] = rows.get("rollup", 0) / rows["enrich"]
        m["sink.written_mb"] = traced.get("written_bytes", 0) / (1024.0 * 1024.0)
        job = report["jobs"][-1]
        m["plan.construct_s"] = job.get("construct_s", 0.0)
        m["plan.construct_jobs"] = job.get("construct_jobs", 0)
        untraced_wall = job.get("wall_s", 0.0)
        m["trace.overhead_s"] = traced.get("wall_s", 0.0) - untraced_wall
        layer_walls = sum(tags[layer]["wall_s"] for layer in LAYERS if layer in tags)
        m["trace.coverage"] = layer_walls / untraced_wall if untraced_wall else 0.0
    m["cache.entries_peak"] = report.get("cache_entries_peak", 0)
    m["cache.resident_mb_peak"] = report.get("cache_resident_mb_peak", 0.0)
    m["cache.duplicate_requests"] = report["duplicate_cache_requests"]
    m["udf.reregistrations"] = report["function_reregistrations"]
    m["jvm.gc_s"] = report["gc_s"]
    m["jvm.peak_rss_mb"] = report["peak_rss_mb"]
    return m


def unit_of(name):
    last = name.split(".")[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb") or last == "resident_mb_peak":
        return "MB"
    if last in ("task_skew", "reduction", "coverage"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------- main

def expected_for(wl, seed, scale):
    if not EXPECTED.exists():
        return None
    e = json.loads(EXPECTED.read_text())
    if wl == "queries_sf01":
        q = e.get("queries_sf01")
        return q["digests"] if q and q["scale"] == scale else None
    return e.get(wl, {}).get(f"seed{seed}-scale{scale}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="override the workload's input scale")
    ap.add_argument("--record", action="store_true",
                    help="store this run's counters/digests as the expected set")
    ap.add_argument("--tables", help="run the query suite over the tables in this directory instead "
                                     "of generated ones; the results are not checked")
    args = ap.parse_args()

    deadline = time.monotonic() + DEADLINE_S
    wl = WORKLOADS[args.workload]
    scale = args.scale if args.scale is not None else wl["scale"]
    cp = build()
    deadline = max(deadline, time.monotonic() + 120.0)  # a fresh build may take its own time

    jvm_args = ["--workload", args.workload, "--seed", args.seed, "--seconds", args.seconds,
                "--trace", args.trace, "--scale", scale]
    if args.workload == "queries_sf01":
        suite = sorted(QUERIES)
        digest = suite if args.record else suite[args.seed % DIGEST_EVERY::DIGEST_EVERY]
        jvm_args += ["--queries", ",".join(suite), "--digest", "" if args.tables else ",".join(digest)]
        jvm_args += ["--tables", Path(args.tables).resolve()] if args.tables else ["--tables-seed", wl["tables_seed"]]
    setup, report = run_jvm(cp, jvm_args, deadline)
    if setup is None or report is None:
        die(f"the run did not finish (log: {WORK / 'jvm.log'})", 1)
    (WORK / f"last-{args.workload}-trace{args.trace}.json").write_text(json.dumps(report, indent=1))

    if args.record:
        record(args.workload, args.seed, scale, report)
    expected = expected_for(args.workload, args.seed, scale)
    if args.workload == "queries_sf01":
        ops = benchlib.query_failures(report, None if args.tables else expected)
    else:
        ops = benchlib.pipeline_failures(report, duckdb_oracle(report), expected)
    failed = [(name, bad) for name, bad in ops if bad]
    for name, bad in failed:
        print(f"# FAILED {name}: {'; '.join(bad)}")

    if args.trace:
        values = per_layer(args.workload, report)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
        if args.workload == "job_skew" and values["trace.coverage"] < 0.9:
            print(f"# note: layer walls cover {values['trace.coverage']:.0%} of the untraced job wall")
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(args.workload, report, setup).items()}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


def record(wl, seed, scale, report):
    e = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    if wl == "queries_sf01":
        e[wl] = {"scale": scale, "tables_seed": WORKLOADS[wl]["tables_seed"], "digests": report["digests"]}
    else:
        first = report["jobs"][0]
        e.setdefault(wl, {})[f"seed{seed}-scale{scale}"] = {
            "observed": first["observed"],
            "sinks": {k: first["sinks"][k] for k in benchlib.SINKS}}
    EXPECTED.write_text(json.dumps(e, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
