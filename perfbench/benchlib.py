"""Helpers of the benchmark command: statistics, the result-table hash rule of
`dev/compare.py`, telemetry parsing, and the correctness checks that turn a
JVM report into failed operations."""
import hashlib
import json
import statistics

# ---------------------------------------------------------------- statistics


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between the
    closest ranks (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ------------------------------------------------------------ result hashing


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    """SHA-256 over the rows in order, cells in sorted-column order, with
    `dev/compare.py`'s cell normalisation."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(norm_cell(r[i]) for i in order).encode())
        h.update(b"\x1e")
    return h.hexdigest()


# ----------------------------------------------------------------- telemetry

YIELD_COUNTERS = {
    "similarity.cosine_candidates": "cosine_candidate_pairs",
    "corpus.decontam_candidates": "decontam_candidate_rows",
}


def parse_telemetry(telemetry):
    """Yield counters from the engine's `Telemetry` collector output (a JSON
    object, as text or already parsed). Missing counters read 0."""
    t = json.loads(telemetry) if isinstance(telemetry, str) else dict(telemetry)
    return {name: float(t.get(key, 0)) for name, key in YIELD_COUNTERS.items()}


# -------------------------------------------------------------------- checks

COUNTERS = ("turns_enriched", "error_spans", "slow_spans", "approx_convs")
SINKS = ("sink_errors", "sink_slow", "sink_normal")


def pipeline_failures(report, oracle, expected=None):
    """One entry per job (the measured jobs, then a traced run's traced
    job): its name and the list of its failed checks. Every job must
    enrich every input turn and agree with `oracle`, the engine's DuckDB
    oracle over the same staged input, on the error and slow span counts
    and the routed turns per sink. Its approx_convs must equal the same
    estimate taken directly over the input's conversation ids. The first job is also read back: the sinks are
    disjoint and sum to the routed rows. `expected` holds the recorded
    counters and sink counts of this workload at this seed and scale."""
    n = report["input_turns"]
    first = report["jobs"][0]
    want = oracle["observed"]
    result = []
    ops = [(f"job{i}", j) for i, j in enumerate(report["jobs"])]
    ops += [("traced", report["traced"])] if "traced" in report else []
    for name, op in ops:
        if "error" in op:
            result.append((name, [f"threw: {op['error']}"]))
            continue
        bad = []
        obs, sinks = op["observed"], op["sinks"]
        if obs.get("turns_enriched") != n or want["turns_enriched"] != n:
            bad.append(f"turns_enriched {obs.get('turns_enriched')} (oracle {want['turns_enriched']}) "
                       f"!= input turns {n}")
        for k in ("error_spans", "slow_spans"):
            if obs.get(k) != want[k]:
                bad.append(f"{k} {obs.get(k)} != oracle {want[k]}")
        if obs.get("approx_convs") != report["input_approx_convs"]:
            bad.append(f"approx_convs {obs.get('approx_convs')} != the input's {report['input_approx_convs']}")
        if any(sinks.get(k) != oracle["sinks"].get(k, 0) for k in SINKS):
            bad.append(f"sinks {[sinks.get(k) for k in SINKS]} != oracle "
                       f"{[oracle['sinks'].get(k, 0) for k in SINKS]}")
        if expected:
            if any(obs.get(k) != expected["observed"].get(k) for k in COUNTERS):
                bad.append(f"counters {obs} != recorded {expected['observed']}")
            if any(sinks.get(k) != expected["sinks"].get(k) for k in SINKS):
                bad.append(f"sinks {[sinks.get(k) for k in SINKS]} != recorded "
                           f"{[expected['sinks'].get(k) for k in SINKS]}")
        if op is first:
            bad += _sink_failures(sinks)
        gen = report.get("generator_check")
        if name == "traced" and gen["ours"] != gen["engine"]:
            bad.append(f"default-seed generator {gen['ours']} != TranscriptGen {gen['engine']}")
        result.append((name, bad))
    return result


def _sink_failures(s):
    """The written sinks, read back: disjoint, and summing to the routed
    rows the lineage manifest recorded."""
    bad = []
    routed = s.get("manifest_rows")
    total = sum(s.get(k, 0) for k in SINKS)
    if total != routed:
        bad.append(f"sinks sum {total} != routed rows {routed}")
    if s.get("written_routed_rows") != routed:
        bad.append(f"read back {s.get('written_routed_rows')} rows, manifest says {routed}")
    if s.get("written_distinct_turns") != s.get("written_routed_rows"):
        bad.append("a written turn appears twice (sinks overlap)")
    for k in SINKS:
        if s.get("written_" + k, 0) != s.get(k):
            bad.append(f"read back {k} {s.get('written_' + k, 0)} != observed {s.get(k)}")
    return bad


def query_failures(report, expected):
    """One entry per query execution: its name and failed checks. A query
    fails if it threw, if its row count differs from the recorded one, or
    (for the queries digested in this run) if its result digest does."""
    digests = report["digests"]
    result = []
    passes = report["passes"] + report.get("overhead_passes", [])
    for p, qs in enumerate(passes):
        for q in qs:
            name = q["name"]
            want = expected.get(name) if expected else None
            bad = []
            if "error" in q:
                bad.append(f"threw: {q['error']}")
            else:
                if want and q["rows"] != want[0]:
                    bad.append(f"{q['rows']} rows, recorded {want[0]}")
                d = digests.get(name) if p == 0 else None
                if isinstance(d, dict):
                    bad.append(f"digest threw: {d.get('error')}")
                elif d is not None and (d[0] != q["rows"] or (want and d != want)):
                    bad.append(f"digest {d} != recorded {want} / counted rows {q['rows']}")
            result.append((f"{name}#{p}", bad))
    return result
