"""Reduce one run's raw samples (written by perfbench.Main) to metrics."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of xs."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported_percentile(xs, q, beyond=10):
    """The q-quantile when at least `beyond` samples lie above it;
    otherwise the highest whole-percent quantile that has that many
    (never below the median). Returns (value, quantile used, samples)."""
    n = len(xs)
    used = q
    if n * (1 - q) < beyond:
        used = max(0.5, math.floor(100 * (1 - beyond / n)) / 100 if n else 0.5)
    return percentile(xs, used), used, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s or e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Per span name: total duration and self time (duration minus the
    part of it that the span's children cover), in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        own = dur - covered(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur / 1000.0
        agg["self_s"] += own / 1000.0
    return out


def check_digests(requests, expected):
    """Mark each request failed when it raised or its digest differs
    from the expected one. Returns the list of failures."""
    failures = []
    for r in requests:
        exp = expected.get(r["name"])
        if r["error"]:
            why = r["error"]
        elif exp is None:
            why = "no expected digest"
        elif (r["count"], r["hash"]) != (exp["count"], exp["hash"]):
            why = f"digest {r['count']}/{r['hash']} != expected {exp['count']}/{exp['hash']}"
        else:
            continue
        failures.append({"id": r["id"], "name": r["name"], "why": why})
    return failures


def end_to_end(raw):
    """The end-to-end metrics, from the untraced timed passes only. Rates
    are per-pass medians, so one disturbed pass does not move them."""
    first = raw["warmup_passes"]
    reqs = [r for r in raw["requests"] if not r["traced"] and r["pass"] >= first]
    passes = [p for p in raw["passes"] if not p["traced"] and p["pass"] >= first]
    lat = [r["end_ms"] - r["start_ms"] for r in reqs]
    p90, q90, n = supported_percentile(lat, 0.9)
    per_pass = lambda f: median([f(p) for p in passes])
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (per_pass(lambda p: p["wall_s"]), "s"),
        "cpu_s_per_pass": (per_pass(lambda p: p["cpu_s"]), "s"),
        "latency_p50_ms": (percentile(lat, 0.5), "ms"),
        "latency_p90_ms": (p90, "ms"),
        "scan_rows_per_s": (per_pass(lambda p: p["records_read"] / p["wall_s"]), "rows/s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }
    # Every pass runs a fixed number of requests, so these two are
    # pass_s and cpu_s_per_pass scaled by a constant: reported, not gated.
    notes = {"latency_p90_ms": {"quantile": q90, "samples": n},
             "qps": per_pass(lambda p: p["requests"] / p["wall_s"]),
             "cpu_ms_per_request": per_pass(lambda p: 1000.0 * p["cpu_s"] / p["requests"]),
             "passes": len(passes), "requests": len(reqs)}
    return m, notes


FAMILIES = ["Dedup", "Text", "Pipeline", "Ann", "Layout", "Sketch", "Graph"]
OP_METRICS = ["build_s", "materialize_s", "jobs", "tasks", "task_cpu_s",
              "driver_gap_s", "shuffle_write_mb", "spill_mb", "checkpoints"]
KERNELS = ["WordShingles", "MinhashSignature", "SimhashSignature", "BpeLen",
           "NearestCentroid", "PolyFingerprint"]


def _family_totals(reqs, per_req):
    """Sums over a family's traced requests, per pass (probe runs count
    as one pass)."""
    if not reqs:
        return None
    npass = len({r["pass"] for r in reqs})
    t = dict.fromkeys(OP_METRICS, 0.0)
    for r in reqs:
        st = per_req.get(str(r["id"]), {})
        wall = r["end_ms"] - r["start_ms"]
        t["build_s"] += (r["build_end_ms"] - r["start_ms"]) / 1000.0
        t["materialize_s"] += (r["end_ms"] - r["build_end_ms"]) / 1000.0
        t["checkpoints"] += r["released"]
        for k in ("jobs", "tasks", "task_cpu_s", "shuffle_write_mb", "spill_mb"):
            t[k] += st.get(k, 0)
        t["driver_gap_s"] += (wall - covered(st.get("job_intervals", []), r["start_ms"], r["end_ms"])) / 1000.0
    return {k: v / npass for k, v in t.items()}


def per_layer(raw, spans):
    """The per-layer metrics of a traced run (name -> (value, unit))."""
    lay = raw["layers"]
    tr = lay["tracer"]
    per_req = tr["requests"]
    traced = [r for r in raw["requests"] if r["traced"]]
    m = {}
    # tracing overhead: traced against untraced pass time, same JVM
    un = [p["wall_s"] for p in raw["passes"] if not p["traced"] and p["pass"] >= raw["warmup_passes"]]
    tp = [p["wall_s"] for p in raw["passes"] if p["traced"]]
    m["tracing.overhead_ratio"] = (median(tp) / median(un), "ratio")
    # sources / bridge: the replayed requests plus the timed ones' scans
    rp = lay["replay"]
    tot = lambda k: sum(x[k] for x in rp)
    m["sources.login_ms"] = (median([x["login_ms"] for x in rp]), "ms")
    m["sources.plan_ms"] = (median([x["plan_ms"] for x in rp]), "ms")
    m["sources.splits_per_request"] = (tot("splits") / len(rp), "count")
    m["sources.first_batch_ms"] = (median([x["first_batch_ms"] for x in rp]), "ms")
    m["sources.drain_mb_per_s"] = (tot("ipc_bytes") / 1048576.0 / (tot("drain_ms") / 1000.0), "MB/s")
    m["sources.ipc_mb"] = (tot("ipc_bytes") / 1048576.0 / len(rp), "MB")
    m["bridge.decode_rows_per_s"] = (tot("rows") / (tot("decode_ms") / 1000.0), "rows/s")
    m["bridge.encode_rows_per_s"] = (tot("rows") / (tot("encode_ms") / 1000.0), "rows/s")
    scans = tr["scans"]
    out_rows = sum(r["count"] for r in traced if str(r["id"]) in scans)
    wire = sum(s["wire_rows"] for s in scans.values())
    m["sources.wire_rows_per_result_row"] = (wire / max(out_rows, 1), "ratio")
    m["sources.pushdown_accept_ratio"] = (
        sum(1 for s in scans.values() if not s["spark_filter"]) / max(len(scans), 1), "ratio")
    srv = lay["server"]
    m["sources.cancels"] = (srv.get("cancels", 0), "count")
    m["sources.aborted_scans"] = (srv.get("aborted_scans", 0), "count")
    fn = lay["functions"]
    m["functions.jwt_verify_us"] = (fn["jwt_verify_us"], "us")
    m["functions.bloom_create_ms"] = (fn["bloom_create_ms"], "ms")
    m["functions.bloom_probe_ns"] = (fn["bloom_probe_ns"], "ns")
    for k in KERNELS:
        m[f"kernels.{k}.rows_per_s"] = (lay["kernels"][k]["rows_per_s"], "rows/s")
    units = {"build_s": "s", "materialize_s": "s", "jobs": "count", "tasks": "count",
             "task_cpu_s": "s", "driver_gap_s": "s", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "checkpoints": "count"}
    for fam in FAMILIES:
        t = _family_totals([r for r in traced if r["family"] == fam], per_req) or {}
        for k in OP_METRICS:
            m[f"operators.{fam}.{k}"] = (t.get(k, 0.0), units[k])
    st_reqs = [r for r in traced if r["family"] == "streaming"]
    t = _family_totals(st_reqs, per_req) or {}
    for k in ("build_s", "jobs", "driver_gap_s", "task_cpu_s"):
        m[f"streaming.{k}"] = (t.get(k, 0.0), units[k])
    b = tr["batches"]
    npass = max(len({r["pass"] for r in st_reqs}), 1)
    m["streaming.batches"] = (len(b) / npass, "count")
    m["streaming.batch_ms_p50"] = (median([x["trigger_ms"] for x in b]), "ms")
    m["streaming.planning_ms"] = (sum(x["planning_ms"] for x in b) / npass, "ms")
    m["streaming.state_commit_ms"] = (sum(x["state_commit_ms"] for x in b) / npass, "ms")
    m["streaming.state_rows"] = (max([x["state_rows"] for x in b], default=0), "rows")
    m["streaming.state_mb"] = (max([x["state_mb"] for x in b], default=0.0), "MB")
    m["streaming.sink_write_ms"] = (sum(x["add_batch_ms"] for x in b) / npass, "ms")
    st = self_times(spans)
    for name in ("build", "materialize", "job", "stage"):
        m[f"selftime.{name}_s"] = (st.get(name, {}).get("self_s", 0.0), "s")
    m["run.disk_leaked_mb"] = (raw["disk_leaked_mb"], "MB")
    return m, st
