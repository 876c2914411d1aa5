#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (first run only),
generates the input tables (first run only), draws the workload's
requests from --seed, runs them in one JVM for --seconds, checks every
output digest, writes a result file under .perfbench/results/ and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402
from workloads import PROBE_ENTRIES, WORKLOADS, entry_orders, fed_passes  # noqa: E402

ROOT = build.ROOT
WORK = build.WORK
EXPECTED = os.path.join(HERE, "expected_entries.json")
# name -> (scale factor, lineitem/orders row-group rows; 0 = one group)
DATASETS = {"small": (0.01, 0), "fed": (0.03, 15000)}
DEADLINE_S = 170
WARMUP_PASSES = 2
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def other_jvms():
    """Spark/sbt/graft JVMs already running: a leftover chain would share
    the cores and skew every number."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == "java":
            line = " ".join(argv)
            if any(k in line for k in ("spark", "graft", "sbt")):
                found.append(f"{pid}: {line[:120]}")
    return found


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half of RAM, 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def ensure_data(name):
    """Generate a dataset once per generator version; returns (dir,
    digest of its files)."""
    sf, rg = DATASETS[name]
    gen = os.path.join(HERE, "gen_data.py")
    d = os.path.join(WORK, "data", f"{name}-{build.digest([gen])[:12]}")
    stamp = os.path.join(d, "digest")
    if not os.path.exists(stamp):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d, str(sf), str(rg)], check=True)
        with open(stamp, "w") as f:
            f.write(build.digest(sorted(os.path.join(d, n) for n in os.listdir(d)
                                        if n.endswith(".parquet"))))
    with open(stamp) as f:
        return d, f.read().strip()


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, cfg, run_dir, deadline):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # C1 only: with C2, pass times kept falling for 10+ passes while
    # background compilation finished (CPU per pass fell 3x), so a run's
    # median depended on how many passes fitted in it. C1-only shrinks
    # the default code cache to 48 MB, which Spark's generated code
    # overflows; 240 MB is the tiered default. At C1's default
    # thresholds CPU per pass still fell by up to a third over five
    # passes; compiling twenty times sooner brings the code to steady
    # state within the warm-up.
    cmd = (["java", "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.05",
            "-XX:ReservedCodeCacheSize=240m",
            f"-Xmx{cfg['heap']}", f"-Djava.io.tmpdir={cfg['tmp_dir']}"] + opens +
           ["-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
            "perfbench.Main", cfg_path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=cfg["spark_local_dir"])
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("run exceeded its deadline; see " + os.path.join(run_dir, "jvm.log"), 1)
    if code == 3:
        die("preflight failed in the JVM; see " + os.path.join(run_dir, "jvm.log"), 3)
    if code != 0:
        die(f"JVM exited with {code}; see " + os.path.join(run_dir, "jvm.log"), 1)
    with open(cfg["out"]) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="run every entry once and write expected_entries.json "
                         "(only from outputs that tools/check_oracle.py passes)")
    a = ap.parse_args(argv)
    start = time.time()

    # ---- preflight: nothing is printed on stdout before these pass
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("program sources not found next to the benchmark (src/main/scala/graft)")
    if a.workload not in WORKLOADS and not a.record_expected:
        die(f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    jvms = other_jvms()
    if jvms:
        die("another JVM is running; stop it first:\n  " + "\n  ".join(jvms))
    wl = WORKLOADS.get(a.workload, {"data": "small", "clients": 1})
    entries = list(wl.get("entries", []))
    if a.record_expected:
        entries = sorted({e for w in WORKLOADS.values() for e in w.get("entries", [])}
                         | set(PROBE_ENTRIES.values()))
    is_fed = a.workload == "federated_scan" and not a.record_expected
    if not is_fed and not entries:
        die(f"workload {a.workload} has an empty entry list", 3)

    t_build = time.time()
    classes, src_digest = build.build()
    data_dir, data_digest = ensure_data(wl["data"] if not a.record_expected else "small")
    aux_dir, aux_digest = ensure_data("small")
    # a first run's build and data generation do not eat into the JVM's time
    deadline = start + DEADLINE_S + (time.time() - t_build)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("jtmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    n = cores()
    cfg = {
        "workload": "record" if a.record_expected else a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": 0.0 if a.record_expected else a.seconds,
        "cores": n, "heap": heap(),
        # untimed warm-up passes: the first pass generates and compiles
        # Spark code for every query and the JIT compiles the hot paths,
        # and the second still ran about 20 % slower, in CPU as in wall
        # time, than the passes after it
        "warmup_passes": 0 if a.record_expected else WARMUP_PASSES,
        "clients": wl["clients"], "data_dir": data_dir, "aux_dir": aux_dir,
        "entries": entries, "orders": entry_orders(entries, a.seed) if entries else [],
        "fed_passes": fed_passes(a.seed) if is_fed else [], "probe_entries": PROBE_ENTRIES,
        "tmp_dir": os.path.join(run_dir, "jtmp"),
        "spark_local_dir": os.path.join(run_dir, "spark-local"),
        "warehouse_dir": os.path.join(run_dir, "warehouse"),
        "out": os.path.join(run_dir, "raw.json"), "spans_out": os.path.join(run_dir, "spans.json"),
    }
    raw = run_jvm(classes, cfg, run_dir, deadline)
    raw["warmup_passes"] = cfg["warmup_passes"]

    if a.record_expected:
        bad = [r for r in raw["requests"] if r["error"]]
        if bad:
            die("entries failed: " + ", ".join(r["name"] for r in bad), 1)
        with open(EXPECTED, "w") as f:
            json.dump({"input_digest": data_digest,
                       "entries": {r["name"]: {"count": r["count"], "hash": r["hash"]}
                                   for r in raw["requests"]}}, f, indent=1, sort_keys=True)
            f.write("\n")
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"wrote {EXPECTED}")
        return

    # ---- outputs: every request's digest against its expected value
    if is_fed:
        expected = raw["expected"]
        expected.update(_expected_entries(aux_digest))  # probe entries of a traced run
    else:
        expected = _expected_entries(data_digest)
    failures = metrics.check_digests(raw["requests"], expected)
    spans = []
    if a.trace:
        with open(cfg["spans_out"]) as f:
            spans = json.load(f)
        values, self_time = metrics.per_layer(raw, spans)
        notes = {"self_time": self_time}
    else:
        values, notes = metrics.end_to_end(raw)
    attempted = len(raw["requests"])
    context = dict(raw["context"], local=f"local[{n}]", seed=a.seed, workload=a.workload,
                   trace=a.trace, seconds=a.seconds, git_commit=git_commit(),
                   source_digest=src_digest, input_digest=data_digest,
                   aux_input_digest=aux_digest, heap=cfg["heap"])
    result = {
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results", f"{tag}-{stamp}.json"), "w") as f:
        json.dump(dict(result, context=context, notes=notes, failures=failures,
                       failed_frac=len(failures) / attempted,
                       disk_leaked_mb=raw["disk_leaked_mb"],
                       expected_s=raw["expected_s"], expected=raw["expected"],
                       passes=raw["passes"],
                       requests=raw["requests"], layers=raw["layers"]), f)
    if spans:
        shutil.copyfile(cfg["spans_out"], os.path.join(WORK, "results", f"{tag}-{stamp}.spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def _expected_entries(input_digest):
    """Expected entry digests, valid only for the input they came from."""
    with open(EXPECTED) as f:
        exp = json.load(f)
    if exp["input_digest"] != input_digest:
        return {}
    return exp["entries"]


if __name__ == "__main__":
    main()
