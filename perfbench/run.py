"""graft benchmark: one workload, one run, one JSON verdict line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds graft and the
benchmark JVM from `src/main/scala` + `perfbench/harness` with the
Scala compiler shipped in Spark's jars, and generates the input tables
(`perfbench/gen.py`); both land in `$CARGO_TARGET_DIR` (default
`.bench_build`) and are rebuilt only when their sources change.

A run is a closed loop with one client: one driver thread runs the
workload's queries in a seed-shuffled order on `GraftSession.local`
with every core. It times a cold pass in the listed order, then at
least three warm passes in the seeded order until `--seconds` have been
measured; each query's action writes to Spark's `noop` sink, so every
output column is materialized. In the cold pass, outside the timed
region, it fingerprints each query's result (rows + order-insensitive
hash) and compares it with `perfbench/pins.json`. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics
with `--trace 0`, per-layer metrics (Spark listeners on every second
warm pass) with `--trace 1`. The exit code is non-zero on any failed
query or wrong result.

A run is flagged noisy when its host sentinel drifts within the run,
reads slower than the host's quiet reference (the fastest reading any
run in this build directory has seen), or the hypervisor stole a share
of its CPU time. `--self-check` times the sentinel under a deliberate
busy loop and exits 0 only if such a run flags itself.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HEAP = "2g"
JVM_TIMEOUT_S = 150
SETUP_PROBES = 1
KEEP_RUNS = 100

# The timed workloads, sized so that all runs fit the time budget even
# when the host is slow (see NOTES.md).
WORKLOADS = {
    "batch": ["q59_cohort_performance", "q39_churn_composition", "q38_corpus_pipeline",
              "q41_dedup_minhash", "q111_video_dedup", "q254_committed_compaction"],
    "iterative": ["q118_pagerank", "q179_kcore_peel", "q214_label_propagation", "q274_hits"],
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")


def build(out, jars):
    """Compile graft plus the harness into out/classes-<hash>; return the
    run-time classpath."""
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    sources += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    classes = os.path.join(out, "classes-" + digest(sources))
    cp = os.path.join(jars, "*")
    if os.path.isdir(classes):
        return classes + os.pathsep + cp
    for stale in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        fail("compile failed")
    os.rename(tmp, classes)
    return classes + os.pathsep + cp


def inputs(out):
    gen = os.path.join(HERE, "gen.py")
    data = os.path.join(out, "data-" + digest([gen]))
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp], check=True, timeout=300)
        os.rename(tmp, data)
    return data


def shuffled(names, seed):
    """Fisher-Yates driven by splitmix64(seed): a fixed, documented order."""
    state = seed & (2**64 - 1)

    def nxt():
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & (2**64 - 1)
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
        return z ^ (z >> 31)

    out = list(names)
    for i in range(len(out) - 1, 0, -1):
        j = nxt() % (i + 1)
        out[i], out[j] = out[j], out[i]
    return out


def jvm(cp, workdir, args):
    """Run the harness in a fresh JVM with build.sbt's javaOptions,
    all of Spark's scratch space inside `workdir`."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    cmd = ["java"] + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-DontCompileHugeMethods", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={workdir}/tmp", f"-Dspark.local.dir={workdir}/local",
        f"-Dspark.sql.warehouse.dir={workdir}/warehouse",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Harness"] + args
    with open(os.path.join(workdir, "jvm.log"), "ab") as log:
        p = subprocess.Popen(cmd, cwd=workdir, stdout=log, stderr=log, stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S}s; see {workdir}/jvm.log")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else median(xs)


def sentinel_bound():
    """How far the sentinel may drift within a run, or exceed the quiet
    reference, before the run is flagged: the tightest end-to-end time
    bound."""
    try:
        with open("BENCHMARK.json") as f:
            e2e = json.load(f)["end_to_end"]
        return min(m["bound"] for m in e2e if m["unit"] == "s" and m["name"] != "setup_s")
    except (OSError, ValueError, KeyError):
        return 0.1


def reference_path(out):
    return os.path.join(out, "sentinel_ref.json")


def stored_reference(out):
    try:
        with open(reference_path(out)) as f:
            return json.load(f)["sentinel_s"]
    except (OSError, ValueError, KeyError):
        return None


def host_reference(out, reading):
    """The host's quiet reference: the fastest median sentinel reading of
    any run in this build directory, this run's `reading` included."""
    ref = min(x for x in (stored_reference(out), reading) if x is not None)
    with open(reference_path(out), "w") as f:
        json.dump({"sentinel_s": ref}, f)
    return ref


def cpu_ticks():
    """Host-wide (busy, steal) CPU ticks from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[0] + t[1] + t[2] + t[5] + t[6], t[7]
    except (OSError, ValueError, IndexError):
        return None


def host_state(readings, ref, ticks=None):
    """A run is noisy if, by more than the tightest time bound, its
    sentinel drifts within the run (a noisy window opens or closes), its
    median reads slower than the quiet reference (the whole run sits in
    one), or the hypervisor's steal time stretches the CPU time the run
    was given. `ticks` is the (busy, steal) delta over the run."""
    drift = max(readings) / min(readings)
    level = median(readings) / ref
    busy, steal = ticks if ticks and ticks[0] > 0 else (1, 0)
    stretch = (busy + steal) / busy
    bound = sentinel_bound()
    over = [k for k, v in (("drift", drift), ("level", level), ("steal", stretch)) if v - 1 > bound]
    return {"sentinel_drift": drift, "sentinel_s": median(readings), "sentinel_level": level,
            "reference_s": ref, "steal_frac": steal / (busy + steal), "noisy": bool(over),
            "flagged_by": over}


def check(prints, pins):
    """Per-query verdict: 'ok', or why the fingerprint does not match its pin."""
    out = {}
    for q, fp in prints.items():
        pin = pins.get(q)
        if "error" in fp:
            out[q] = "error: " + fp["error"]
        elif pin is None:
            out[q] = "no pin"
        elif fp["rows"] != pin["rows"] or fp["hash"] != pin["hash"]:
            out[q] = f"got {fp['rows']} rows {fp['hash']}, pinned {pin['rows']} rows {pin['hash']}"
        else:
            out[q] = "ok"
    return out


def pass_walls(res, traced):
    """Per pass, the sum of its queries' build + action times."""
    walls = {}
    for s in res["samples"]:
        if s["traced"] == traced:
            walls[s["pass"]] = walls.get(s["pass"], 0.0) + s["wall_s"]
    return walls


def e2e_metrics(res, setups):
    walls = pass_walls(res, False)
    warm = [w for p, w in walls.items() if p > 0]
    samples = [s["wall_s"] for s in res["samples"] if s["pass"] > 0 and not s["traced"]
               and s["error"] is None]
    return {"setup_s": median(setups), "cold_pass_s": walls[0], "warm_pass_s": median(warm),
            "query_p50_s": median(samples), "query_p90_s": p90(samples)}, len(samples), len(warm)


def layer_metrics(res, host):
    """Workload value of each layer metric: its sum over a traced pass's
    queries (max for cache peaks, a ratio for core use), median over the
    traced passes; per-query values are medians over the same passes."""
    rows = res["layers"]
    keys = [k for k in rows[0] if "." in k] if rows else []
    by_pass = {}
    for r in rows:
        by_pass.setdefault(r["pass"], []).append(r)

    def pass_value(k, rs):
        if k == "cache.peak_mb":
            return max(r[k] for r in rs)
        if k == "exec.core_util":
            busy = sum(r["exec.busy_s"] for r in rs)
            return sum(r["exec.task_run_s"] for r in rs) / (busy * res["cores"]) if busy else 0.0
        return sum(r[k] for r in rs)

    workload = {k: median([pass_value(k, rs) for rs in by_pass.values()]) for k in keys}
    per_query = {}
    for r in rows:
        per_query.setdefault(r["query"], []).append(r)
    per_query = {q: {k: median([r[k] for r in rs]) for k in keys} for q, rs in per_query.items()}
    warm = lambda t: [w for p, w in pass_walls(res, t).items() if p > 0]
    workload.update({
        "host.sentinel_drift": host["sentinel_drift"],
        "host.sentinel_s": host["sentinel_s"],
        "host.sentinel_level": host["sentinel_level"],
        "host.steal_frac": host["steal_frac"],
        "host.loadavg_1m": host["loadavg_1m"],
        "jvm.peak_heap_mb": res["peak_heap_mb"],
        "trace.overhead_s": median(warm(True)) - median(warm(False))})
    return workload, per_query


RATIOS = {"ok_frac", "match_frac", "exec.core_util", "host.sentinel_drift", "host.sentinel_level",
          "host.steal_frac", "host.loadavg_1m"}


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name in RATIOS else "count"


def self_check(cp, out):
    """Time the sentinel three times quiet, then three times beside two
    busy loops per core: a run made wholly under load. It passes only if
    that loaded run flags itself by its level against the quiet
    reference, the check that drift within a run cannot make."""
    workdir = os.path.join(out, "runs", f"selfcheck-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={workdir}",
           "-cp", cp, "perfbench.Harness", "sentinel"]
    p = subprocess.Popen(cmd, cwd=workdir, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    busy = []
    try:
        def readings():
            out = []
            for _ in range(3):
                p.stdin.write("\n")
                p.stdin.flush()
                out.append(float(p.stdout.readline()))
            return out
        quiet = readings()
        busy = [subprocess.Popen([sys.executable, "-c", "while True: pass"])
                for _ in range(2 * len(os.sched_getaffinity(0)))]
        time.sleep(0.5)
        loaded = readings()
    finally:
        for b in busy:
            b.kill()
            b.wait()
        p.stdin.close()
        p.wait(timeout=30)
    ref = min(x for x in (stored_reference(out), median(quiet)) if x is not None)
    quiet_run, loaded_run = host_state(quiet, ref), host_state(loaded, ref)
    flagged = "level" in loaded_run["flagged_by"]
    print(json.dumps({"self_check": {"bound": sentinel_bound(), "quiet": quiet_run,
                                     "loaded": loaded_run, "flagged": flagged}}))
    return 0 if flagged else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(HERE, "pins.json")):
        fail("perfbench/pins.json missing")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    if not glob.glob("src/main/scala/**/*.scala", recursive=True):
        fail("no src/main/scala here; run from the repository root")
    cp = build(out, spark_jars())
    if a.self_check:
        sys.exit(self_check(cp, out))
    if not a.workload:
        fail("--workload is required")
    data = inputs(out)
    listed = WORKLOADS[a.workload]
    queries = shuffled(listed, a.seed)
    runs = sorted(glob.glob(os.path.join(out, "runs", "*")), key=os.path.getmtime)
    for stale in runs[:-KEEP_RUNS]:
        shutil.rmtree(stale, ignore_errors=True)
    workdir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)

    setups = []
    if a.trace == 0:
        for i in range(SETUP_PROBES):
            probe = os.path.join(workdir, "setup.json")
            if jvm(cp, workdir, ["setup", probe]) != 0:
                fail(f"set-up probe failed; see {workdir}/jvm.log")
            with open(probe) as f:
                setups.append(json.load(f)["setup_s"])
    result = os.path.join(workdir, "result.json")
    ticks0 = cpu_ticks()
    rc = jvm(cp, workdir, ["run", f"data={data}", f"workload={a.workload}",
                                f"queries={','.join(queries)}", f"cold={','.join(listed)}",
                                f"seconds={a.seconds}",
                                f"trace={a.trace}", f"cores={len(os.sched_getaffinity(0))}",
                                f"out={result}", f"spans={os.path.join(workdir, 'spans.jsonl')}"])
    if rc != 0 or not os.path.isfile(result):
        fail(f"benchmark JVM exited with {rc}; see {workdir}/jvm.log")
    ticks1 = cpu_ticks()
    with open(result) as f:
        res = json.load(f)
    for d in ("tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(workdir, d), ignore_errors=True)
    setups.append(res["setup_s"])

    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)["pins"]
    verdicts = check(res["fingerprints"], pins)
    wrong = sorted(q for q, v in verdicts.items() if v != "ok")
    errors = {s["query"]: s["error"] for s in res["samples"] if s["error"]}
    attempted = len(res["samples"])
    failed = sum(1 for s in res["samples"] if s["error"])
    ticks = (ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    host = host_state(res["sentinel_s"], host_reference(out, median(res["sentinel_s"])), ticks)
    host["loadavg_1m"] = max(res["loadavg_1m"])

    e2e, n_samples, n_warm = e2e_metrics(res, setups)
    e2e["ok_frac"] = 1 - failed / attempted
    e2e["match_frac"] = 1 - len(wrong) / len(queries)
    detail = {"workload": a.workload, "seed": a.seed, "order": queries, "trace": a.trace,
              "warm_passes": n_warm, "query_samples": n_samples, "setup_samples": setups,
              "peak_heap_mb": res["peak_heap_mb"],
              "failed_frac": failed / attempted, "wrong_results": len(wrong),
              "wrong": {q: verdicts[q] for q in wrong}, "errors": errors,
              "host": host, "run_dir": os.path.relpath(workdir)}
    if a.trace:
        metrics, per_query = layer_metrics(res, host)
        with open(os.path.join(workdir, "layers.json"), "w") as f:
            json.dump({"workload": metrics, "per_query": per_query}, f, indent=1)
        detail["per_query"] = per_query
    else:
        metrics = e2e
    detail["end_to_end"] = e2e
    if host["noisy"]:
        print(f"perfbench: NOISY HOST WINDOW ({', '.join(host['flagged_by'])}): "
              f"sentinel drift {host['sentinel_drift']:.3f}, "
              f"level {host['sentinel_level']:.3f} of the quiet reference, steal "
              f"{host['steal_frac']:.3f} of CPU time (bound {sentinel_bound()}); "
              f"treat this run's timings with suspicion", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    correct = not wrong and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
