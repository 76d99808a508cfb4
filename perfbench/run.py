#!/usr/bin/env python3
"""The repository benchmark: two workloads over seeded inputs.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into ``target/`` and
``perfbench/target/``; later runs reuse that build while the sources are
unchanged. Each run:

1. writes its inputs from ``--seed`` (``inputs.py``: the bundled base
   tables with rows and file boundaries permuted by the seed);
2. sets up three times and reports the median as ``setup_s``;
3. runs an untimed warm-up pass whose outputs are kept for the checks,
   then times passes for ``--seconds`` seconds (at least four), consuming
   every call's full output;
4. checks every output: keys with a DuckDB oracle through
   ``scripts/precheck.py``, the rest by row count and digest against
   ``perfbench/expected.json``, the stream against the one-shot key.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The lines
before it print every metric with its unit and sample count. A traced run
also writes its full per-layer record to ``perfbench/out/`` for
``perfbench/layerdiff.py``. The command exits non-zero when an output is
wrong or a call fails.

``--smoke`` runs every workload briefly on the sf0.001 base tables, traced
and untraced, and checks that the printed metric names match
BENCHMARK.json. ``--record`` writes the digests of one run per workload and
base to ``perfbench/expected.json`` instead of checking them.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data")
BASE = "sf0.01"        # the measured input
SMOKE_BASE = "sf0.001"  # --smoke
XMX = "2g"
REPLAY_FILES = 3
WORKLOADS = ("nightly_batch", "stream_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found: run from the root of a full checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build", "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec["sources"] == h.hexdigest():
            return rec["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's scratch files (file-watcher and JNA libraries, JVM perf
    # data, server socket) inside the checkout
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "export perfbench/Runtime/fullClasspath"]
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"sources": h.hexdigest(), "classpath": cp}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ------------------------------------------------------------------ run

def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs: how much of the run the
    hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def run_jvm(cp, workload, seconds, trace, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work])
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            rc = "timeout"
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(logf, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM failed (exit {rc})", 3)
    with open(res_path) as fh:
        return json.load(fh)


# --------------------------------------------------------------- checks

def oracle_check(work, keys):
    """Run the strict DuckDB comparator; return {key: ok}."""
    if not keys:
        return {}
    checkdata = os.path.join(work, "checkdata")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "precheck.py"),
                        checkdata, os.path.join(work, "checks")] + list(keys),
                       capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
                       stdin=subprocess.DEVNULL)
    verdict = {k: False for k in keys}
    for ln in p.stdout.splitlines():
        parts = ln.split()
        if len(parts) >= 2 and parts[1] in verdict:
            verdict[parts[1]] = parts[0] == "OK"
            if parts[0] != "OK":
                log(ln[:400])
    return verdict


def load_expected():
    path = os.path.join(HERE, "expected.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    return {}


def check(res, work, base):
    """Return {output name: passed}."""
    c = res["checks"]
    verdict = oracle_check(work, c["oracle"])
    want = load_expected().get(base, {}).get(res["workload"], {})
    for name, got in c["digests"].items():
        ok = want.get(name) == got
        if not ok:
            log(f"digest mismatch {name}: got {got}, expected {want.get(name)}")
        verdict[name] = ok
    u = c["stream_union"]
    if u:
        verdict["ingest_funnel.union"] = bool(u["equal"])
        if not u["equal"]:
            log(f"stream union differs from llm_ingest_e2e: {u}")
    return verdict


# -------------------------------------------------------------- metrics

def tail(xs):
    """Highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it (nearest rank); (percentile, value)."""
    xs = sorted(xs)
    n = len(xs)
    best = (100.0, xs[-1])
    for q in (50.0, 75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - q / 100) >= 10:
            best = (q, xs[max(0, math.ceil(q / 100 * n) - 1)])
    return best


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, docs):
    """Every end-to-end figure with its unit and sample count."""
    passes = [p for p in res["passes"] if not p["warmup"] and not p["traced"]]
    # a pass with a failed call is never a time; with none left the run
    # reports zeros and is marked incorrect by its failures
    clean = [p for p in passes if all(s["ok"] for s in p["steps"])]
    stream = res["workload"] == "stream_ingest"
    if stream:
        jobs = [p["stream"]["drain_s"] for p in clean]
        steps = [b["trigger_s"] for p in clean for b in p["stream"]["batches"]]
        p50 = med(steps)
    else:
        jobs = [p["wall_s"] for p in clean]
        steps = [s["total_s"] for p in clean for s in p["steps"] if s["ok"]]
        by_call = {}
        for p in clean:
            for s in p["steps"]:
                if s["ok"]:
                    by_call.setdefault(s["name"], []).append(s["total_s"])
        # each call's median over the passes, then the median call
        p50 = med([statistics.median(v) for v in by_call.values()])
    q, tail_v = tail(steps) if steps else (100.0, 0.0)
    setups = [s["total_s"] for s in res["setup"]]
    m = {
        "setup_s": (statistics.median(setups), "s", len(setups), "median"),
        "job_s": (med(jobs), "s", len(jobs), "median"),
        "step_p50_s": (p50, "s", len(steps), "median"),
        "step_tail_s": (tail_v, "s", len(steps), f"p{q:g}"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1, f"VmHWM, -Xmx{XMX}"),
    }
    if stream:
        m["docs_per_s"] = (med([docs / j for j in jobs]), "1/s", len(jobs), "median")
    return m


# ------------------------------------------------------------------ main

def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def one_run(cp, spec, workload, seed, seconds, trace, base, record=None):
    """Run, check and report one workload; return (result line, names)."""
    import inputs
    work = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    try:
        docs = inputs.generate(os.path.join(DATA, base), seed, os.path.join(work, "data"),
                               os.path.join(work, "checkdata"), os.path.join(work, "replay"),
                               REPLAY_FILES)
        tg = time.time()
        steal0 = cpu_ticks()
        res = run_jvm(cp, workload, seconds, trace, work)
        steal1 = cpu_ticks()
        t1 = time.time()
        if record is not None:
            record.setdefault(base, {})[workload] = res["checks"]["digests"]
        verdict = check(res, work, base) if record is None else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"{workload}: inputs {tg - t0:.1f} s, jvm {t1 - tg:.1f} s (set-up {sum(s['total_s'] for s in res['setup']):.1f}, "
        f"warm-up pass {res['passes'][0]['wall_s']:.1f}, measured {res['measure_s']:.1f}, "
        f"checks {res['check_s']:.1f}); oracle compare {time.time() - t1:.1f} s")
    calls = sum(len(p["steps"]) for p in res["passes"])
    failed = len(res["failures"]) + sum(1 for ok in verdict.values() if not ok)
    attempted = calls + len(verdict)
    e2e = end_to_end(res, docs)
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(f"workload {workload}  seed {seed}  cpus {res['cpus']}  input {base} "
          f"(seeded order)  passes {len(res['passes']) - 1}  measured {res['measure_s']:.1f} s  "
          f"cpu steal {steal:.1%}")
    for k, (v, unit, n, how) in e2e.items():
        print(f"  {k:<16} {v:12.4f} {unit:<4} n={n:<4} {how}")
    print(f"  {'error_rate':<16} {failed / attempted:12.4f}      "
          f"n={attempted:<4} failed/attempted")
    if trace:
        import layers
        per_layer = layers.run_metrics(res)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{workload}-seed{seed}.json"), "w") as fh:
            json.dump({"workload": workload, "seed": seed, "base": base,
                       "job_s": e2e["job_s"][0], "metrics": per_layer}, fh, indent=1,
                      sort_keys=True)
        for k in sorted(per_layer):
            print(f"  {k:<32} {per_layer[k]:14.4f}")
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": per_layer.get(n, 0.0), "unit": u["unit"]}
                   for n, u in ((m["name"], m) for m in spec["per_layer"])}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    return line, names


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    spec = bench_spec()
    cp = build()
    if a.smoke or a.record:
        record = {} if a.record else None
        bases = (SMOKE_BASE, BASE) if a.record else (SMOKE_BASE,)
        bad = []
        for base in bases:
            for w in WORKLOADS:
                for trace in ((0,) if a.record else (0, 1)):
                    line, names = one_run(cp, spec, w, a.seed, 1, trace, base, record)
                    if sorted(line["metrics"]) != sorted(names) or not line["correct"]:
                        bad.append((w, trace))
                    print(json.dumps(line))
        if a.record:
            merged = load_expected()
            merged.update(record)
            with open(os.path.join(HERE, "expected.json"), "w") as fh:
                json.dump(merged, fh, indent=1, sort_keys=True)
                fh.write("\n")
        if bad:
            fail(f"smoke failed for {bad}", 1)
        return
    if not a.workload:
        ap.error("--workload is required")
    line, _ = one_run(cp, spec, a.workload, a.seed, a.seconds, a.trace, BASE)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
