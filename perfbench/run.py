#!/usr/bin/env python3
"""Benchmark launcher for the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <query_batch|ingest_drops>
                           --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-check        # at sf0.001

Builds the harness (perfbench/build.sbt, which compiles against the root
build) once per source state into .bench_build/, runs one benchmark process,
checks its outputs and prints, as the last stdout line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (and writes the spans to
.bench_out/<run>/spans.jsonl). Batch outputs are checked with
tools/check_oracle.py against DuckDB; ingest outputs are checked inside the
benchmark process. See perfbench/README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data")
# the measured scale, and the small one the self-check runs at
SCALE = "sf0.1"
CHECK_SCALE = "sf0.001"
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("query_batch", "ingest_drops")
HEAP = "3g"

# the engine's sources, build and oracle checker must be present: the
# benchmark builds the program from this checkout
REQUIRED = ["build.sbt", "project/build.properties", "src/main/scala",
            "tools/check_oracle.py", "perfbench/build.sbt",
            f"perfbench/data/{SCALE}"]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the harness if its sources changed; returns its classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    # build from the local dependency cache only
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building the harness (sbt)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    # the exported classpath follows the last log line, possibly wrapped
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    logged = [i for i, l in enumerate(lines) if l.startswith("[")]
    cp = "".join(lines[logged[-1] + 1:] if logged else lines)
    if p.returncode != 0 or not cp.startswith("/"):
        sys.stderr.write("\n".join(lines[:logged[-1] + 1] if logged else lines))
        die("harness build failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, out):
    cmd = ["java"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={out}/tmp",
            f"-Dderby.stream.error.file={out}/derby.log",
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "bench.log"), "w") as log:
        p = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           timeout=170)
    if p.returncode != 0:
        with open(os.path.join(out, "bench.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark process exited with {p.returncode}")


def oracle_verdicts(data, check_dir, names, procs):
    """Runs the repository's DuckDB oracle check, unchanged, over the
    query outputs the benchmark process wrote, split across `procs`
    processes by its query-subset argument; returns {query: (verdict,
    reason)}."""
    groups = [g for g in (names[i::procs] for i in range(procs)) if g]
    ps = [subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         data, check_dir, ",".join(g)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for g in groups]
    verdicts = {}
    for p in ps:
        try:
            out, err = p.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            for q in ps:
                q.kill()
                q.wait()
            die("oracle check timed out")
        for line in out.splitlines():
            head, _, rest = line.partition(" ")
            if head in ("PASS", "FAIL"):
                name, _, why = rest.partition(": ")
                verdicts[name.strip()] = (head, why)
        if p.returncode not in (0, 1):
            sys.stderr.write(out[-2000:] + err[-2000:])
            die("oracle check crashed")
    return verdicts


def bench(a):
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    for r in REQUIRED:
        if not os.path.exists(os.path.join(ROOT, r)):
            die(f"{r} is missing: run from a full checkout of the repository")
    cp = classpath()
    out = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cpus = len(os.sched_getaffinity(0))
    data = os.path.join(DATA, a.scale)
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", data, "--out", out, "--cpus", str(cpus)], out)
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)

    failures = {f["op"]: f["why"] for f in rec["check_failures"]}
    failures.update({e["op"]: e["why"] for e in rec["op_errors"]})
    if rec["check_dir"]:
        t0 = time.time()
        expected = sorted(rec["op_seconds"])
        verdicts = oracle_verdicts(data, rec["check_dir"], expected, cpus)
        print(f"perfbench: oracle check {time.time() - t0:.1f} s", file=sys.stderr)
        for name in expected:
            verdict, why = verdicts.get(name, ("FAIL", "no oracle verdict"))
            if verdict != "PASS":
                failures.setdefault(name, f"oracle: {why}")
        shutil.rmtree(rec["check_dir"], ignore_errors=True)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)

    def failed(op):
        return op in failures or "*" in failures
    attempted = rec["attempted"]
    n_failed = sum(1 for op in rec["op_names"] if failed(op))
    metrics = rec["per_layer"] if a.trace else rec["end_to_end"]

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"passes {rec['passes']}  ops/pass {rec['ops_per_pass']}  "
          f"timed {rec['timed_s']:.2f} s  cpus {rec['cpus']}  "
          f"heap {rec['heap_max_mb']} MB")
    print(f"best of {rec['passes']} passes per operation; "
          f"calib {rec['calib_s']:.3f} s; "
          f"ambient cores {rec['ambient_cores']:.2f}")
    print(f"fail_frac {n_failed / attempted:.4f} ({n_failed}/{attempted})")
    for op, why in sorted(failures.items()):
        print(f"FAILED {op}: {why}")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    print(f"record: {os.path.relpath(out, ROOT)}/record.json")
    print(json.dumps({"correct": n_failed == 0 and not failures,
                      "attempted": attempted, "failed": n_failed,
                      "metrics": metrics}))
    return 0


def self_check():
    """Runs every workload briefly at the small scale, untraced and traced,
    and checks that each metric BENCHMARK.json names is printed with its
    unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 w["name"], "--seed", "1", "--seconds", "1", "--trace",
                 str(trace), "--scale", CHECK_SCALE],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            got = json.loads(last).get("metrics", {}) if p.returncode == 0 else {}
            for m in spec[key]:
                have = got.get(m["name"])
                if not have or have.get("unit") != m["unit"]:
                    ok = False
                    print(f"MISSING {w['name']} trace={trace} {m['name']} "
                          f"[{m['unit']}]: got {have}")
            print(f"{w['name']} trace={trace}: exit {p.returncode}, "
                  f"{len(got)} metrics")
    print("self-check " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=(SCALE, CHECK_SCALE), default=SCALE,
                    help="input tables under perfbench/data/")
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        return self_check()
    if not a.workload:
        die("--workload is required")
    return bench(a)


if __name__ == "__main__":
    sys.exit(main())
