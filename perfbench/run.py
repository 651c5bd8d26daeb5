#!/usr/bin/env python3
"""Repository benchmark: times the engine from outside through its public
functions, with every output column materialized.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under `.perfbench/`;
later runs rebuild only when a source file changed. Each run generates its
inputs from the seed, starts one JVM (`perfbench.Harness`, `local[nproc]`),
verifies the outputs, and prints one JSON line as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
See perfbench/README.md for the workloads and metric definitions.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Inputs per workload: mixes read the query tables at one scale factor, the
# DAG reads three cohort sheets of a fixed patient count.
TABLES_SF = 0.01
PATIENTS = 2_000
WORKLOADS = ["medical_dag", "query_mix_sf001"]
JVM_TIMEOUT_S = 150

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Files whose content decides the build, relative to the repo root."""
    files = ["build.sbt", "perfbench/build.sbt"]
    for top in ["project", "perfbench/project"]:
        d = os.path.join(ROOT, top)
        if os.path.isdir(d):
            files += [os.path.join(top, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in ["src/main", "perfbench/src"]:
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            files += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in sorted(names)]
    return files


def build():
    """Compiles engine and harness once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (run from a repository checkout)")
    digest = hashlib.sha256()
    for rel in build_inputs():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def heap_gb():
    """A quarter of physical memory, clamped to [2, 32] GB (as build.sbt)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(2, min(32, int(phys // 4)))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(samples):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, or the maximum when no percentile qualifies (fewer than 20 samples).
    Returns (value, label, sample count)."""
    s = sorted(samples)
    n = len(s)
    for pct in (99, 95, 90, 75, 50):
        k = math.ceil(pct / 100 * n) - 1  # nearest-rank index
        if n - 1 - k >= 10:
            return s[k], f"p{pct}", n
    return (s[-1] if s else float("nan")), "max", n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    import gen
    import verify

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        inputs = os.path.join(work, "inputs")
        keys = None
        if args.workload == "medical_dag":
            meta = gen.cohorts(os.path.join(inputs, "cohorts"), PATIENTS, args.seed)
            keys = ",".join(f"{k}={v['non_null_keys']}" for k, v in meta.items())
        else:
            gen.tables(os.path.join(inputs, "tables"), TABLES_SF, args.seed)
        gen_s = time.time() - t0

        cmd = ["java", f"-Xmx{heap_gb()}g", *ADD_OPENS, "-Dfile.encoding=UTF-8",
               "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", classpath, "perfbench.Harness",
               "--workload", args.workload, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cores", str(cores),
               "--inputs", inputs, "--work", work]
        if keys:
            cmd += ["--keys", keys]
        launch_ms = time.time() * 1000
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        run_file = os.path.join(work, "run.json")
        if rc != 0 or not os.path.isfile(run_file):
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail(f"harness exited with {rc}")
        with open(run_file) as f:
            run = json.load(f)

        t1 = time.time()
        bad = {}  # (pass, op) -> reason
        for c in run["checks"]:
            if not c["ok"]:
                bad[(0, c["op"])] = c["check"]
        if run["queries"]:
            for q, why in verify.check(os.path.join(inputs, "tables"),
                                       os.path.join(work, "verify"),
                                       run["queries"]).items():
                if why:
                    bad[(0, q)] = why
        verify_s = time.time() - t1

        for op in run["ops"]:
            if not op["ok"]:
                bad[(op["pass"], op["name"])] = op["error"]
        attempted = len(run["ops"]) + 1  # plus the action self-test
        failed = len(bad) + (0 if run["self_test_ok"] else 1)
        for (p, name), why in sorted(bad.items()):
            print(f"# FAILED pass {p} {name}: {why}", file=sys.stderr)
        if not run["self_test_ok"]:
            print("# FAILED self-test: the timed action did not evaluate a "
                  "raise_error column", file=sys.stderr)

        setup_s = gen_s + (run["setup_done_ms"] - launch_ms) / 1e3 + verify_s
        passes = run["pass_records"]
        plain = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        timed_ops = [o["wall_s"] for o in run["ops"]
                     if o["pass"] >= 1 and not o["traced"]]
        tail_v, tail_pct, n = tail(timed_ops)
        print(f"# {args.workload} seed {args.seed}: {len(passes)} timed passes, "
              f"{n} op samples, op_tail_s = {tail_pct}; loadavg "
              f"{run['loadavg_start']:.2f} -> {run['loadavg_end']:.2f}; "
              f"probe {run['probe_s']:.3f} s")

        if args.trace == 0:
            metrics = {
                "setup_s": setup_s,
                "wall_s": median([p["wall_s"] for p in plain]),
                "op_p50_s": median(timed_ops),
                "op_tail_s": tail_v,
                "ok_frac": (attempted - failed) / attempted,
                "peak_heap_mb": run["peak_heap_mb"],
            }
        else:
            layers = {k: median([p["layer"][k] for p in traced])
                      for k in traced[0]["layer"]}
            layers.update({
                "jvm.peak_rss_mb": run["peak_rss_mb"],
                "codegen.compiles": run["codegen_compiles"],
                "codegen.compile_s": run["codegen_compile_s"],
                "pipeline.runner_overhead_s":
                    median([p["runner_overhead_s"] for p in traced]),
                "host.probe_s": run["probe_s"],
                "trace.overhead_s": median([p["wall_s"] for p in traced])
                - statistics.mean([p["wall_s"] for p in plain]),
            })
            metrics = layers

        last = os.path.join(STATE, "last")
        os.makedirs(last, exist_ok=True)
        for name in ["run.json", "spans.jsonl"]:
            if os.path.isfile(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), os.path.join(
                    last, f"{args.workload}.trace{args.trace}.{name}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # names and units come from BENCHMARK.json, the one list of metrics
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }))


if __name__ == "__main__":
    main()
