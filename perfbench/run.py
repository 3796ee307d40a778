#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload curation_dag|heavy_tail --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, runs the workload in one JVM (see src/perfbench/Main.scala),
checks every output (checks.py), prints a run record line, and prints as
its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The metric names and units come from BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ["curation_dag", "heavy_tail"]
JVM_TIMEOUT = 165   # seconds
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads: the program's sources and the
    harness's. A changed file triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness with sbt, offline, keeping sbt's own state
    inside .bench_build. Returns (classpath, source hash)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala; run from a checkout root")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read(), stamp
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Dsbt.boot.directory={BUILD}/sbt-boot"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), stamp


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                               capture_output=True, text=True,
                               timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, workload, data, out, seconds, trace):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={out}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--data", data, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace)]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    with open(f"{out}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT} s")
    if p.returncode != 0 or not os.path.exists(f"{out}/run.json"):
        sys.stderr.write(open(f"{out}/jvm.log").read()[-4000:])
        fail(f"the JVM exited with {p.returncode}")
    return json.load(open(f"{out}/run.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the checkout root")
    spec = json.load(open(spec_path))

    cp, stamp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), data,
                        "--seed", str(a.seed)], check=True, timeout=120)
        gen_s = time.time() - t0
        rec = run_jvm(cp, a.workload, data, run_dir, a.seconds, a.trace)

        import checks
        problems = (checks.curation(run_dir, data) if a.workload == "curation_dag"
                    else checks.queries(run_dir, data))
        # A re-run that builds or skips the wrong models wrote wrong
        # outputs, even though it is also counted as a failed operation.
        problems += [f"{f['op']}: {f['message']}" for f in rec["failures"]
                     if f["error"] == "StatusMismatch"]

        kind = "per_layer" if a.trace else "end_to_end"
        values = rec[kind]
        metrics = {}
        for m in spec[kind]:
            if m["name"] not in values and kind == "end_to_end":
                fail(f"the run did not measure {m['name']}")
            # a layer the workload does not exercise reads 0
            metrics[m["name"]] = {"value": values.get(m["name"]) or 0,
                                  "unit": m["unit"]}
        failures = group_failures(rec["failures"])
        print(json.dumps({"run_record": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "commit": commit(), "source_hash": stamp, "cores": rec["cores"],
            "java": rec["java"], "spark": rec["spark"],
            "inputs": "gen.py, sf0.01 shape", "gen_s": round(gen_s, 3),
            "passes": rec["passes"], "pass_walls": rec["pass_walls"],
            "cold_pass_timings": rec["cold_timings"],
            "pass_timings": rec["pass_timings"],
            "setup_walls": rec["setup_walls"],
            "attempted": rec["attempted"], "failed": rec["failed"],
            "failures": failures, "check_problems": problems}}))
        print(json.dumps({"correct": not problems,
                          "attempted": rec["attempted"],
                          "failed": rec["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def group_failures(failures):
    """Failures grouped by (op, error class, message), with counts."""
    seen = {}
    for f in failures:
        k = (f["op"], f["error"], f["message"])
        seen[k] = seen.get(k, 0) + 1
    return [{"op": k[0], "error": k[1], "message": k[2], "count": n}
            for k, n in seen.items()]


if __name__ == "__main__":
    main()
