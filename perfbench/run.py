#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>]       # every workload, untraced
    python3 perfbench/run.py --record-goldens          # rewrite perfbench/goldens.tsv
    python3 perfbench/run.py --oracle-check            # goldens vs DuckDB, once
    python3 perfbench/run.py --query-times <dir>       # query latencies on other tables

Run it from the root of a checkout. It builds the engine and the
benchmark with sbt (offline) on first use, keeps the classpath under
`.bench_build/`, and runs everything inside `.bench_run/`. A run prints
its metrics by name and unit and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_run")
GOLDENS = os.path.join(HERE, "goldens.tsv")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ["pipeline_backfill", "analytic_mix"]

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of everything the build and the inputs come from, so a changed
    tree rebuilds and keeps its own makespan record."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "gen_inputs.py")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build on first use (or after a source change); return the classpath
    and the source fingerprint."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)", 2)
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    fp = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(fp_file) \
            and open(fp_file).read().strip() == fp:
        return open(cp_file).read().strip(), fp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    out_lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(p.stdout)
    if p.returncode != 0 or not out_lines:
        fail(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp, fp


def fresh_work():
    """Empty the work dir, keeping only the untraced makespan records
    (one file per workload and source fingerprint)."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name.startswith("makespan-"):
            continue
        p = os.path.join(WORK, name)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    os.makedirs(os.path.join(WORK, "tmp"))


def jvm(cp, args, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main; echo its stdout; return (exit code, result JSON)."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main", "--work", WORK,
        "--gen", os.path.join(HERE, "gen_inputs.py")] + args
    log = open(os.path.join(WORK, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    result = None
    deadline = time.monotonic() + timeout
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line.rstrip("\n"), flush=True)
            if time.monotonic() > deadline:
                break
        p.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            result = None
            print(f"perfbench: run exceeded {timeout}s and was stopped", file=sys.stderr)
        log.close()
    if p.returncode != 0:
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return p.returncode, result


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(cp, fp, workload, seed, seconds, trace):
    fresh_work()
    record = os.path.join(WORK, f"makespan-{workload}-{fp[:16]}.txt")
    rc, result = jvm(cp, ["--goldens", GOLDENS, "--makespans", record, "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)])
    if rc != 0 or result is None:
        fail(f"{workload} run failed (exit {rc})", 4)
    got = set(result["metrics"])
    want = expected_metrics(trace)
    if got != want:
        fail(f"metrics {sorted(got ^ want)} differ from BENCHMARK.json", 5)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload untraced")
    ap.add_argument("--record-goldens", action="store_true")
    ap.add_argument("--oracle-check", action="store_true")
    ap.add_argument("--query-times", metavar="DIR",
                    help="time each query on the tables in DIR (outputs not checked)")
    a = ap.parse_args()
    cp, fp = classpath()
    if a.record_goldens:
        fresh_work()
        rc, _ = jvm(cp, ["--mode", "goldens", "--out", GOLDENS], timeout=1800)
        sys.exit(rc)
    if a.oracle_check:
        fresh_work()
        out = os.path.join(WORK, "oracle")
        rc, _ = jvm(cp, ["--mode", "oracle", "--goldens", GOLDENS, "--out", out], timeout=1800)
        if rc != 0:
            sys.exit(rc)
        tool = os.path.join(ROOT, "tools", "check_oracle.py")
        sys.exit(subprocess.run([sys.executable, tool, os.path.join(WORK, "inputs"), out]).returncode)
    if a.query_times:
        fresh_work()
        rc, _ = jvm(cp, ["--mode", "querytimes", "--inputs", os.path.abspath(a.query_times)],
                    timeout=1800)
        sys.exit(rc)
    if a.all:
        for w in WORKLOADS:
            r = run_one(cp, fp, w, a.seed, a.seconds, 0)
            print(json.dumps({"workload": w, **r}), flush=True)
        return
    if not a.workload:
        ap.error("--workload is required (or --all)")
    print(json.dumps(run_one(cp, fp, a.workload, a.seed, a.seconds, a.trace)), flush=True)


if __name__ == "__main__":
    main()
