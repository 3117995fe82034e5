#!/usr/bin/env python3
"""Benchmark of the graft engine: the traffic pipeline, the headline query
mix and the SQL front door, end to end and per layer.

usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from source with sbt (once per
source state), runs one workload in a fresh JVM at local[<cores>], checks
every output, and prints one JSON result as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Everything the run writes stays under .bench_build/.

Extra options: --fault expect makes the ETL checks expect one row too many,
--ledger <file> checks query results against another ledger (both used by
the self-test); --record-ledger rewrites the query ledger from this build.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = "sf0.001"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles engine and driver unless this source state is built already;
    returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            cp = cf.read().strip()
            if fh.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(":")):
                return cp
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as lf:
        rc = run_child(cmd, BENCH, env, lf, BUILD_TIMEOUT_S)
    with open(log) as lf:
        lines = [l.strip() for l in lf if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        die(f"build failed (exit {rc}); log in {log}", 1)
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_child(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; on timeout kills the group and
    waits for it. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT
                         if out is not sys.stderr else None, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if sys.exc_info()[0] is subprocess.TimeoutExpired:
            print(f"[perfbench] {cmd[0]} timed out after {timeout}s", file=sys.stderr)
            return -9
        raise


def main():
    # a terminated run still stops its JVM or sbt (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--fault", choices=["expect"])
    ap.add_argument("--ledger", default=os.path.join(BENCH, "ledger", f"{FIXTURE}.txt"))
    ap.add_argument("--record-ledger", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found next to the benchmark; run from a full checkout")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_file) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")

    cp = build()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"]
    cmd += [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", "record_ledger" if a.record_ledger else a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--records", os.path.join(STATE, "records"),
            "--data", os.path.join(BENCH, "data", FIXTURE), "--ledger", a.ledger, "--out", out]
    if a.fault:
        cmd += ["--fault", a.fault]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    try:
        rc = run_child(cmd, work, env, sys.stderr, RUN_TIMEOUT_S)
        if rc != 0:
            die(f"workload run failed (exit {rc})", 1)
        if a.record_ledger:
            print(f"[perfbench] ledger written to {a.ledger}", file=sys.stderr)
            return
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = spec["per_layer" if a.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in expected}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        die(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
