#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds: sbt compiles the
engine's sources together with the benchmark's (perfbench/build.sbt) and
exports the classpath, and fixture.py writes the fixed parquet fixture.
Both are cached under perfbench/.work, keyed by the hash of what they are
made from, so no timed run and no set-up time includes sbt. Each run then
starts one JVM directly: one client thread, a `local[nproc]` session.

    python3 perfbench/run.py --selftest

plants a one-row change and a one-value change in the results of every
workload and requires that each check fails and is counted.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
BENCH = "perfbench"
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("etl_star", "sql_mix", "web_curation")
RUN_TIMEOUT_S = 170
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; return the runtime classpath."""
    sources = (glob.glob("src/main/scala/**/*.scala", recursive=True)
               + glob.glob(f"{BENCH}/src/main/**/*.*", recursive=True)
               + [f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"])
    cp_file = os.path.join(WORK, f"classpath-{tree_hash(sources)}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    global T0
    log("building (sbt compile), once per source state")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    logs = [ln for ln in out.stdout.splitlines() if ln.startswith("[")]
    sys.stderr.write("\n".join(logs[-40:]) + "\n")
    if out.returncode != 0:
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in out.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")][-1]
    os.makedirs(WORK, exist_ok=True)
    for stale in glob.glob(os.path.join(WORK, "classpath-*.txt")):
        os.remove(stale)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    T0 = time.time()  # set-up time starts after the build
    return cp


def fixture():
    """The fixed parquet fixture; returns (dir, hash of its generator)."""
    sha = tree_hash([f"{BENCH}/fixture.py"])
    out = os.path.join(WORK, f"fixture-{sha}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        global T0
        log("writing the fixed fixture")
        for stale in glob.glob(os.path.join(WORK, "fixture-*")):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = out + ".tmp"
        subprocess.run([sys.executable, f"{BENCH}/fixture.py", tmp], check=True,
                       stdin=subprocess.DEVNULL, timeout=600)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.replace(tmp, out)
        T0 = time.time()  # the fixed fixture is made once per checkout
    return os.path.abspath(out), sha


def java_cmd(cp, args, work):
    mem = "3g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{mem}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cmd, timeout):
    """Run the JVM; return (exit code, stdout lines). Always waits for it."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        out, _ = p.communicate()
        log(f"run exceeded {timeout} s and was stopped")
        return 124, []
    return p.returncode, out.splitlines()


def run_workload(cp, fx, fx_sha, workload, seed, seconds, trace, plant=None):
    work = os.path.abspath(os.path.join(WORK, f"run-{os.getpid()}-{workload}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--fixture", fx, "--fixture-sha", fx_sha,
            "--digests", f"{BENCH}/digests.json", "--work", work,
            "--out", os.path.abspath(os.path.join(BENCH, "out")), "--t0", str(T0 * 1000)]
    if plant:
        args += ["--plant", plant]
    try:
        code, lines = run_jvm(java_cmd(cp, args, work), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return code, result


def selftest(cp, fx, fx_sha):
    """Every planted change must fail its checks and be counted."""
    ok = True
    for workload in WORKLOADS:
        for plant in ("row", "value"):
            code, r = run_workload(cp, fx, fx_sha, workload, 1, 1, 0, plant)
            good = (r is not None and not r["correct"] and r["attempted"] > 0
                    and r["failed"] == r["attempted"])
            log(f"selftest {workload} plant={plant}: "
                + (f"{r['failed']}/{r['attempted']} operations failed" if r else f"no result (exit {code})")
                + ("" if good else "  <-- NOT DETECTED"))
            ok &= good
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile(f"{BENCH}/build.sbt"):
        log("run from the root of a checkout that holds the engine's sources")
        return 2
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    fx, fx_sha = fixture()
    if a.selftest:
        return selftest(cp, fx, fx_sha)
    code, result = run_workload(cp, fx, fx_sha, a.workload, a.seed, a.seconds, a.trace)
    if result is None:
        log(f"no result (exit {code})")
        return code or 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
