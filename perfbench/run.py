#!/usr/bin/env python3
"""Benchmark of the engine's user-facing entry points.

    python3 perfbench/run.py --workload dashboard_serve --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the benchmark with sbt into the build directory ($CARGO_TARGET_DIR, else
.bench_build); later runs reuse that build while the sources are
unchanged. One JVM runs one workload in one local[nproc] Spark session.
The last line of standard output is the result JSON; the lines before it
start with '#'. Other modes:

    --smoke        determinism checks and a tiny run of every workload
    --costs        measure every analytics candidate into pools/costs.tsv
    --pools        rebuild the two pool files from pools/costs.tsv
    --oracles OUT  write the DuckDB oracle SQL of the checked queries

The sf0.1 tables are read from $SPARK_GRAFT_SF_DIR, else from the
sf0.1 directory beside the engine's flagship sf0.001 input (looked up
by the first run and remembered in the build directory).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ["pipeline_daily", "dashboard_serve", "analytics_text", "analytics_relational"]
# Spark on JDK 17 outside spark-submit needs these (the engine's build sets the same)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compiles once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                       840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    classpath = [l for l in lines if not l.startswith("[") and os.pathsep in l][-1]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def jvm(classpath, args, tag, timeout):
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(BUILD, "spark-local")
    tmp = os.path.join(BUILD, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--cores", str(cores), "--bench", HERE,
            "--local", local] + args
    log = os.path.join(BUILD, f"{tag}.log")
    with open(log, "w") as out:
        rc = run_group(cmd, timeout, cwd=BUILD, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{tag} {'timed out' if rc is None else f'exited {rc}'}; log in {log}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--costs", action="store_true")
    ap.add_argument("--pools", action="store_true")
    ap.add_argument("--oracles")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} is missing)")
    classpath = build()
    # the JVM looks the tables up once and leaves the answer in the build
    found = os.path.join(BUILD, "data_dir.txt")
    data = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not data and os.path.exists(found):
        with open(found) as f:
            data = f.read().strip()
    common = ["--data", data] if data else ["--data-found", found]
    work = os.path.join(BUILD, "work")
    if a.smoke:
        jvm(classpath, common + ["--mode", "selfcheck", "--work", work], "smoke", 900)
        print("# smoke: all self-checks passed")
        return
    for mode, on in (("costs", a.costs), ("pools", a.pools)):
        if on:
            jvm(classpath, common + ["--mode", mode], mode, 7200)
            return
    if a.oracles:
        jvm(classpath, common + ["--mode", "oracles", "--out", os.path.abspath(a.oracles)],
            "oracles", 300)
        return
    if not a.workload:
        fail("--workload is required")
    run_dir = os.path.join(work, a.workload)
    out = run_dir + ".result.json"
    if os.path.exists(out):
        os.remove(out)
    try:
        jvm(classpath, common + ["--mode", "run", "--workload", a.workload,
                                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                                 "--trace", str(a.trace), "--work", run_dir, "--out", out],
            a.workload, RUN_TIMEOUT_S)
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if any(m["value"] is None for m in res["metrics"].values()):
        fail("a metric has no value", 1)
    for note in res.pop("notes"):
        print(f"# {note}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
