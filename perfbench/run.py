#!/usr/bin/env python3
"""Run one perfbench workload and print its result as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from source on first use
(sbt, offline; output under $CARGO_TARGET_DIR, default .bench_build),
generates the workload's inputs from the seed (gen.py) and runs the
driver JVM, which measures and checks. The last line of stdout is
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
and the exit code is 0 only when every check passed.
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

import gen

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                path = os.path.join(d, f)
                h.update(path[len(ROOT):].encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={build_dir}/tmp", "-Dsbt.server.autostart=false"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    log("building (sbt compile)")
    t = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as logf:
        rc, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            timeout=700, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True)
        logf.write(out)
    if rc != 0:
        log(f"build failed (exit {rc}); see {build_dir}/build.log")
        sys.exit(2)
    cp = [ln for ln in out.splitlines() if ln and not ln.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no engine sources (src/main/scala/graft) here; run from the repository root")
        sys.exit(2)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    start = time.time()  # the deadline below covers the run, not the one-off build

    out_dir = os.path.abspath(os.path.join(".bench_out", a.workload))
    data, work = os.path.join(out_dir, "data"), os.path.join(out_dir, "work")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate(a.workload, a.seed, data)
    log(f"inputs generated in {time.time() - start:.1f} s")

    spans = os.path.join(out_dir, "spans.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work] +
           (["--spans", spans] if a.trace else []))
    jvm_log = os.path.join(out_dir, "jvm.log")
    try:
        with open(jvm_log, "w") as logf:
            rc, out = run_bounded(cmd, timeout=max(10, DEADLINE_S - (time.time() - start)),
                                  stdout=subprocess.PIPE, stderr=logf,
                                  stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"driver did not finish within {DEADLINE_S} s; see {jvm_log}")
        sys.exit(1)
    log(f"driver finished at {time.time() - start:.1f} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if rc != 0 or not lines:
        log(f"driver exited {rc} without a result; see {jvm_log}")
        sys.exit(1)
    result = json.loads(lines[-1])

    with open(jvm_log) as f:
        for ln in f:
            if ln.startswith("[perfbench]"):
                print(ln.rstrip(), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
