#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 steadybench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Builds the engine's sources together with the harness once (sbt, offline),
then starts a fresh JVM with a fixed heap for the run. The last line of
standard output is the result object. The exit code is non-zero when an
op failed its check, the run failed, or the checkout holds no engine.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "steadybench.classpath")
WORKLOADS = ("ingest", "batch")
HEAP = "2g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[steadybench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in roots:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source tree; returns the runtime classpath."""
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log("building the engine and the harness")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        log(proc.stdout[-4000:])
        raise SystemExit(f"build failed with exit code {proc.returncode}")
    cp = [l for l in proc.stdout.splitlines() if l.strip()][-1].strip()
    if "steadybench" not in cp or cp.startswith("["):
        raise SystemExit("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--perturb", default="0", choices=("0", "1"),
                   help="break one expected value on purpose; the run must fail")
    a = p.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        log(f"no engine sources at {os.path.relpath(ENGINE_SRC, os.getcwd())}")
        return 2
    cp = build()
    work_root = os.path.join(TARGET, "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, a.workload)
    out = os.path.join(TARGET, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "steadybench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out,
            "--perturb", a.perturb,
            # taken after the build: setup_s covers JVM start, session
            # start, inputs and warm-up, never compilation
            "--launch-ms", str(int(time.time() * 1000))]
    # a terminated run still stops its JVM (in the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    try:
        lines = []
        for line in proc.stdout:
            lines.append(line)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work_root, ignore_errors=True)
    if timed_out.is_set():
        log(f"run killed after {RUN_TIMEOUT_S} s")
        return 3
    sys.stdout.writelines(lines)
    return code


if __name__ == "__main__":
    sys.exit(main())
