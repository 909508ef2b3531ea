#!/usr/bin/env python3
"""Run one graftbench workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The workload runs in its own JVM; its report
goes to stdout, and the last line of stdout is the JSON result. Everything
the run writes stays under graftbench/.work.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD_INFO = os.path.join(WORK, "build.json")

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: engine sources and build, bench sources and build."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, fs in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


CHILD = None


def stop_child(*_):
    """Kill the running child's process group and wait for it (on timeout or a signal)."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        return None, None, None
    return CHILD.returncode, out, err


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    fp = fingerprint()
    if os.path.isfile(BUILD_INFO):
        info = json.load(open(BUILD_INFO))
        if info.get("fingerprint") == fp:
            return info["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"]
    t0 = time.time()
    code, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code is None:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    cp = lines[-1] if lines else ""
    if "graftbench" not in cp:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(BUILD_INFO, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp, "build_s": time.time() - t0}, fh)
    print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def git_commit():
    """The checkout's commit if it is a git checkout, else 'unknown' (no git call)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--tiny", action="store_true", help="tiny tables (smoke test)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not beside graftbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", run_dir,
            "--commit", git_commit()]
    if a.tiny:
        cmd.append("--tiny")
    try:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        fail(f"workload run timed out after {RUN_TIMEOUT_S} s", 3)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"workload run failed (exit {code})", code or 4)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
