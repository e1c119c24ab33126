#!/usr/bin/env python3
"""Daily-DAG benchmark launcher.

    python3 dagbench/run.py --workload daily|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source on first use (sbt, offline), then runs one JVM with a heap sized
like the tier-1 tests (half of RAM, clamped to 2-8 GiB) and prints the
run's JSON record as the last line of stdout; see README.md. Exits
non-zero, printing no record, when the engine sources are missing, the
build fails, or the run crashes or overruns.
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
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha1")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# the module opens Spark needs on JDK 17 outside spark-submit (the engine
# build's javaOptions carry the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[dagbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; the whole group
    is killed if it overruns `timeout` or this script is stopped. Returns
    (exit code or None on overrun, captured stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def sources_digest():
    """sha1 over the path, size and mtime of every build input."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark unless the last build saw these sources."""
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    print("[dagbench] building engine and benchmark (sbt)", file=sys.stderr)
    with open(log, "w") as out:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                          stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); full log in {log}")
    with open(STAMP, "w") as f:
        f.write(digest)


def heap():
    """Half of RAM, clamped to 2-8 GiB: the tier-1 test heap rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["daily", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a stop request unwinds through run_group, which kills the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT} (need build.sbt and src/main/scala/graft)", 2)
    build()
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(l.strip() for l in f if l.strip())

    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{heap()}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "dagbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--corpus", os.path.join(BENCH, "corpus")]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited with {rc}")
    record = json.loads(lines[-1])
    if set(record) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed record: {lines[-1][:200]}")
    print(json.dumps(record))


if __name__ == "__main__":
    main()
