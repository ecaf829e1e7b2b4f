#!/usr/bin/env python3
"""Config-path benchmark for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.build; later runs start the JVM directly.
Each run gets a fresh work directory under perfbench/.runs, deleted on
exit; a traced run (--trace 1) writes its spans to perfbench/traces/.
The last line of stdout is the result JSON. Workloads and metrics are
described in perfbench/METRICS.md.
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("config_burst", "ingest_land")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout: build.sbt and src/main/scala/graft "
            "are missing")
    cp = build()

    work = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop_jvm():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def on_signal(signum, _frame):
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, err = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        stop_jvm()
        die("run timed out")
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stdout.write("\n".join(lines) + "\n")
        sys.stderr.write("\n".join(err.splitlines()[-60:]) + "\n")
        die(f"run failed (exit {proc.returncode})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
