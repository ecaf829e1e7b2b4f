#!/usr/bin/env python3
"""Summarise a JFR recording: forked processes, blocked time, CPU samples.

Usage: python3 tools/jfr_summary.py <file.jfr>

Reads the recording with the JDK's own `jfr print --json --stack-depth N`
(stdlib only, no JMC) and prints three tables:

  1. process starts (`jdk.ProcessStart`) by executable, each with its
     commonest stacks, top frames first. A JVM that forks per file
     operation (Hadoop's local filesystem without libhadoop forks `chmod`
     and `readlink`) shows up here first;
  2. monitor-wait and park time (`jdk.JavaMonitorWait`, `jdk.ThreadPark`)
     summed by stack, where threads sit blocked (pool workers idling for
     their next task are summed apart);
  3. execution samples (`jdk.ExecutionSample`) by thread, each with its
     hottest top frame, where the CPU goes.

Record with the default or profile settings, both of which enable these
events, for example:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=duration=55s,filename=run.jfr,settings=profile" \\
      python3 perfbench/run.py --workload ingest_land --seed 1 --seconds 40 --trace 0

perfbench's main (`perfbench.Main`) ends with `Runtime.halt`, which
skips JFR's dump on exit, so give the recording a `duration=` shorter
than the run (set-up included), or the file is written empty.
"""
import argparse
import collections
import json
import re
import shutil
import subprocess
import sys

# Frames read per stack, frames printed per stack, rows per table.
STACK_DEPTH = 64
SHOW = 10
TOP = 10

DURATION = re.compile(r"^PT(?:(-?\d+)H)?(?:(-?\d+)M)?(?:(-?[\d.]+)S)?$")


def duration_ms(iso):
    """ISO-8601 duration as printed by `jfr` ("PT0.0138S", "PT1M2S") in ms."""
    m = DURATION.match(iso or "")
    if not m:
        return 0.0
    h, mi, s = (float(g) if g else 0.0 for g in m.groups())
    return max(0.0, (h * 3600 + mi * 60 + s) * 1000)


def frames(values, depth):
    """Top `depth` frames of an event's stack as `pkg.Class.method:line`."""
    st = values.get("stackTrace") or {}
    out = []
    for f in (st.get("frames") or [])[:depth]:
        m = f["method"]
        out.append(f"{m['type']['name'].replace('/', '.')}.{m['name']}:{f.get('lineNumber', -1)}")
    return tuple(out)


def events(jfr, path, names, depth):
    cmd = [jfr, "print", "--json", "--stack-depth", str(depth), "--events", ",".join(names), path]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"jfr_summary: {' '.join(cmd)} failed: {proc.stderr.strip()}")
    return json.loads(proc.stdout)["recording"]["events"]


def thread_name(t):
    return (t or {}).get("javaName") or (t or {}).get("osName") or "?"


def process_starts(evs):
    by_exe = collections.defaultdict(collections.Counter)
    example = {}
    for e in evs:
        cmd = e["values"].get("command") or ""
        exe = (cmd.split() or ["?"])[0]
        # the JDK's own ProcessBuilder/ProcessImpl frames say nothing
        stack = tuple(f for f in frames(e["values"], 999) if not f.startswith("java."))
        by_exe[exe][stack[:SHOW]] += 1
        example.setdefault(exe, cmd)
    print(f"== process starts: {len(evs)}")
    for exe, stacks in sorted(by_exe.items(), key=lambda kv: -sum(kv[1].values())):
        print(f"{sum(stacks.values()):8d}  {exe}   e.g. {example[exe][:120]}")
        for stack, n in stacks.most_common(TOP):
            print(f"{n:14d}  " + "\n                ".join(stack or ("<no stack>",)))


# Frames of the blocking machinery itself; the caller below them is the
# interesting part of a wait or park stack.
BLOCKING = ("jdk.internal.misc.Unsafe.park", "java.util.concurrent.locks.",
            "java.lang.Object.wait")
# A pool worker waiting for its next task is idle, not blocked.
IDLE = ("ThreadPoolExecutor.getTask", "ForkJoinPool.awaitWork",
        "ScheduledThreadPoolExecutor$DelayedWorkQueue.take")


def blocked(evs):
    total = collections.Counter()
    count = collections.Counter()
    idle_ms = 0.0
    for e in evs:
        ms = duration_ms(e["values"].get("duration"))
        stack = frames(e["values"], 999)
        if any(i in f for f in stack for i in IDLE):
            idle_ms += ms
            continue
        i = 0
        while i < len(stack) and stack[i].startswith(BLOCKING):
            i += 1
        key = (e["type"].split(".")[-1],) + stack[i:i + SHOW]
        total[key] += ms
        count[key] += 1
    print(f"\n== monitor wait + park: {len(evs)} events, "
          f"{sum(total.values()) / 1000:.1f} thread-s blocked "
          f"(+{idle_ms / 1000:.1f} thread-s of idle pool workers, not listed)")
    for key, ms in total.most_common(TOP):
        print(f"{ms:10.0f} ms {count[key]:6d}x  {key[0]}\n" +
              "".join(f"                     {f}\n" for f in key[1:]), end="")


def samples(evs):
    per_thread = collections.Counter()
    hot = collections.defaultdict(collections.Counter)
    for e in evs:
        t = thread_name(e["values"].get("sampledThread"))
        per_thread[t] += 1
        top_frame = frames(e["values"], 1)
        hot[t][top_frame[0] if top_frame else "<no stack>"] += 1
    n = max(1, len(evs))
    print(f"\n== execution samples: {len(evs)}")
    for t, c in per_thread.most_common(TOP):
        f, fc = hot[t].most_common(1)[0]
        print(f"{c:8d} {100 * c / n:5.1f}%  {t}   hottest: {f} ({fc})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    a = ap.parse_args()
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_summary: the JDK's `jfr` binary is not on PATH")
    process_starts(events(jfr, a.recording, ["jdk.ProcessStart"], STACK_DEPTH))
    blocked(events(jfr, a.recording, ["jdk.JavaMonitorWait", "jdk.ThreadPark"], STACK_DEPTH))
    samples(events(jfr, a.recording, ["jdk.ExecutionSample"], 1))

if __name__ == "__main__":
    main()
