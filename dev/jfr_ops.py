#!/usr/bin/env python3
"""Attribute a graftbench run's JFR samples and process starts to its ops.

Record a run with Java Flight Recorder, then point this script at the
recording:

    python3 graftbench/run.py --workload htap_indexed --seed 1 --seconds 1 --tiny
    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=512 \
      -XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \
      python3 graftbench/run.py --workload htap_indexed --seed 1103 --seconds 40
    python3 dev/jfr_ops.py /tmp/run.jfr --frame GraftV2Scan.readTail

The first run only builds the benchmark (run.py rebuilds when a source
changes), so that sbt, which would also honour JAVA_TOOL_OPTIONS, does not
write the recording. The default stack depth of 64 truncates Catalyst
stacks, and a truncated stack loses the op frame this script keys on.

Every op a graftbench workload runs is a lambda on one line of
graftbench/src/main/scala/graftbench/Workloads.scala (`Op("cls",
"template", () => ...)`), called from `graftbench.Main.exec`. A sample or
process start whose stack holds `Main.exec` belongs to the op whose `Op(`
line is the nearest at or above the lambda frame's line; other stacks are
set-up or background work. An event on another thread (a Spark task's
process start) belongs to the op the client thread was running then: the
op of the client's samples just before and just after it, when the two
agree. The report gives, per op, the client thread's execution samples,
how many of them hold a frame matching each `--frame` regex, and the
processes started while it ran.
"""

import argparse
import bisect
import collections
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = os.path.join(ROOT, "graftbench", "src", "main", "scala", "graftbench",
                         "Workloads.scala")
OP_LINE = re.compile(r'Op\("(\w+)",\s*"(\w+)"')
# graftbench classes outside Workloads.scala that sit on an op's stack
HARNESS = {"Main", "Tracer", "Stats", "Report"}


def op_lines(path):
    """Sorted (line, "cls/template") of every Op definition."""
    out = []
    with open(path) as f:
        for n, line in enumerate(f, 1):
            m = OP_LINE.search(line)
            if m:
                out.append((n, f"{m.group(1)}/{m.group(2)}"))
    return out


def events(jfr, names):
    """The recording's events of the given types, as parsed JSON."""
    tool = shutil.which("jfr") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jfr")
    out = subprocess.run([tool, "print", "--json", "--stack-depth", "1024",
                          "--events", ",".join(names), jfr],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    for fr in st.get("frames") or []:
        m = fr.get("method") or {}
        # `a/b/C$` → `a.b.C`: one name for a class and its companion
        yield ((m.get("type") or {}).get("name", "").replace("/", ".").rstrip("$"),
               m.get("name", ""), fr.get("lineNumber", -1))


def op_of(ev, ops):
    """The op (cls/template) whose lambda is on `ev`'s stack, or None."""
    fs = list(reversed(list(frames(ev))))  # outermost first
    at = next((i for i, (t, n, _) in enumerate(fs)
               if t == "graftbench.Main" and n == "exec"), None)
    if at is None:
        return None
    lines = [l for l, _ in ops]
    # the op's own call: the outermost lambda of a workload class (they
    # are all defined in Workloads.scala) above Main.exec
    for t, n, line in fs[at + 1:]:
        if t.startswith("graftbench.") and t.split(".")[1] not in HARNESS and \
                "$anonfun$" in n and line > 0:
            i = bisect.bisect_right(lines, line) - 1
            if i >= 0:
                return ops[i][1]
    return "(op, unattributed)"


def nanos(ts):
    """An event's ISO-8601 UTC start time as sortable integer nanoseconds."""
    day, _, rest = ts.rstrip("Z").partition("T")
    hms, _, frac = rest.partition(".")
    h, m, sec = (int(x) for x in hms.split(":"))
    return (int(day.replace("-", "")) * 86400 + h * 3600 + m * 60 + sec) * 10**9 + \
        int((frac + "000000000")[:9])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr", help="the recording (.jfr)")
    ap.add_argument("--frame", action="append", default=[],
                    help="regex over 'class.method' frames; counts the samples "
                         "holding one, per op (repeatable)")
    ap.add_argument("--thread", default="main",
                    help="the client thread's name (default: main)")
    ap.add_argument("--workloads", default=WORKLOADS,
                    help="Workloads.scala to read the op lines from")
    a = ap.parse_args()

    ops = op_lines(a.workloads)
    if not ops:
        sys.exit(f"no Op( lines in {a.workloads}")
    pats = [re.compile(p) for p in a.frame]
    samples = collections.Counter()
    hits = collections.defaultdict(collections.Counter)
    forks = collections.defaultdict(collections.Counter)
    total = 0
    timeline = []  # (time, op or None) of the client's samples
    starts = []    # (time, op on its own stack or None, command)
    for ev in events(a.jfr, ["jdk.ExecutionSample", "jdk.ProcessStart"]):
        at = nanos(ev["values"]["startTime"])
        if ev["type"] == "jdk.ExecutionSample":
            th = (ev["values"].get("sampledThread") or {}).get("javaName")
            if th != a.thread:
                continue
            total += 1
            op = op_of(ev, ops)
            timeline.append((at, op))
            op = op or "(set-up / other)"
            samples[op] += 1
            names = [f"{t}.{n}" for t, n, _ in frames(ev)]
            for p in pats:
                if any(p.search(x) for x in names):
                    hits[op][p.pattern] += 1
        else:
            cmd = (ev["values"].get("command") or "").split()
            starts.append((at, op_of(ev, ops), os.path.basename(cmd[0]) if cmd else "?"))
    timeline.sort()
    times = [t for t, _ in timeline]
    for at, op, cmd in starts:
        if op is None:
            i = bisect.bisect_left(times, at)
            if 0 < i < len(times) and timeline[i - 1][1] == timeline[i][1]:
                op = timeline[i][1]
        forks[op or "(set-up / other)"][cmd] += 1

    print(f"{total} execution samples on thread '{a.thread}'")
    width = max([len(o) for o in samples] + [len(o) for o in forks] + [2])
    head = f"{'op':<{width}} {'samples':>8} {'share':>6}" + \
        "".join(f"  {p.pattern}" for p in pats)
    print(head)
    for op, n in samples.most_common():
        row = f"{op:<{width}} {n:>8} {100.0 * n / max(total, 1):>5.1f}%"
        for p in pats:
            row += f"  {hits[op][p.pattern]:>{len(p.pattern)}}"
        print(row)
    print()
    print("process starts" if forks else "process starts: none")
    for op, cmds in sorted(forks.items()):
        print(f"{op:<{width}} " + ", ".join(f"{c} x{n}" for c, n in cmds.most_common()))


if __name__ == "__main__":
    main()
