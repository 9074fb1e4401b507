#!/usr/bin/env python3
"""Count process and thread starts in a JFR recording. Developer tooling only.

Prints `jdk.ProcessStart` events by command (the program's file name,
so `chmod 644 <file>` and `chmod 755 <dir>` count as `chmod`) and
`jdk.ThreadStart` events by thread-name family (the Java thread name
with every run of digits folded to `#`, so `HttpClient-3-SelectorManager`
and `HttpClient-17-SelectorManager` are one family), most frequent first.

Usage: python3 tools/jfr_counts.py <recording.jfr> [from to]

`from` and `to` bound the events counted (from inclusive, to exclusive).
Each is either a number of seconds after the first process or thread
start in the recording (thread starts begin with the JVM, so this is
about when the JVM started), or an ISO-8601 instant such as
2026-01-31T12:00:00Z. Both JDK event types are on in JFR's default
settings. To record a benchmark run without changing the benchmark:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/nrt.jfr,settings=default \\
        python3 perfbench/run.py --workload nrt_refresh --seed 1 --seconds 10
    python3 tools/jfr_counts.py /tmp/nrt.jfr

Needs the JDK's `jfr` tool on PATH (or under $JAVA_HOME/bin).
"""
import collections
import datetime
import json
import os
import re
import shutil
import signal
import subprocess
import sys

EVENTS = ("jdk.ProcessStart", "jdk.ThreadStart")


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "jfr") if home else None
    if exe and os.path.exists(exe):
        return exe
    exe = shutil.which("jfr")
    if not exe:
        raise SystemExit("jfr_counts: no `jfr` tool on PATH or under $JAVA_HOME/bin")
    return exe


def instant(text):
    """An ISO-8601 instant as a UTC datetime; nanoseconds are cut to µs."""
    m = re.fullmatch(r"(.*?T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?", text)
    if not m:
        raise ValueError("not an ISO-8601 instant: %r" % text)
    base, frac, zone = m.groups()
    t = datetime.datetime.fromisoformat(base + "." + (frac or "0")[:6].ljust(6, "0")
                                        + ("+00:00" if zone in (None, "Z") else zone))
    return t.astimezone(datetime.timezone.utc)


def events(path):
    out = subprocess.run([jfr_tool(), "print", "--json", "--stack-depth", "1",
                          "--events", ",".join(EVENTS), path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def bound(text, first):
    try:
        return first + datetime.timedelta(seconds=float(text))
    except ValueError:
        return instant(text)


def family(name):
    return re.sub(r"\d+", "#", name or "?")


def command(line):
    words = (line or "").split()
    return os.path.basename(words[0]) if words else "?"


def main(argv):
    if len(argv) not in (2, 4):
        print(__doc__, file=sys.stderr)
        return 2
    evs = [(instant(e["values"]["startTime"]), e) for e in events(argv[1])]
    if not evs:
        print("no %s events in %s" % (" or ".join(EVENTS), argv[1]))
        return 0
    first = min(t for t, _ in evs)
    lo, hi = (bound(argv[2], first), bound(argv[3], first)) if len(argv) == 4 else (None, None)
    procs, threads = collections.Counter(), collections.Counter()
    for t, e in evs:
        if lo is not None and not (lo <= t < hi):
            continue
        v = e["values"]
        if e["type"] == "jdk.ProcessStart":
            procs[command(v.get("command"))] += 1
        else:
            threads[family((v.get("thread") or {}).get("javaName"))] += 1
    window = "" if lo is None else " from %s to %s" % (lo.isoformat(), hi.isoformat())
    print("%s%s" % (argv[1], window))
    print("process starts: %d" % sum(procs.values()))
    for name, n in procs.most_common():
        print("  %6d  %s" % (n, name))
    print("thread starts: %d" % sum(threads.values()))
    for name, n in threads.most_common():
        print("  %6d  %s" % (n, name))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    sys.exit(main(sys.argv))
