#!/usr/bin/env python3
"""Count the child processes a JVM forked, from a JFR recording.

    python3 tools/fork_census.py <recording.jfr> [--top N] [--frame-prefix P]

Runs ``jfr print --json --events jdk.ProcessStart`` on the recording and
prints the fork counts grouped by command (the program name, arguments
dropped) and by the first frame of each fork's stack whose class starts
with ``--frame-prefix`` (default ``org.apache.spark``; ``graft.`` groups
forks by graft call site; ``-`` when the stack has none or was not
recorded).

Record a benchmark run without editing it, e.g.:

    JDK_JAVA_OPTIONS='-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile' \\
        python3 perfbench/run.py --workload stream_maintain --seed 1 --seconds 5

``settings=profile`` (or ``default``) records ``jdk.ProcessStart`` with
stack traces. JFR keeps 64 frames per stack by default, which cuts off the
graft frames of a fork deep in a Spark write; add
``-XX:FlightRecorderOptions:stackdepth=256`` to keep them. Python standard
library only; needs the JDK's ``jfr`` tool on ``PATH``.
"""

import argparse
import collections
import json
import subprocess
import sys


def fork_events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "256",
         "--events", "jdk.ProcessStart", path],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def first_frame(event, prefix):
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    for f in frames:
        cls = f["method"]["type"]["name"].replace("/", ".")
        if cls.startswith(prefix):
            return f"{cls}.{f['method']['name']}"
    return "-"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20,
                    help="rows per table (default 20)")
    ap.add_argument("--frame-prefix", default="org.apache.spark",
                    help="group forks by the first frame whose class "
                         "starts with this (default org.apache.spark)")
    args = ap.parse_args()
    events = fork_events(args.recording)
    by_cmd = collections.Counter(
        (e["values"].get("command") or "").split(" ")[0] for e in events)
    by_frame = collections.Counter(
        first_frame(e, args.frame_prefix) for e in events)
    print(f"forks: {len(events)}")
    for title, counts in (("by command", by_cmd),
                          (f"by first {args.frame_prefix} frame", by_frame)):
        print(f"\n{title}:")
        for key, n in counts.most_common(args.top):
            print(f"{n:8d}  {key}")


if __name__ == "__main__":
    sys.exit(main())
