#!/usr/bin/env python3
"""Group the process starts in a JFR recording by who started them.

    tools/jfr_spawns.py <recording.jfr> [--on-stack TEXT ...] [--top N]

Reads the recording's `jdk.ProcessStart` events with
`jfr print --json --stack-depth 40` and prints one line per group, most
frequent first: count, thread, program (the command's first word), the
first Hadoop caller outside `org.apache.hadoop.util` and the first Spark
caller on the stack. Thread names lose their ids and numbers, so the
threads of successive stream runs or tasks fall into one group. Each
`--on-stack TEXT` adds a line counting the events with a frame whose
`class.method` contains TEXT (e.g. `HDFSMetadataLog`).

Record a run with, for example,
`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile`.
"""
import argparse
import collections
import json
import re
import subprocess


def frames(event):
    trace = event["values"].get("stackTrace") or {}
    for f in trace.get("frames", []):
        m = f["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]


def first(names, test):
    return next((n for n in names if test(n)), "-")


def thread_name(event):
    t = event["values"].get("eventThread") or {}
    name = t.get("javaName") or t.get("osName") or "?"
    return re.sub(r"\d+", "N", re.sub(r"\[[^\]]*\]", "[...]", name))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--on-stack", action="append", default=[])
    ap.add_argument("--top", type=int, default=30)
    a = ap.parse_args()
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart",
         "--stack-depth", "40", a.recording],
        check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    groups = collections.Counter()
    on_stack = collections.Counter()
    for e in events:
        names = list(frames(e))
        hadoop = first(names, lambda n: n.startswith("org.apache.hadoop.")
                       and not n.startswith("org.apache.hadoop.util."))
        spark = first(names, lambda n: n.startswith("org.apache.spark."))
        program = (e["values"].get("command") or "?").split()[0]
        groups[(thread_name(e), program, hadoop, spark)] += 1
        for text in a.on_stack:
            if any(text in n for n in names):
                on_stack[text] += 1
    print(f"{len(events)} process starts")
    for text in a.on_stack:
        print(f"{on_stack[text]} with {text} on the stack")
    for (thread, program, hadoop, spark), n in groups.most_common(a.top):
        print(f"{n:6d}  {thread}  {program}  {hadoop}  {spark}")


if __name__ == "__main__":
    main()
