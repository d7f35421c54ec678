#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

  python3 tools/jfr_spawns.py <recording.jfr> [--top N]

Reads the recording's `jdk.ProcessStart` events through `jfr print --json`
(the `jfr` tool of the JDK that recorded it) and prints three tables:
spawns by command (the first word of the command line), by call site (the
first stack frame outside the JDK and Hadoop, i.e. the Spark, Parquet or
engine code that asked for the filesystem operation) and by both.

To record an engine run, start its JVM with, for example,

  -XX:StartFlightRecording=filename=/path/run.jfr,settings=default \
  -XX:FlightRecorderOptions=stackdepth=128

`jdk.ProcessStart` is on, with stack traces, in the JDK's `default` and
`profile` settings; the deeper stack keeps the call site inside the
recorded frames. `graft.Pipeline`'s CLI runs one drain per JVM, so its
counts are spawns per drain. Without libhadoop, Hadoop's local filesystem
starts `chmod` for every permission it sets and `readlink` for every link
status it reads; a drain on the engine's fork-free `file:` filesystem
(`graft.io.ForkFreeLocalFileSystem`) should show neither.
"""
import argparse
import collections
import json
import shutil
import subprocess
import sys

# frames from these packages are plumbing: the call site is the first
# frame below them
PLUMBING = ("java.", "javax.", "jdk.", "sun.", "scala.", "org.apache.hadoop.")
STACK_DEPTH = 128


def frame_name(frame):
    method = frame["method"]
    cls = method["type"]["name"].replace("/", ".")
    return f"{cls}.{method['name']}"


def call_site(event):
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    for f in frames:
        name = frame_name(f)
        if not name.startswith(PLUMBING):
            return name
    return "(no frame outside the JDK and Hadoop)" if frames else "(no stack trace)"


def spawns(recording):
    jfr = shutil.which("jfr")
    if not jfr:
        sys.exit("jfr_spawns: no `jfr` tool on PATH (it ships with the JDK)")
    # `jfr print` shows 5 frames per stack unless told otherwise
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", str(STACK_DEPTH),
                          "--events", "jdk.ProcessStart", recording],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def table(title, counter, top):
    print(f"{title}:")
    for key, n in counter.most_common(top):
        print(f"  {n:8d}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="rows per table (default 20)")
    args = ap.parse_args()
    events = spawns(args.recording)
    by_command, by_site, by_both = (collections.Counter() for _ in range(3))
    for e in events:
        command = (e["values"].get("command") or "").split(" ", 1)[0]
        site = call_site(e)
        by_command[command] += 1
        by_site[site] += 1
        by_both[f"{command:10s} {site}"] += 1
    print(f"{len(events)} process starts in {args.recording}")
    table("by command", by_command, args.top)
    table("by call site", by_site, args.top)
    table("by command and call site", by_both, args.top)


if __name__ == "__main__":
    main()
