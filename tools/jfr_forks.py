#!/usr/bin/env python3
"""Summarize the child processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py run.jfr [--top 15]

Every `jdk.ProcessStart` event (one per fork/exec the JVM made, e.g. Hadoop's
`chmod` or `ls` through `Shell.execCommand` when its native library is
absent) is counted three ways:

  - by command: the program name (basename of the first word);
  - by thread kind: `executor` for Spark task threads ("Executor task launch
    worker ..."), `driver` for every other thread;
  - by first `graft.` frame: the innermost engine frame of the stack, which
    names the operator that caused the fork (`(none)` when the recorded
    stack holds no engine frame, e.g. on a task thread or when the stack was
    truncated).

The events are read with the JDK's own `jfr print --json`. `jdk.ProcessStart`
is on, with stack traces, in JFR's default settings; record deep stacks so
the engine frame survives, e.g. for a benchmark run:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr \
      -XX:FlightRecorderOptions:stackdepth=512" \
      python3 perfbench/run.py --workload index_search --seed 7 --seconds 12
"""

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys


def jfr_binary() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_forks: no `jfr` on PATH and JAVA_HOME unset")
    return found


def events(path: str) -> list:
    out = subprocess.run(
        [jfr_binary(), "print", "--json", "--stack-depth", "512",
         "--events", "jdk.ProcessStart", path],
        stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(ev: dict) -> str:
    words = (ev["values"].get("command") or "").split()
    return os.path.basename(words[0]) if words else "(empty)"


def thread_kind(ev: dict) -> str:
    thread = ev["values"].get("eventThread") or {}
    name = thread.get("javaName") or thread.get("osName") or ""
    return "executor" if name.startswith("Executor task launch worker") else "driver"


def first_graft_frame(ev: dict) -> str:
    """The innermost `graft.` method, skipping the synthetic classes of
    lambdas (`Ann$$$Lambda$4244+0x.../1462522038`), whose names change from
    run to run; a stack with only lambda frames names the lambda's class."""
    frames = (ev["values"].get("stackTrace") or {}).get("frames") or []
    lambda_class = None
    for f in frames:
        method = f.get("method") or {}
        cls = (method.get("type") or {}).get("name", "").replace("/", ".")
        if not cls.startswith("graft."):
            continue
        if "$$Lambda" in cls:
            lambda_class = lambda_class or cls.split("$$Lambda")[0] + " (lambda)"
            continue
        return f"{cls}.{method.get('name', '?')}"
    return lambda_class or "(none)"


def table(title: str, counts: collections.Counter, top: int) -> None:
    print(f"{title}:")
    for key, n in counts.most_common(top):
        print(f"  {n:8d}  {key}")
    if len(counts) > top:
        print(f"  {sum(counts.values()) - sum(n for _, n in counts.most_common(top)):8d}"
              f"  ({len(counts) - top} more)")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording", help="a .jfr file")
    ap.add_argument("--top", type=int, default=15, help="rows per table (default 15)")
    args = ap.parse_args()
    evs = events(args.recording)
    print(f"jdk.ProcessStart events: {len(evs)}")
    table("by command", collections.Counter(map(command, evs)), args.top)
    table("by thread kind", collections.Counter(map(thread_kind, evs)), args.top)
    table("by first graft. frame",
          collections.Counter(map(first_graft_frame, evs)), args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
