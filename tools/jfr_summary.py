#!/usr/bin/env python3
"""Process launches and main-thread samples of a JFR recording, by cause.

Wraps `jfr print` (the JDK's recording printer) and prints:

  launches   every jdk.ProcessStart, grouped by command family (the first
             word of the command line, without its directory) and by the
             innermost `graft.` frame on the launching stack
  main/java  jdk.ExecutionSample events of the `main` thread, grouped by
             innermost `graft.` frame
  main/native jdk.NativeMethodSample events of the `main` thread, likewise

A stack without a `graft.` frame counts under "(no graft frame)"; a stack
cut off by the recording's stack depth before any `graft.` frame counts
under "(truncated)". Stacks are printed 64 frames deep.

Record a benchmark run with the profile settings, for example:

  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile \\
    python3 perfbench/run.py --workload keboola_jobs --seed 8 --seconds 20 --trace 0

Usage:
  python3 tools/jfr_summary.py <recording.jfr> [--top N]
"""
import argparse
import collections
import os
import re
import subprocess
import sys

EVENTS = ("jdk.ProcessStart", "jdk.ExecutionSample", "jdk.NativeMethodSample")
STACK_DEPTH = 64
NO_GRAFT = "(no graft frame)"
TRUNCATED = "(truncated)"


def events(path):
    """Yield (type, fields, frames) per event, streaming `jfr print`."""
    cmd = ["jfr", "print", "--events", ",".join(EVENTS),
           "--stack-depth", str(STACK_DEPTH), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    kind, fields, frames, in_stack = None, {}, [], False
    for line in proc.stdout:
        line = line.rstrip("\n")
        if kind is None:
            m = re.match(r"^([\w.]+) \{$", line)
            if m:
                kind, fields, frames, in_stack = m.group(1), {}, [], False
        elif line == "}":
            yield kind, fields, frames
            kind = None
        elif in_stack:
            if line.strip() == "]":
                in_stack = False
            else:
                frames.append(line.strip())
        elif line.startswith("  stackTrace = ["):
            in_stack = True
        else:
            m = re.match(r"^  (\w+) = (.*)$", line)
            if m:
                fields[m.group(1)] = m.group(2)
    if proc.wait() != 0:
        sys.exit(f"jfr print exited {proc.returncode}")


def unquote(v):
    """`"text" (extra)` -> text; a bare value is returned as is."""
    m = re.match(r'^"(.*?)"', v or "")
    return m.group(1) if m else (v or "")


def graft_frame(frames):
    """The innermost frame in a `graft.` class, without its signature."""
    for f in frames:
        if f.startswith("graft."):
            return f.split("(", 1)[0]
    return TRUNCATED if frames and frames[-1] == "..." else NO_GRAFT


def family(command):
    word = command.split(" ", 1)[0] if command else "?"
    return os.path.basename(word)


def table(title, counter, top):
    total = sum(counter.values())
    print(f"{title}: {total}")
    for name, n in counter.most_common(top):
        print(f"  {n:8d}  {100.0 * n / total:5.1f}%  {name}")
    rest = len(counter) - top
    if rest > 0:
        print(f"  ... {rest} more")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="rows per table (default 15)")
    args = ap.parse_args()

    by_family, by_launcher = collections.Counter(), collections.Counter()
    java, native = collections.Counter(), collections.Counter()
    for kind, fields, frames in events(args.recording):
        if kind == "jdk.ProcessStart":
            by_family[family(unquote(fields.get("command")))] += 1
            by_launcher[graft_frame(frames)] += 1
        elif unquote(fields.get("sampledThread")) == "main":
            (java if kind == "jdk.ExecutionSample" else native)[graft_frame(frames)] += 1

    table("process launches by command family", by_family, args.top)
    table("process launches by innermost graft. frame", by_launcher, args.top)
    table("main-thread execution samples by innermost graft. frame", java, args.top)
    table("main-thread native samples by innermost graft. frame", native, args.top)


if __name__ == "__main__":
    main()
