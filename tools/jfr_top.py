#!/usr/bin/env python3
"""Summarise the CPU samples of a Java Flight Recorder file.

    python3 tools/jfr_top.py <file.jfr> [--top N]

Runs `jfr print --events jdk.ExecutionSample <file.jfr>` (the `jfr` tool
of the JDK on PATH) and counts the samples by their top frame (the
method that was on CPU, without its argument list) and by thread (digits
in thread names collapsed to `#`, so the Spark task threads of all tasks
and stages count as one). Pass `-` instead of a file to read already
printed `jfr print` text from stdin.

Record a file from any JVM (sbt's forked tests, a perfbench run, a
main) by adding, for example,
`-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile` to
its java options; the JVM writes the file when it exits.
"""
import argparse
import collections
import re
import subprocess
import sys

THREAD = re.compile(r'^\s*sampledThread = "(.*)"')
FRAME = re.compile(r'^\s*(\S+?)\(.*\)(?:\s+line:.*)?$')


def samples(lines):
    """Yield (thread, top frame) per jdk.ExecutionSample event."""
    thread, top, in_stack = None, None, False
    for line in lines:
        if line.startswith("jdk.ExecutionSample"):
            thread, top, in_stack = None, None, False
            continue
        m = THREAD.match(line)
        if m:
            thread = m.group(1)
            continue
        if line.strip() == "stackTrace = [":
            in_stack = True
            continue
        if in_stack and top is None:
            f = FRAME.match(line)
            top = f.group(1) if f else line.strip()
            continue
        if line.strip() == "}" and thread is not None:
            yield thread, top or "(no stack)"
            thread, top, in_stack = None, None, False


def table(title, counts, total, n):
    print(f"{title} ({total} samples)")
    for name, c in counts.most_common(n):
        print(f"{100.0 * c / total:6.1f} %  {c:7d}  {name}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("jfr", help="a .jfr file, or - for `jfr print` text on stdin")
    ap.add_argument("--top", type=int, default=25, help="rows per table (default 25)")
    args = ap.parse_args()
    if args.jfr == "-":
        text = sys.stdin.read()
    else:
        text = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample", args.jfr],
                              check=True, capture_output=True, text=True).stdout
    frames, threads = collections.Counter(), collections.Counter()
    for thread, top in samples(text.splitlines()):
        frames[top] += 1
        threads[re.sub(r"\d+", "#", thread)] += 1
    total = sum(frames.values())
    if total == 0:
        sys.exit("jfr_top: no jdk.ExecutionSample events in the input")
    table("top frames", frames, total, args.top)
    table("threads", threads, total, args.top)


if __name__ == "__main__":
    main()
