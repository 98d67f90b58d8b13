#!/usr/bin/env python3
"""Where a Spark executor spends its CPU, from a JFR recording.

    python3 tools/jfr_top.py <file.jfr> [frame-substring ...] [--top N]
    python3 tools/jfr_top.py <file.jfr> --forks [--top N]

Reads the recording's `jdk.ExecutionSample` events through the JDK's
`jfr` tool, keeps the samples of Spark task threads (`Executor task
launch ...`), and prints

  - the top N self frames (the method on top of the stack), with their
    share of those samples;
  - for each frame substring given, its inclusive share: the fraction of
    samples with a matching frame anywhere on the stack.

With `--forks` it reads the `jdk.ProcessStart` events instead (every
process the JVM started: Hadoop's `chmod`/`readlink` shell-outs, Spark's
`rm -rf`, ...) and prints their count by command verb and by (verb,
first `graft.` or `org.apache.spark` caller frame).

Record with the JVM option
`-XX:StartFlightRecording=filename=<file.jfr>,settings=profile`, e.g.
through `JAVA_TOOL_OPTIONS` for a benchmark run.
"""
import argparse
import collections
import re
import subprocess
import sys

TASK_THREAD = "Executor task launch"
# "    java.lang.String.split(String, int) line: 3000" -> "java.lang.String.split"
FRAME = re.compile(r"^\s+([^\s(]+)\(")


def samples(path):
    """Yields the frame list (top first) of each task-thread sample."""
    proc = subprocess.Popen(
        ["jfr", "print", "--stack-depth", "64", "--events",
         "jdk.ExecutionSample", path],
        stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    frames, task, in_stack = [], False, False
    for line in proc.stdout:
        if line.startswith("jdk.ExecutionSample"):
            frames, task, in_stack = [], False, False
        elif "sampledThread = " in line:
            task = TASK_THREAD in line
        elif "stackTrace = [" in line:
            in_stack = True
        elif in_stack:
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))
            elif line.strip() == "]":
                in_stack = False
                if task:
                    yield frames
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


CALLER = ("graft.", "org.apache.spark")


def forks(path):
    """Yields (verb, caller) of each `jdk.ProcessStart` event: the
    command's first word and the innermost graft/Spark frame."""
    proc = subprocess.Popen(
        ["jfr", "print", "--stack-depth", "64", "--events",
         "jdk.ProcessStart", path],
        stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    verb, caller = None, None
    for line in proc.stdout:
        if line.startswith("jdk.ProcessStart"):
            verb, caller = None, None
        elif line.lstrip().startswith("command = "):
            cmd = line.split("=", 1)[1].strip().strip('"').split()
            verb = cmd[0].rsplit("/", 1)[-1] if cmd else "?"
        elif caller is None:
            m = FRAME.match(line)
            if m and m.group(1).startswith(CALLER):
                caller = m.group(1)
        if line.startswith("}") and verb is not None:
            yield verb, caller or "-"
            verb = None
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def print_forks(path, top):
    by_verb, by_site = collections.Counter(), collections.Counter()
    for verb, caller in forks(path):
        by_verb[verb] += 1
        by_site[(verb, caller)] += 1
    print(f"{sum(by_verb.values())} processes started")
    for v, c in by_verb.most_common():
        print(f"{c:8d}  {v}")
    if by_site:
        print(f"\ntop {top} (verb, first graft/Spark caller)")
        for (v, f), c in by_site.most_common(top):
            print(f"{c:8d}  {v:10s} {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("substrings", nargs="*")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--forks", action="store_true",
                    help="count jdk.ProcessStart events instead")
    a = ap.parse_args()
    if a.forks:
        print_forks(a.jfr, a.top)
        return
    n = 0
    self_counts = collections.Counter()
    incl = collections.Counter()
    for frames in samples(a.jfr):
        n += 1
        if frames:
            self_counts[frames[0]] += 1
        for s in a.substrings:
            if any(s in f for f in frames):
                incl[s] += 1
    if n == 0:
        sys.exit(f"no '{TASK_THREAD}' samples in {a.jfr}")
    print(f"{n} task-thread samples")
    print(f"\ntop {a.top} self frames")
    for f, c in self_counts.most_common(a.top):
        print(f"{100.0 * c / n:6.1f}%  {f}")
    if a.substrings:
        print("\ninclusive")
        for s in a.substrings:
            print(f"{100.0 * incl[s] / n:6.1f}%  {s}")


if __name__ == "__main__":
    main()
