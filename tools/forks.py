#!/usr/bin/env python3
"""Process-start census of a JFR recording.

    python3 tools/forks.py FILE.jfr

Runs `jfr print --events jdk.ProcessStart --stack-depth 40 FILE.jfr` and
tallies the starts by command (the program started) and by the first
caller frame outside the JDK, Hadoop and Scala, and counts the starts
made through Hadoop's `org.apache.hadoop.util.Shell`. Shell's class
initializer probes for `setsid` once per JVM; that start is counted
apart, since it is not a per-file command. The recording needs
`jdk.ProcessStart` with stack traces, which the `profile` settings give:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=settings=profile,filename=$PWD/X.jfr,dumponexit=true" \\
      python3 ingestbench/run.py --workload tail --seed 1 --trace 0
"""

import collections
import re
import subprocess
import sys

LIBRARY = ("java.", "javax.", "jdk.", "sun.", "com.sun.", "org.apache.hadoop.", "scala.")
SHELL = "org.apache.hadoop.util.Shell"
FRAME = re.compile(r"^\s+([\w$.]+)\.([\w$<>]+)\(")


def events(text):
    """(command, [(class, method)]) per jdk.ProcessStart event."""
    out, command, frames = [], None, None
    for line in text.splitlines():
        if line.startswith("jdk.ProcessStart {"):
            command, frames = "", []
        elif frames is None:
            continue
        elif line.strip().startswith("command = "):
            command = line.split("=", 1)[1].strip().strip('"')
        elif line == "}":
            out.append((command, frames))
            frames = None
        else:
            m = FRAME.match(line)
            if m:
                frames.append((m.group(1), m.group(2)))
    return out


def caller(frames):
    for cls, method in frames:
        if not cls.startswith(LIBRARY):
            return f"{cls}.{method}"
    return "(library only)"


def main(path):
    p = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "40",
                        path], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"forks: jfr print failed: {p.stderr.strip()}")
    evs = events(p.stdout)
    shell = [fr for _, fr in evs if any(c.startswith(SHELL) for c, _ in fr)]
    probe = sum(1 for fr in shell if (SHELL, "<clinit>") in fr)
    print(f"process starts: {len(evs)}, through {SHELL}: {len(shell) - probe}"
          f" (plus {probe} in its one-time class-init probe)")
    for title, key in (("by command", lambda e: e[0].split(" ", 1)[0] or "?"),
                       ("by first caller outside the JDK, Hadoop and Scala",
                        lambda e: caller(e[1]))):
        print(f"\n{title}:")
        for k, n in collections.Counter(map(key, evs)).most_common():
            print(f"  {n:7d}  {k}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
