#!/usr/bin/env python3
"""Split a HotSpot JVM's C2 compile time by package, from its
compilation log.

    python3 tools/jvm_threads.py --workload repo_graph --seed 1 --passes 2 \\
        --java-options "-XX:+UnlockDiagnosticVMOptions -XX:+LogCompilation -XX:LogFile=/tmp/c2.log"
    python3 tools/c2_log.py /tmp/c2.log

``-XX:+LogCompilation`` writes one ``<compilation_log>`` section per
compiler thread when the JVM exits. A section opens with the thread's
``<start_compile_thread name=…>``; each compile in it is a ``<task …
stamp=…>`` closed by ``<task_done … stamp=…>``. A C2 compile's time is
the gap between the two stamps (seconds since JVM start, 1 ms
resolution), charged to the compiled method's class. Prints the
``ROWS`` largest groups: the named groups below, and every other
package cut to its first ``DEPTH`` components.
"""

from __future__ import annotations

import argparse
import re
import sys
from collections import defaultdict

# (group, class-name prefixes); the first group that matches takes the
# compile, so generated classes are not counted under Spark SQL
GROUPS = (
    ("generated classes", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
    ("Java serialization", ("java.io.ObjectInputStream", "java.io.ObjectOutputStream", "java.io.ObjectStreamClass")),
    ("Janino", ("org.codehaus.janino.", "org.codehaus.commons.")),
    ("ASM (closure cleaner)", ("org.apache.xbean.asm", "org.objectweb.asm.")),
    ("org.apache.spark.sql", ("org.apache.spark.sql.",)),
)

DEPTH = 3  # package components kept for a class outside GROUPS
ROWS = 16

_ATTR = re.compile(r"(\w+)='([^']*)'")


def group_of(cls: str) -> str:
    for name, prefixes in GROUPS:
        if cls.startswith(prefixes):
            return name
    return ".".join(cls.split(".")[:-1][:DEPTH]) or cls


def c2_tasks(lines):
    """(class name, seconds) of every C2 compile in a compilation log."""
    c2 = False
    start = None
    for line in lines:
        if line.startswith("<compilation_log"):
            c2, start = False, None
        elif line.startswith("<start_compile_thread"):
            c2 = dict(_ATTR.findall(line)).get("name", "").startswith("C2")
        elif c2 and line.startswith("<task "):
            attrs = dict(_ATTR.findall(line))
            start = (attrs["method"].split(" ", 1)[0], float(attrs["stamp"]))
        elif c2 and start and line.startswith("<task_done"):
            yield start[0], float(dict(_ATTR.findall(line))["stamp"]) - start[1]
            start = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("log")
    args = p.parse_args(argv)
    seconds, compiles = defaultdict(float), defaultdict(int)
    with open(args.log, errors="replace") as f:
        for cls, s in c2_tasks(f):
            g = group_of(cls)
            seconds[g] += s
            compiles[g] += 1
    total = sum(seconds.values())
    if not total:
        print("no C2 compiles in the log (was it written by a JVM that exited?)")
        return 1
    print(f"C2 task time {total:.1f} s over {sum(compiles.values())} compiles")
    print(f"{'group':<28} {'compiles':>8} {'s':>7} {'share':>6}")
    for g in sorted(seconds, key=seconds.get, reverse=True)[:ROWS]:
        print(f"{g:<28} {compiles[g]:>8} {seconds[g]:>7.2f} {seconds[g] / total:>6.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
