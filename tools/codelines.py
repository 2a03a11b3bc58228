#!/usr/bin/env python3
"""Count code lines in a Scala file, and in named members of it.

    python3 tools/codelines.py <file.scala> [name ...]

Prints the file's code lines, then one line per named member — a `def`,
`class`, `object` or `trait`: the code lines from its declaration line up
to the next member at the same indent (a code line at that indent or
less that does not close a bracket). A name that several members share
(overloads, a class and its companion object) sums them.

A line counts unless it is blank or, after leading whitespace, starts
with `//`, `/*`, `/**` or `*`.
"""
import re
import sys


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def indent(line):
    return len(line) - len(line.lstrip())


def member_lines(lines, name):
    """Code lines of every `def`, `class`, `object` or `trait` called
    `name` in `lines` (summed over overloads and companions)."""
    head = re.compile(r"^\s*(?:[\w\[\]]+\s+)*(?:def|class|object|trait)\s+"
                      + re.escape(name) + r"(?![\w$])")
    total = 0
    for i, line in enumerate(lines):
        if not head.match(line):
            continue
        ind = indent(line)
        total += 1
        for nxt in lines[i + 1:]:
            if not is_code(nxt):
                continue
            if indent(nxt) < ind or (indent(nxt) == ind and
                                     not nxt.lstrip().startswith(("}", ")"))):
                break
            total += 1
    return total


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        lines = f.read().splitlines()
    print(f"{argv[1]}\t{sum(map(is_code, lines))}")
    for name in argv[2:]:
        print(f"{name}\t{member_lines(lines, name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
