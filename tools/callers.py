#!/usr/bin/env python3
"""List the main-code faces that no shipped code names.

Usage:

    python3 tools/callers.py PATH [PATH ...]

Each PATH is a `.scala` file or a directory under `src/main` (searched
recursively). For every non-private `def`, `val`, `object`, `class` or
`trait` declared there as a member (a top-level declaration or one
indented by at most one level), the script looks for its name, as a
whole word, on every other line of `src/main/scala` and `perfbench/src`
once comments are removed by `loc.py`'s rules. A name that no such line
holds has no shipped caller; it is printed as `<file>:<line> <kind>
<name>`, sorted by file and line.

Skipped: declarations marked `private` or `protected` (qualified or
not), `override`s (the framework calls them) and `def main` (the JVM
calls it). A name used only in a string literal still counts as named.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import scala_files, strip_comments  # noqa: E402

SHIPPED = ["src/main/scala", "perfbench/src"]
MODIFIERS = r"(?:(?:final|case|sealed|abstract|implicit|lazy|override|" \
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*"
DECL = re.compile(r"^( {0,2})(" + MODIFIERS + r")(def|val|object|class|trait)\s+"
                  r"([A-Za-z_][A-Za-z0-9_]*)")


def declarations(path, lines):
    for no, line in enumerate(lines, 1):
        m = DECL.match(line)
        if not m:
            continue
        mods, kind, name = m.group(2), m.group(3), m.group(4)
        if re.search(r"\b(private|protected|override)\b", mods):
            continue
        if kind == "def" and name == "main":
            continue
        yield path, no, kind, name


def main(argv):
    if not argv:
        print(__doc__.strip())
        return 2
    stripped = {}
    for f in sorted(set(scala_files(SHIPPED + argv))):
        with open(f, encoding="utf-8") as fh:
            stripped[os.path.normpath(f)] = strip_comments(fh.read())
    decls = [d for f in sorted(set(scala_files(argv)))
             for d in declarations(os.path.normpath(f),
                                   stripped[os.path.normpath(f)])]
    words = {}
    for f, lines in stripped.items():
        if not any(f.startswith(os.path.normpath(s)) for s in SHIPPED):
            continue
        for no, line in enumerate(lines, 1):
            for w in set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", line)):
                words.setdefault(w, set()).add((f, no))
    for f, no, kind, name in decls:
        if not words.get(name, set()) - {(f, no)}:
            print(f"{f}:{no} {kind} {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
