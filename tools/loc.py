#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per file and in total.

Usage:

    python3 tools/loc.py [PATH ...]

Each PATH is a `.scala` file or a directory searched recursively for
them; the default is `src/main/scala`. A line counts when, after
removing comments, anything but whitespace is left on it. Comments are
`//` to the end of the line and `/* ... */` blocks (which may span
lines and nest, as in Scala). Comment markers inside string literals,
including triple-quoted ones, are not comments. Prints `<lines>
<file>` per file, sorted by path, then `<lines> total`.
"""
import os
import sys


def strip_comments(text):
    """Each line of `text` with its comments removed (string literals,
    comment markers inside them included, are kept)."""
    out = []
    depth = 0          # nesting depth of /* */ comments
    in_triple = False  # inside a """...""" string literal
    for line in text.splitlines():
        kept = []
        i, n = 0, len(line)
        in_str = False
        while i < n:
            two = line[i:i + 2]
            if depth:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if not (in_triple or in_str) and two in ("//", "/*"):
                if two == "//":
                    break
                depth = 1
                i += 2
                kept.append(" ")
                continue
            start = i
            if in_triple:
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif in_str:
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
            elif line.startswith('"""', i):
                in_triple = True
                i += 3
            elif line[i] == '"':
                in_str = True
                i += 1
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                i += 3  # a char literal such as '"' or '/'
            elif line[i] == "'" and line[i + 1:i + 2] == "\\":
                end = line.find("'", i + 3)
                i = n if end < 0 else end + 1
            else:
                i += 1
            kept.append(line[start:i])
        out.append("".join(kept))
    return out


def code_lines(text):
    """Lines of `text` that hold code once comments are removed."""
    return sum(1 for line in strip_comments(text) if line.strip())


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
        else:
            for d, _, fs in os.walk(p):
                for f in fs:
                    if f.endswith(".scala"):
                        yield os.path.join(d, f)


def main(argv):
    paths = argv or ["src/main/scala"]
    total = 0
    for f in sorted(scala_files(paths)):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d} {f}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
