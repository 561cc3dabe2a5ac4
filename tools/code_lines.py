#!/usr/bin/env python3
"""Count the code lines of Scala (or Java) source files.

A code line is a line with at least one non-blank character outside
`//` line comments and `/* ... */` block comments (nested ones
included, as Scala allows). Comment markers inside string literals
("...", triple-quoted and interpolated) and character literals do not
count as comments.

Usage: python3 tools/code_lines.py FILE...
Prints one `<count> <file>` line per file.
"""
import sys


def code_lines(text):
    count = 0
    depth = 0          # block-comment nesting
    in_triple = False  # inside a """...""" string, which may span lines
    for line in text.split("\n"):
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    # a closing """ may be followed by more quotes
                    while line.startswith('""""', i):
                        i += 1
                    in_triple, i = False, i + 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # a character literal: 'c' or an escape such as '\n'
                code = True
                end = line.find("'", i + 2)
                i = end + 1 if end > 0 else n
            else:
                if not line[i].isspace():
                    code = True
                i += 1
        if code:
            count += 1
    return count


def main(paths):
    if not paths:
        sys.exit(__doc__)
    for p in paths:
        with open(p, encoding="utf-8") as f:
            print(code_lines(f.read()), p)


if __name__ == "__main__":
    main(sys.argv[1:])
