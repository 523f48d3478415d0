#!/usr/bin/env python3
"""Comment-aware line counter for the Scala sources.

Every line of a `.scala` file is exactly one of:
  blank    only whitespace, outside any string literal;
  comment  only comment text (`//`, `/* */`, `/** */`, nested) and
           whitespace;
  code     anything else: a line with any code counts as code, and so
           does every line of a multi-line string literal.

Usage:
  python3 tools/loc.py [DIR_OR_FILE ...]      (default: src/main src/test)
  python3 tools/loc.py --files DIR             one row per file

Prints `path  code  comment  blank  total` rows.
"""
import os
import sys


def classify(text):
    """Return (code, comment, blank) line counts for Scala source `text`."""
    code = comment = blank = 0
    depth = 0          # nesting depth of /* */ comments (Scala nests them)
    in_triple = False  # inside a """ string that spans lines
    for line in text.split("\n"):
        has_code = in_triple
        has_comment = depth > 0
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    # a closing """ may be followed by more quotes
                    while line.startswith('"', i + 3):
                        i += 1
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                has_comment = True
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or
                                             line[i + 1] == "\\"):
                # a char literal such as '"' or '\n'
                has_code = True
                i = line.index("'", i + 2) + 1 if line[i + 1] == "\\" \
                    else i + 3
            elif c.isspace():
                i += 1
            else:
                has_code = True
                i += 1
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
        elif line.strip():
            code += 1
        else:
            blank += 1
    if text.endswith("\n"):
        blank -= 1  # the empty string after the final newline
    return code, comment, blank


def scala_files(root):
    if os.path.isfile(root):
        yield root
        return
    for d, _, names in sorted(os.walk(root)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main(argv):
    per_file = "--files" in argv
    roots = [a for a in argv if a != "--files"] or ["src/main", "src/test"]
    print(f"{'path':<60} {'code':>7} {'comment':>7} {'blank':>6} {'total':>7}")
    for root in roots:
        tot = [0, 0, 0]
        for path in scala_files(root):
            with open(path, encoding="utf-8") as f:
                c = classify(f.read())
            tot = [a + b for a, b in zip(tot, c)]
            if per_file:
                print(f"{path:<60} {c[0]:>7} {c[1]:>7} {c[2]:>6} {sum(c):>7}")
        print(f"{root:<60} {tot[0]:>7} {tot[1]:>7} {tot[2]:>6} {sum(tot):>7}")


if __name__ == "__main__":
    main(sys.argv[1:])
