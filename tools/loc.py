#!/usr/bin/env python3
"""Count the lines of the Scala sources under a directory by kind: code,
comment and blank.

A line is blank when it holds only whitespace, a comment line when every
other character on it sits inside a `//` or `/* ... */` comment (scaladoc
included), and code otherwise. String literals are lexed, so `//` inside a
URL or `/*` inside SQL text does not open a comment, and lines inside a
multi-line string count as code.

Usage: tools/loc.py [dir ...]   (default: src/main)
Prints one line per file with --files, then a total line and a JSON line:
{"files": n, "code": n, "comment": n, "blank": n, "total": n}
"""
import json
import os
import sys


def classify(text):
    """Yield 'code', 'comment' or 'blank' for each line of a Scala source."""
    depth = 0        # nesting depth of /* */ comments (Scala nests them)
    string = None    # None, '"' or '"""' while inside a string literal
    i, n = 0, len(text)
    has_code = has_comment = False
    while i <= n:
        c = text[i] if i < n else "\n"
        if c == "\n":
            if string is not None:
                has_code = True
            yield "code" if has_code else "comment" if has_comment else "blank"
            has_code = has_comment = False
            i += 1
            if i > n:
                break
            continue
        if depth:
            has_comment = True
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            has_code = True
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                string = None
                i = j
            else:
                i += 1
            continue
        if string == '"':
            has_code = True
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    string = None
                i += 1
            continue
        if c.isspace():
            i += 1
            continue
        if text.startswith("//", i):
            has_comment = True
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            has_comment = True
            depth = 1
            i += 2
            continue
        has_code = True
        if text.startswith('"""', i):
            string = '"""'
            i += 3
        elif c == '"':
            string = '"'
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal: 'x' or '\n' (a lone ' is a symbol literal)
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            i = j + 1 if j > 0 else i + 1
        else:
            i += 1


def count(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if text.endswith("\n"):
        text = text[:-1]
    kinds = {"code": 0, "comment": 0, "blank": 0}
    for k in classify(text):
        kinds[k] += 1
    return kinds


def main(argv):
    show_files = "--files" in argv
    roots = [a for a in argv if a != "--files"] or ["src/main"]
    total = {"files": 0, "code": 0, "comment": 0, "blank": 0}
    for root in roots:
        for d, _, names in sorted(os.walk(root)):
            for name in sorted(names):
                if not name.endswith(".scala"):
                    continue
                path = os.path.join(d, name)
                k = count(path)
                total["files"] += 1
                for key in ("code", "comment", "blank"):
                    total[key] += k[key]
                if show_files:
                    print(f"{k['code']:6d} {k['comment']:6d} {k['blank']:6d}  {path}")
    total["total"] = total["code"] + total["comment"] + total["blank"]
    print(f"code {total['code']}, comment {total['comment']}, "
          f"blank {total['blank']}, total {total['total']} "
          f"in {total['files']} files")
    print(json.dumps(total))


if __name__ == "__main__":
    main(sys.argv[1:])
