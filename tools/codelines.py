#!/usr/bin/env python3
"""Count Scala code lines: lines that are non-blank once // and /* */
comments are removed (string literals, triple-quoted ones included, are
kept intact, so a "//" inside a string is code).

Usage: python3 tools/codelines.py <file.scala>...
Prints each file's count and the total."""
import sys

def code_lines(text):
    out, i, n = [], 0, len(text)
    buf, in_block, in_str, triple = [], False, False, False
    while i < n:
        c = text[i]
        if in_block:
            if text.startswith("*/", i):
                in_block = False; i += 2; continue
            if c == "\n": out.append("".join(buf)); buf = []
            i += 1; continue
        if in_str:
            if triple and text.startswith('"""', i):
                in_str = False; buf.append('"""'); i += 3; continue
            if not triple and c == "\\":
                buf.append(text[i:i+2]); i += 2; continue
            if not triple and c == '"':
                in_str = False; buf.append(c); i += 1; continue
            if c == "\n": out.append("".join(buf)); buf = []
            else: buf.append(c)
            i += 1; continue
        if text.startswith("/*", i):
            in_block = True; i += 2; continue
        if text.startswith("//", i):
            j = text.find("\n", i); i = n if j < 0 else j; continue
        if text.startswith('"""', i):
            in_str, triple = True, True; buf.append('"""'); i += 3; continue
        if c == '"' and not (i > 0 and text[i-1] == "'" and text[i+1:i+2] == "'"):
            in_str, triple = True, False; buf.append(c); i += 1; continue
        if c == "\n": out.append("".join(buf)); buf = []
        else: buf.append(c)
        i += 1
    out.append("".join(buf))
    return sum(1 for l in out if l.strip())

total = 0
for f in sys.argv[1:]:
    k = code_lines(open(f, encoding="utf-8").read())
    total += k
    print(f"{k:5d} {f}")
print(f"{total:5d} total ({len(sys.argv) - 1} files)")
