#!/usr/bin/env python3
"""Count default-valued parameters of `def`s and class constructors.

Usage: python3 tools/default_params.py [root ...]   (default: src/main)
  -v  list each one as file:line  owner(param = default)

A parameter counts when its declaration carries a top-level `= default`
in a `def` or `class` parameter list. Comments and string literals are
blanked first, so a `=` inside them is not read as a default.
"""
import os
import re
import sys

OPEN, CLOSE = "([{", ")]}"


def blank(src):
    """Replace comments and string literals by spaces, keeping offsets."""
    out, i, n = list(src), 0, len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            wipe(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            wipe(i + 1, j - 1)
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            wipe(i + 1, min(j, n))
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1
            wipe(i + 1, j - 1)
            i = j
        else:
            i += 1
    return "".join(out)


def split_top(s):
    parts, depth, cur = [], 0, []
    for c in s:
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def top_eq(p):
    """Offset of the parameter's top-level default `=`, or -1."""
    depth = 0
    for k, c in enumerate(p):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = p[k + 1] if k + 1 < len(p) else ""
            prv = p[k - 1] if k else ""
            if nxt not in "=>" and prv not in "=!<>":
                return k
    return -1


HEAD = re.compile(r"\b(def\s+[\w$]+|def\s+[^\s\[(]+|class\s+[\w$]+)\s*")


def scan(path):
    raw = open(path, encoding="utf-8").read()
    src = blank(raw)
    found = []
    for m in HEAD.finditer(src):
        i = m.end()
        if i < len(src) and src[i] == "[":
            depth = 0
            while i < len(src):
                depth += src[i] in OPEN
                depth -= src[i] in CLOSE
                i += 1
                if depth == 0:
                    break
        while True:
            while i < len(src) and src[i] in " \t\n":
                i += 1
            if i >= len(src) or src[i] != "(":
                break
            depth, j = 0, i
            while j < len(src):
                depth += src[j] in OPEN
                depth -= src[j] in CLOSE
                j += 1
                if depth == 0:
                    break
            off = i + 1
            for p in split_top(src[i + 1:j - 1]):
                k = top_eq(p)
                if k >= 0 and ":" in p[:k]:
                    line = src.count("\n", 0, off) + 1
                    name = p[:k].split(":")[0].split()[-1]
                    default = raw[off + k + 1:off + len(p)].strip()
                    found.append((line, m.group(1).split()[-1], name, default))
                off += len(p) + 1
            i = j
    return found


def main():
    args = [a for a in sys.argv[1:] if a != "-v"]
    verbose = "-v" in sys.argv[1:]
    total = 0
    for root in args or ["src/main"]:
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                if not f.endswith(".scala"):
                    continue
                path = os.path.join(d, f)
                hits = scan(path)
                total += len(hits)
                for line, owner, name, default in hits if verbose else []:
                    print(f"{path}:{line}  {owner}({name} = {default})")
    print(total)


if __name__ == "__main__":
    main()
