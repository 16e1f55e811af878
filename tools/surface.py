#!/usr/bin/env python3
"""List the library surface that nothing outside the specs calls.

    python3 tools/surface.py

Prints every `def` in src/main whose name occurs nowhere in the code of
src/main, perfbench/src or tools other than in its own definition(s),
one line per def, sorted by file and line:

    <file>:<line>  <name>  spec_refs=<n>

`spec_refs` counts the name's occurrences in the code of src/test (its
own definitions are never there). Comments -- `//` lines, `/* */` blocks
and scaladoc, hence `[[links]]` -- and Python `#` comments are not code.
String literals are code: an oracle SQL string interpolating `${op(..)}`
is a call. Names are matched as whole words, so an overloaded def is
listed only when no overload has a caller. `override def`s, `main` and
`apply`/`unapply` are left out: the runtime calls them, not a name.

No flags; the output is deterministic. A def listed here is either
deleted, served by something outside the specs, or recorded as kept on
purpose (ROADMAP direction 3 holds that census).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_DIRS = ["src/main", "perfbench/src", "tools"]
SPEC_DIRS = ["src/test"]
RUNTIME_NAMES = {"main", "apply", "unapply"}
DEF_RE = re.compile(r"^(.*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_scala(src):
    """Blank out comments, keeping line breaks so line numbers hold."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" closes on the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = max(src.find("'", i + 3 if src[i + 1] == "\\" else i + 2), i + 2)
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_python(src):
    return "\n".join(re.sub(r"(^|\s)#.*$", "", line) for line in src.split("\n"))


def code_files(dirs):
    for d in dirs:
        for base, subdirs, files in os.walk(os.path.join(ROOT, d)):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "__pycache__"))
            for f in sorted(files):
                path = os.path.join(base, f)
                if f.endswith(".scala"):
                    strip = strip_scala
                elif f.endswith(".py"):
                    strip = strip_python
                else:
                    continue
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), strip(fh.read())


def word_counts(texts):
    counts = {}
    for text in texts:
        for w in WORD_RE.findall(text):
            counts[w] = counts.get(w, 0) + 1
    return counts


def main():
    if len(sys.argv) > 1:
        sys.exit(__doc__)
    callers = list(code_files(CALLER_DIRS))
    defs, def_counts = [], {}
    for path, code in callers:
        if not path.startswith("src/main/"):
            continue
        for m in DEF_RE.finditer(code):
            name = m.group(2)
            def_counts[name] = def_counts.get(name, 0) + 1
            if "override" not in m.group(1).split() and name not in RUNTIME_NAMES:
                defs.append((path, code.count("\n", 0, m.start(2)) + 1, name))
    uses = word_counts(code for _, code in callers)
    spec = word_counts(code for _, code in code_files(SPEC_DIRS))
    unused = [(p, l, n) for p, l, n in defs if uses.get(n, 0) == def_counts[n]]
    for path, line, name in unused:
        print(f"{path}:{line}  {name}  spec_refs={spec.get(name, 0)}")
    print(f"{len(unused)} defs with no caller outside src/test "
          f"({sum(1 for p, l, n in unused if spec.get(n, 0) == 0)} with none in src/test either)")


if __name__ == "__main__":
    main()
