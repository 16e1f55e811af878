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

Then the twin census: every member def `X` of a top-level object (or
class) that has an `X(From|Over)...` sibling in the same object -- a
self-contained form beside a form over prebuilt input -- one line each:

    <file>:<line>  <Object>.<name>  forms=<siblings>  callers=<file:line,...|none>

`callers` lists the code lines in src/main, perfbench/src and tools that
name it: `<Object>.<name>` anywhere, or an unqualified `<name>` in its
own file (a `.name` under another qualifier is some other def).

No flags; the output is deterministic. A def listed in either part is
either deleted, served by something outside the specs, or recorded as
kept on purpose (ROADMAP direction 3 holds that census).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_DIRS = ["src/main", "perfbench/src", "tools"]
SPEC_DIRS = ["src/test"]
RUNTIME_NAMES = {"main", "apply", "unapply"}
DEF_RE = re.compile(r"^(.*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
MODS = r"(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|case\s+|abstract\s+|sealed\s+)*"
OWNER_RE = re.compile(r"^" + MODS + r"(?:object|class|trait)\s+([A-Za-z_]\w*)", re.M)
MEMBER_RE = re.compile(r"^  " + MODS + r"def\s+([A-Za-z_]\w*)", re.M)
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


def line_of(code, pos):
    return code.count("\n", 0, pos) + 1


def twins(callers):
    """(path, line, owner, name, forms) for each X beside an X(From|Over)* sibling."""
    found = []
    for path, code in callers:
        if not path.startswith("src/main/"):
            continue
        owners = [(m.start(), m.group(1)) for m in OWNER_RE.finditer(code)]
        members = {}
        for m in MEMBER_RE.finditer(code):
            owner = max(((p, o) for p, o in owners if p < m.start()), default=(0, None))[1]
            members.setdefault(owner, []).append((line_of(code, m.start(1)), m.group(1)))
        for owner, defs in members.items():
            names = {n for _, n in defs}
            seen = set()
            for line, name in defs:
                forms = sorted(n for n in names if re.fullmatch(re.escape(name) + r"(From|Over)\w*", n))
                if owner and forms and name not in seen:
                    seen.add(name)
                    found.append((path, line, owner, name, forms))
    return sorted(found)


def twin_callers(callers, path, owner, name):
    """Code lines naming `owner.name`, or an unqualified `name` in `path`."""
    word = re.compile(r"(?:\b(\w+)\.)?\b" + re.escape(name) + r"\b")
    own_def = re.compile(r"\bdef\s+" + re.escape(name) + r"\b")
    out = set()
    for p, code in callers:
        lines = code.split("\n")
        for m in word.finditer(code):
            qualifier = m.group(1)
            if qualifier is None and code[m.start() - 1:m.start()] == ".":
                continue  # `expr.name`: a member of something else
            ln = line_of(code, m.end())
            if (qualifier == owner if qualifier else p == path) and not own_def.search(lines[ln - 1]):
                out.add((p, ln))
    return [f"{p}:{ln}" for p, ln in sorted(out)]


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
    found = twins(callers)
    for path, line, owner, name, forms in found:
        who = twin_callers(callers, path, owner, name)
        print(f"{path}:{line}  {owner}.{name}  forms={','.join(forms)}  "
              f"callers={','.join(who) or 'none'}")
    print(f"{len(found)} twins (a def beside its *From*/*Over* form in the same object)")


if __name__ == "__main__":
    main()
