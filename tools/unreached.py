#!/usr/bin/env python3
"""List src/main members that nothing else names.

A hit is a `def` or a top-level `object` declared in src/main whose name
occurs nowhere else in the code of src/main or perfbench/src (the
benchmark calls the engine by name). Comments and string literals are
stripped before names are counted, so a member that only a scaladoc link
or a message names is a hit; the `$name` and `${...}` parts of an
interpolated string are code and still count. Such a member is reachable
from no root unless a framework calls it. An `override def` is skipped
for that reason, and so is an object in a file that declares a `main`
(a JVM entry point, run by name); an interface method implemented
without `override` is allowed below, with the root that reaches it.

Usage: python3 tools/unreached.py   (exit 1 on any hit not allowed)
"""
import pathlib, re, sys
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
DIRS = [ROOT / "src" / "main", ROOT / "perfbench" / "src"]
ALLOW = {
    ("graft/serve/Server.scala", "newThread"): "ThreadFactory.newThread, called by the JDK executor",
    ("graft/SparkEntry.scala", "entry"): "the flagship query of SparkEntry's contract, called by name",
}
MAIN = re.compile(r"\bdef\s+main\s*\(")
DEF = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+)*def\s+([A-Za-z_]\w*)")
OBJ = re.compile(r"^(?:(?:private|protected)(?:\[\w+\])?\s+|case\s+)*object\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")
CHAR = re.compile(r"'(?:\\.|[^\\'\n])'")


def code_only(src):
    """`src` with comments and literal string text blanked out. Newlines
    are kept, so line numbers do not move."""
    out, i, n = [], 0, len(src)

    def blank(s):
        out.append(re.sub(r"[^\n]", " ", s))

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(src[i:j])
            i = j
        elif src.startswith("/*", i):  # Scala block comments nest
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(src[i:j])
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            i = string_literal(src, i, interp, out, blank)
        elif c == "'" and CHAR.match(src, i):
            m = CHAR.match(src, i)
            blank(m.group())
            i = m.end()
        else:
            out.append(c)
            i += 1
    return "".join(out)


def string_literal(src, i, interp, out, blank):
    """Blank the literal starting at `src[i]`, keeping the code of an
    interpolated one; returns the index after its closing quote."""
    triple = src.startswith('"""', i)
    quote = '"""' if triple else '"'
    blank(quote)
    j = i + len(quote)
    while j < len(src):
        if triple and src.startswith('"""', j):
            # a run of quotes closes on its last three
            k = j
            while src.startswith('""""', k):
                blank('"')
                k += 1
            blank('"""')
            return k + 3
        if not triple and src[j] == '"':
            blank('"')
            return j + 1
        if not triple and src[j] == "\\":
            blank(src[j:j + 2])
            j += 2
        elif interp and src.startswith("$$", j):
            blank("$$")
            j += 2
        elif interp and src.startswith("${", j):
            depth, k = 1, j + 2
            while k < len(src) and depth:
                depth += {"{": 1, "}": -1}.get(src[k], 0)
                k += 1
            out.append(" " + code_only(src[j + 1:k]))
            j = k
        elif interp and src[j] == "$":
            m = WORD.match(src, j + 1)
            out.append(" " + (m.group() if m else ""))
            j = m.end() if m else j + 1
        else:
            blank(src[j])
            j += 1
    return j


files = sorted(p for d in DIRS for p in d.rglob("*.scala"))
counts, decls = Counter(), []
for p in files:
    code = code_only(p.read_text(encoding="utf-8"))
    has_main = MAIN.search(code)
    for n, line in enumerate(code.splitlines(), 1):
        counts.update(WORD.findall(line))
        if ROOT / "src" / "main" in p.parents:
            m = DEF.match(line) or (not has_main and OBJ.match(line))
            if m:
                decls.append((p.relative_to(ROOT / "src/main/scala").as_posix(), n, m.group(1)))

bad = 0
for rel, n, name in decls:
    if counts[name] > 1:
        continue
    root = ALLOW.get((rel, name))
    print(f"{rel}:{n}: {name}" + (f"  (allowed: {root})" if root else ""))
    bad += root is None
print(f"{len(decls)} declarations, {bad} unreached")
sys.exit(1 if bad else 0)
