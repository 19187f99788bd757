#!/usr/bin/env python3
"""List src/main members that nothing else names.

A hit is a `def` or a top-level `object` declared in src/main whose name
occurs nowhere else in src/main or perfbench/src (the benchmark calls the
engine by name). Such a member is reachable from no root unless a
framework calls it. An `override def` is skipped for that reason; an
interface method implemented without `override` is allowed below, with
the root that reaches it. A mention in a comment counts as a use, so a
member that only comments and specs name is not flagged.

Usage: python3 tools/unreached.py   (exit 1 on any hit not allowed)
"""
import pathlib, re, sys
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
DIRS = [ROOT / "src" / "main", ROOT / "perfbench" / "src"]
ALLOW = {
    ("graft/serve/Server.scala", "newThread"): "ThreadFactory.newThread, called by the JDK executor",
}
DEF = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+)*def\s+([A-Za-z_]\w*)")
OBJ = re.compile(r"^(?:(?:private|protected)(?:\[\w+\])?\s+|case\s+)*object\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")

files = sorted(p for d in DIRS for p in d.rglob("*.scala"))
counts, decls = Counter(), []
for p in files:
    for n, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1):
        counts.update(WORD.findall(line))
        if ROOT / "src" / "main" in p.parents:
            m = DEF.match(line) or OBJ.match(line)
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
