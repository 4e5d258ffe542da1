#!/usr/bin/env python3
"""List src/main definitions that nothing in src/main or perfbench/src names.

Usage: python3 scripts/dead_defs.py [repoRoot]

A token scan, not a compiler pass: a member-level `def`/`val`/`var`/
`object`/`class`/`trait`/`type` in src/main is reported when its name
occurs on no other code line of src/main or perfbench/src (comment lines
and trailing `//` comments are ignored, and the declaring line does not
count). `override`s, `main` and `apply` are skipped, since the runtime or
call syntax uses them without naming them. A name shared by two
definitions hides both, so an empty list is a floor, not a proof.
Private and local definitions are the compiler's job: `-Wunused` makes
them errors in main sources (build.sbt).
"""
import collections
import pathlib
import re
import sys

COMMENT = re.compile(r"^\s*(//|\*|/\*)")
DECL = re.compile(r"\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)")
TOKEN = re.compile(r"[A-Za-z_]\w*")


def main(root):
    main_dir = root / "src/main"
    files = [p for d in (main_dir, root / "perfbench/src") for p in sorted(d.rglob("*.scala"))]
    refs = collections.Counter()
    decls = []
    for f in files:
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if COMMENT.match(line):
                continue
            code = re.split(r"(?:^|\s)//", line)[0]
            declared = set(DECL.findall(code))
            indent = len(line) - len(line.lstrip())
            if main_dir in f.parents and indent <= 4 and "override" not in code:
                decls += [(n, f.relative_to(root), i) for n in declared]
            refs.update(TOKEN.findall(code))
            refs.subtract(declared)
    for name, f, i in decls:
        if refs[name] <= 0 and name not in ("main", "apply"):
            print(f"{f}:{i}: {name}")


if __name__ == "__main__":
    main(pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve())
