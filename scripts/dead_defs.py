#!/usr/bin/env python3
"""List src/main definitions that nothing names, and defaulted parameters
that no call site passes.

Usage: python3 scripts/dead_defs.py [--callers main] [repoRoot]

Both are token scans, not compiler passes.

Definitions: a member-level `def`/`val`/`var`/`object`/`class`/`trait`/
`type` in src/main is reported when its name occurs on no other code line
of src/main or perfbench/src (comment lines and trailing `//` comments are
ignored, and the declaring line does not count). `override`s, `main` and
`apply` are skipped, since the runtime or call syntax uses them without
naming them. A name shared by two definitions hides both, so an empty list
is a floor, not a proof. Private and local definitions are the compiler's
job: `-Wunused` makes them errors in main sources (build.sbt).

Parameters: a parameter with a default, of a `def` or `class` in src/main,
is reported when no call site in src/main, src/test or perfbench/src
passes it, by position or by name. A call site is the method's name
followed by `(`, `[` or `{`, so calls of a same-named method count for
each other (overloads and other classes' members too); that can hide a
parameter, never invent one. An argument that is just the parameter's own
name, passed on from the nearest earlier parameter of that name in the
same file, counts only if that outer parameter is passed. KEEP_PARAMS are
defaults that name a storage location, a deployment setting, and are
printed with a `keep` mark.

`--callers main` counts only the call sites in src/main and perfbench/src,
so the parameter list also holds the defaulted parameters that only tests
pass.
"""
import collections
import pathlib
import re
import sys

COMMENT = re.compile(r"^\s*(//|\*|/\*)")
DECL = re.compile(r"\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)")
TOKEN = re.compile(r"[A-Za-z_]\w*")
LEXEME = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*'
                    r"|/\*(?:.|\n)*?\*/|[A-Za-z_]\w*|\d[\w.]*|=>|==|!=|<=|>=|<-|:=|[-+*/%&|^!<>=:]+|\S")
CLOSE = {"(": ")", "[": "]", "{": "}"}
MODIFIERS = ("implicit", "val", "var", "private", "protected", "override", "final")
KEEP_PARAMS = {
    ("dedupIndexIngest", "bandTable"), ("dedupIndexIngest", "setTable"),
    ("packedDupIngest", "sigTable"), ("packedDupIngest", "pairTable"),
    ("tombstone", "table"), ("withoutTombstones", "table"),
    ("withoutTombstonesAny", "table"), ("compactTombstones", "tombstoneTable"),
    ("snapshotIndex", "rawTable"), ("snapshotIndex", "snapshotTable"),
}


def dead_defs(root, main_dir):
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


def lexemes(text):
    """(token, line) pairs, comments dropped."""
    out, line, at = [], 1, 0
    for m in LEXEME.finditer(text):
        line += text.count("\n", at, m.start())
        at = m.start()
        if not m.group(0).startswith(("//", "/*")):
            out.append((m.group(0), line))
    return out


def group(toks, i):
    """The bracketed group opening at toks[i]: (index past it, its
    top-level comma-separated items as token lists)."""
    stack, items, cur, j = [CLOSE[toks[i][0]]], [], [], i + 1
    while j < len(toks):
        t = toks[j][0]
        if t in CLOSE:
            stack.append(CLOSE[t])
        elif t == stack[-1]:
            stack.pop()
            if not stack:
                break
        if len(stack) == 1 and t == ",":
            items.append(cur)
            cur = []
        else:
            cur.append(toks[j])
        j += 1
    return j + 1, items + [cur] if cur else items


def groups(toks, i, openers):
    """The consecutive groups from toks[i], after one optional type-argument group."""
    if i < len(toks) and toks[i][0] == "[":
        i, _ = group(toks, i)
    out = []
    while i < len(toks) and toks[i][0] in openers:
        i, items = group(toks, i)
        out.append(items)
    return out


def unpassed_params(root, main_dir, caller_dirs):
    params = []  # (method, file, line, list index, position, name, token index)
    calls = collections.defaultdict(list)  # method -> [(arg lists, file, token index)]
    for d in caller_dirs:
        for f in sorted(d.rglob("*.scala")):
            toks = lexemes(f.read_text())
            for i, (t, _) in enumerate(toks):
                if not TOKEN.fullmatch(t):
                    continue
                prev = toks[i - 1][0] if i else ""
                if prev in ("def", "class"):
                    if d != main_dir:
                        continue
                    j = i + 1
                    while j < len(toks) and toks[j][0] in ("private", "protected"):
                        j += 1
                        if toks[j][0] == "[":
                            j, _ = group(toks, j)
                    for g, items in enumerate(groups(toks, j, ("(",))):
                        for k, item in enumerate(items):
                            words = [x[0] for x in item]
                            while words and words[0] in MODIFIERS:
                                words = words[1:]
                            if words[1:2] == [":"] and "=" in words:
                                params.append((t, f, item[0][1], g, k, words[0], i))
                elif prev == "new" or toks[i + 1:i + 2] and toks[i + 1][0] in CLOSE:
                    lists = groups(toks, i + 1, ("(", "{"))
                    if lists:
                        calls[t].append((lists, f, i))

    named_in = collections.defaultdict(list)  # (file, name) -> [(token index, param)]
    for idx, (_, f, _, _, _, name, at) in enumerate(params):
        named_in[(f, name)].append((at, idx))

    def outer(f, pos, name):
        """The nearest earlier parameter `name` in file f."""
        earlier = [idx for at, idx in named_in[(f, name)] if at < pos]
        return earlier[-1] if earlier else None

    passed, via = [False] * len(params), collections.defaultdict(set)
    for idx, (method, _, _, g, k, name, _) in enumerate(params):
        for lists, f, pos in calls.get(method, []):
            if g >= len(lists):
                continue
            args = lists[g]
            named = {a[0][0]: a[2:] for a in args if len(a) > 1 and a[1][0] == "="}
            if name in named:
                arg = named[name]
            elif k < len(args) and not (len(args[k]) > 1 and args[k][1][0] == "="):
                arg = args[k]
            else:
                continue
            src = outer(f, pos, name) if [x[0] for x in arg] == [name] else None
            if src is not None and src != idx:
                via[idx].add(src)
            else:
                passed[idx] = True
    changed = True
    while changed:
        changed = False
        for idx, srcs in via.items():
            if not passed[idx] and any(passed[s] for s in srcs):
                passed[idx] = changed = True
    for idx, (method, f, line, _, _, name, _) in enumerate(params):
        if not passed[idx]:
            keep = "  [keep: a storage location]" if (method, name) in KEEP_PARAMS else ""
            print(f"{f.relative_to(root)}:{line}: {method}({name}){keep}")


def main(args):
    main_only = args[:2] == ["--callers", "main"]
    if main_only:
        args = args[2:]
    root = pathlib.Path(args[0] if args else ".").resolve()
    main_dir = root / "src/main"
    dead_defs(root, main_dir)
    tests = [] if main_only else [root / "src/test"]
    unpassed_params(root, main_dir, [main_dir, *tests, root / "perfbench/src"])


if __name__ == "__main__":
    main(sys.argv[1:])
