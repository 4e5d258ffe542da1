#!/usr/bin/env python3
"""Compare two sets of graft.Plans dumps with run-specific ids masked.

Usage: python3 scripts/plan_diff.py [--again <tagA2>] <dir> <tagA> <tagB> [query ...]

Compares <dir>/<query>_<tagA>.txt with <dir>/<query>_<tagB>.txt for every
named query, or for every query dumped under both tags when none is named.
Before comparing it masks what differs between runs of one unchanged plan:
RDD ids (`MapPartitionsRDD[357]`), expression ids (`#12`), exchange
`plan_id`s, source line numbers, lambda class names, identity hashes, the
random part of temp directory names and UUIDs. Prints one line per query
and a unified diff of the masked text where they differ; exits 1 if any
query differs or is missing.

An equal pair is printed `opaque` instead of `same` when the dump has no
table scan and no checkpoint section: such a plan (a literal over `Range`,
rows collected on the driver) shows none of the query's pipeline, so its
equality says nothing about it.

`--again <tagA2>` names a second dump of the same code as <tagA>. A query
whose <tagA> and <tagA2> dumps differ after masking dumps differently from
run to run (AQE join choices, stage order, an empty micro-batch), so a
difference against <tagB> says nothing about the change: it is printed
`unsteady`, counted apart and does not fail the exit code. A query with no
<tagA2> dump is compared as without the option.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[n]"),
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    # the source line of an RDD's call site moves with any edit of the file
    (re.compile(r"(\.scala):\d+"), r"\1:n"),
    # a lambda's hidden class (numbered in load order), and the identity
    # hash a lambda, an anonymous class or a primitive array prints
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda<n>"),
    (re.compile(r"(\$\$anon\$\d+|\[+[A-Z])@[0-9a-f]+"), r"\1@<hash>"),
    (re.compile(r"[0-9a-f]{8}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{12}"), "<uuid>"),
    # java.nio.file.Files.createTempDirectory: prefix + a random unsigned long
    (re.compile(r"(/[^/\s\[\],]*?)\d{15,}(?=[/\s\],]|$)"), r"\1<tmp>"),
]


# a scan of a table's files; `Scan ExistingRDD` (checkpointed or driver-built
# rows) and `LocalTableScan` are not
TABLE_SCAN = re.compile(r"^\(\d+\) (Scan (?!ExistingRDD\b)|BatchScan\b)", re.M)


def opaque(text):
    return "== plan under checkpoint" not in text and not TABLE_SCAN.search(text)


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def read(path):
    with open(path) as f:
        return mask(f.read())


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--again", metavar="tagA2")
    ap.add_argument("dir")
    ap.add_argument("a", metavar="tagA")
    ap.add_argument("b", metavar="tagB")
    ap.add_argument("names", metavar="query", nargs="*")
    args = ap.parse_args(argv)
    d, a, b, names = args.dir, args.a, args.b, args.names
    if not names:
        suffix = f"_{a}.txt"
        names = sorted(f[: -len(suffix)] for f in os.listdir(d)
                       if f.endswith(suffix) and os.path.exists(os.path.join(d, f[: -len(suffix)] + f"_{b}.txt")))
    bad = blind = noisy = 0
    for q in names:
        pa, pb = (os.path.join(d, f"{q}_{t}.txt") for t in (a, b))
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f"MISSING {q}")
            bad += 1
            continue
        ta, tb = read(pa), read(pb)
        pa2 = args.again and os.path.join(d, f"{q}_{args.again}.txt")
        if pa2 and os.path.exists(pa2) and read(pa2) != ta:
            noisy += 1
            print(f"unsteady {q}")
        elif ta == tb and opaque(ta):
            blind += 1
            print(f"opaque  {q}")
        elif ta == tb:
            print(f"same    {q}")
        else:
            bad += 1
            print(f"DIFFERS {q}")
            sys.stdout.writelines(difflib.unified_diff(
                ta.splitlines(True), tb.splitlines(True), pa, pb))
    print(f"== {len(names) - bad - blind - noisy} same / {blind} opaque / {noisy} unsteady / {bad} differ ==")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
