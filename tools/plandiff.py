#!/usr/bin/env python3
"""List the queries whose `graft.Cli plan` output differs between two dirs.

Usage: python3 tools/plandiff.py [--diff] <dirA> <dirB>

Each dir holds `<query>.txt` files written by
`graft.Cli plan [--final] <sf> <dir> <query...>`. Before comparing, each
plan is normalized so that two runs of the same code compare equal:

- expression ids (`#123`), `plan_id=`s and RDD ids (`RDD[45]`, `rdd_45_0`)
  are renumbered in order of first appearance, so the relations between
  them still have to match;
- scratch and temp paths (`/tmp/...`, `graft_run_*`) become `<tmp>`;
- JVM lambda class names and identity hash codes (`$$Lambda/0x…@1a2b`)
  become `$$Lambda` and `@H`; UUIDs become `<uuid>`.

Prints one `DIFF <query>` line per differing plan (with `--diff`, the
unified diff of the normalized text after it), `ONLY_A`/`ONLY_B` for a
query present in one dir only, then `N of M plans differ`. Exits 1 if any
plan differs or is missing on one side.
"""
import difflib
import os
import re
import sys

RENUMBERED = [
    (re.compile(r"#(\d+)"), "#"),
    (re.compile(r"plan_id=(\d+)"), "plan_id="),
    (re.compile(r"RDD\[(\d+)\]"), "RDD["),
    (re.compile(r"\brdd_(\d+)"), "rdd_"),
]
REPLACED = [
    (re.compile(r"\$+Lambda[$\w]*(/0x[0-9a-f]+)?(/\d+)?"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(file:)?/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"graft_run_[^\s,/\]\)]*"), "<tmp>"),
]


def normalize(text):
    for pattern, repl in REPLACED:
        text = pattern.sub(repl, text)
    for pattern, prefix in RENUMBERED:
        seen = {}
        closing = "]" if prefix.endswith("[") else ""

        def renumber(m, seen=seen, prefix=prefix, closing=closing):
            n = seen.setdefault(m.group(1), len(seen))
            return f"{prefix}{n}{closing}"
        text = pattern.sub(renumber, text)
    return text


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    show = "--diff" in argv
    args = [a for a in argv if a != "--diff"]
    if len(args) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    a, b = args
    qa, qb = plans(a), plans(b)
    bad = 0
    for q in sorted(qa - qb):
        print(f"ONLY_A {q}")
        bad += 1
    for q in sorted(qb - qa):
        print(f"ONLY_B {q}")
        bad += 1
    both = sorted(qa & qb)
    differ = 0
    for q in both:
        ta = normalize(open(os.path.join(a, q + ".txt")).read())
        tb = normalize(open(os.path.join(b, q + ".txt")).read())
        if ta != tb:
            differ += 1
            print(f"DIFF {q}")
            if show:
                sys.stdout.writelines(difflib.unified_diff(
                    ta.splitlines(True), tb.splitlines(True), f"a/{q}", f"b/{q}"))
    print(f"{differ} of {len(both)} plans differ")
    return 1 if differ or bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
