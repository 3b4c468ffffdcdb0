#!/usr/bin/env python3
"""Diff two graft.tools.PlanFormatted dump directories.

A refactor is proven plan-neutral when every dumped plan is identical
before and after. Some plan text is allocated per session or per JVM and
differs between otherwise identical runs, so it is normalised before
comparing:
  - expression ids (`#123`, `#123L`) and `plan_id=N` tags;
  - RDD ids (`MapPartitionsRDD[777]` of a `Materialize` checkpoint),
    numbered in creation order across the whole session, so any change
    in how many RDDs earlier queries created shifts them;
  - the application id (`local-1792247254049`) in session-scoped paths;
  - lambda class names and identity hashes of objects a plan prints
    (`Multimodal$$$Lambda$6897/0x00007f7451907308@4cf6f7d8`,
    `GeoMeanAgg$@3da1f44c`).

Usage: python3 tools/plan_diff.py DIR_A DIR_B

Each directory holds one `<query>.txt` per query, as written by
`runMain graft.tools.PlanFormatted <outDir> <query> [query...]`.
Prints the names of queries whose plans differ, or that were dumped in
only one directory, and exits 1 if there is any; exits 0 when all are
identical.
"""
import re
import sys
from pathlib import Path

_VOLATILE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"local-\d+"), "local-N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), "@N"),
]


def normalise(text):
    for pattern, repl in _VOLATILE:
        text = pattern.sub(repl, text)
    return text


def plans(directory):
    return {p.stem: normalise(p.read_text(encoding="utf-8"))
            for p in sorted(Path(directory).glob("*.txt"))}


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: plan_diff.py DIR_A DIR_B")
    a, b = plans(argv[1]), plans(argv[2])
    if not a or not b:
        sys.exit(f"no <query>.txt plans in {argv[1] if not a else argv[2]}")
    only_a = sorted(a.keys() - b.keys())
    only_b = sorted(b.keys() - a.keys())
    differ = sorted(n for n in a.keys() & b.keys() if a[n] != b[n])
    for n in only_a:
        print(f"only in {argv[1]}: {n}")
    for n in only_b:
        print(f"only in {argv[2]}: {n}")
    for n in differ:
        print(f"differs: {n}")
    same = len(a.keys() & b.keys()) - len(differ)
    print(f"{same} identical, {len(differ)} differ, "
          f"{len(only_a) + len(only_b)} unmatched")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
