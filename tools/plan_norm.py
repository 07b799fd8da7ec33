#!/usr/bin/env python3
"""Normalize `graft.Plans` dumps so two runs or two builds can be diffed.

Usage:
  python3 tools/plan_norm.py FILE               print FILE normalized
  python3 tools/plan_norm.py DIR TAG_A TAG_B    diff DIR/<query>_<TAG_A>.txt
                                                with DIR/<query>_<TAG_B>.txt

The dumps come from `runMain graft.Plans <outDir> <tag> <query...>`.
Parts of a formatted plan that change between runs of one build are
replaced by fixed tokens: expression ids (`#n`), `plan_id=n`, the random
suffix of `TempDirs.scoped` directories, UUIDs, RDD ids, the JVM-wide
counters in lambda variable and common-expression names (`lambda x_17`,
`_common_expr_2`), and lambda and object hashes. In diff mode every query that differs after that prints
its unified diff; the last line counts queries compared, differing, and
present under one tag only. Exit status 1 when any query differs or is
unpaired.

Not normalized: an Expand's column order follows expression-id hashes
(`profile_columns`, `agg_chi2_contingency`), so such a plan can differ
between two runs of one build.
"""
import difflib
import re
import sys
from pathlib import Path

RULES = [
    # Files.createTempDirectory appends a random unsigned long to the
    # prefix `graft_<kind>_<dir>`; the dir's own trailing digits merge
    # with it, so the whole trailing digit run is replaced
    (re.compile(r"(graft_[A-Za-z0-9_]*?)\d+(?=[/\]\s,.)]|$)"), r"\1<n>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"(lambda \w+?)_\d+(?=#)"), r"\1_<n>"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_<n>"),
    (re.compile(r"\$\$Lambda[$/\w]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,16}\b"), "@<hash>"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[<n>]"),
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"#\d+"), "#<n>"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def diff_dir(d, tag_a, tag_b):
    def plans(tag):
        suffix = f"_{tag}.txt"
        return {p.name[:-len(suffix)]: p for p in Path(d).glob(f"*{suffix}")}
    a, b = plans(tag_a), plans(tag_b)
    differing = 0
    for q in sorted(a.keys() & b.keys()):
        ta = normalize(a[q].read_text()).splitlines()
        tb = normalize(b[q].read_text()).splitlines()
        if ta != tb:
            differing += 1
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                ta, tb, f"{q}_{tag_a}", f"{q}_{tag_b}", n=1, lineterm=""))
    unpaired = sorted(a.keys() ^ b.keys())
    for q in unpaired:
        print(f"UNPAIRED {q}")
    print(f"compared {len(a.keys() & b.keys())}, differing {differing}, "
          f"unpaired {len(unpaired)}")
    return 1 if differing or unpaired else 0


def main(argv):
    if len(argv) == 1:
        sys.stdout.write(normalize(Path(argv[0]).read_text()))
        return 0
    if len(argv) == 3:
        return diff_dir(*argv)
    sys.exit(__doc__)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
