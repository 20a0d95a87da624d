#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories query by query.

Usage: plan_diff.py <dirA> <dirB>

PlanDump writes one `<query>_<tag>.txt` per query. Each directory holds
one tag, so files pair up by query name once the tag suffix shared by
all files of a directory is stripped. Before comparing, ids that differ
between two runs of the same plan are masked:

  - expression ids        `#123`                 -> `#N`
  - RDD ids               `RDD[44]`              -> `RDD[N]`
  - exchange plan ids     `plan_id=1688`         -> `plan_id=N`
  - lambda variables      `lambda x_12`          -> `lambda x_N`
  - Scala call sites      `Persist.scala:53`     -> `Persist.scala:N`

For each query the script prints `identical` or a unified diff of the
masked plans. Queries present in only one directory are reported as
missing. Exit status is 0 when every query is identical, 1 otherwise.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"lambda x_\d+"), "lambda x_N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
]


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def common_tag_suffix(stems):
    """The `_<tag>` suffix every stem in a directory ends with."""
    if len(stems) == 1:
        stem = stems[0]
        return stem[stem.rfind("_"):] if "_" in stem else ""
    rev = os.path.commonprefix([s[::-1] for s in stems])[::-1]
    cut = rev.find("_")
    return rev[cut:] if cut >= 0 else ""


def load(d):
    stems = sorted(f[:-4] for f in os.listdir(d) if f.endswith(".txt"))
    if not stems:
        sys.exit(f"plan_diff: no PlanDump .txt files in {d}")
    suffix = common_tag_suffix(stems)
    plans = {}
    for stem in stems:
        with open(os.path.join(d, stem + ".txt")) as fh:
            plans[stem[:len(stem) - len(suffix)]] = mask(fh.read())
    return plans


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    differ = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            where = argv[1] if q not in a else argv[2]
            print(f"{q}: missing from {where}")
            differ += 1
        elif a[q] == b[q]:
            print(f"{q}: identical")
        else:
            print(f"{q}: differs")
            sys.stdout.writelines(difflib.unified_diff(
                a[q].splitlines(keepends=True), b[q].splitlines(keepends=True),
                fromfile=f"{argv[1]}/{q}", tofile=f"{argv[2]}/{q}"))
            differ += 1
    print(f"== {len(set(a) | set(b)) - differ} identical / {differ} differ ==")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
