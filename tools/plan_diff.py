#!/usr/bin/env python3
"""Compare two `graft.runner.PlanDump` output directories query by query.

Usage: plan_diff.py BEFORE_DIR AFTER_DIR

Each directory holds `<query>_<suffix>.txt` files (one suffix per dump,
e.g. `before` / `after`). Before comparing, run-local counters are
normalized away: expression ids (`#123`, `#123L`), `plan_id=N`, RDD ids
(`MapPartitionsRDD[42]`), the `at <call> at File.scala:N` call sites
Spark prints on a checkpoint scan, and the JVM identities printed for
function objects (`Media$$$Lambda$6684/0x...@2d1ea100`, `TopK@1781e2e1`).
What remains is the plan itself.

Prints one line per query whose plan differs (and per query present in
only one dump), then a unified diff of each, and exits 1 if any differ;
exits 0 when every plan matches.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at \w+ at [\w$.]+\.scala:\d+"), " at <callsite>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@H"),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def load(d):
    """query name -> normalized plan text; the suffix is the text after
    the last underscore and must be the same for every file."""
    plans, suffixes = {}, set()
    for f in sorted(os.listdir(d)):
        if not f.endswith(".txt") or "_" not in f:
            continue
        q, suffix = f[:-len(".txt")].rsplit("_", 1)
        suffixes.add(suffix)
        with open(os.path.join(d, f), encoding="utf-8") as fh:
            plans[q] = normalize(fh.read())
    if len(suffixes) > 1:
        sys.exit(f"{d}: mixed dump suffixes {sorted(suffixes)}")
    if not plans:
        sys.exit(f"{d}: no PlanDump files")
    return plans


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = load(argv[1]), load(argv[2])
    differ = []
    for q in sorted(before.keys() | after.keys()):
        if q not in after:
            print(f"only in {argv[1]}: {q}")
            differ.append(q)
        elif q not in before:
            print(f"only in {argv[2]}: {q}")
            differ.append(q)
        elif before[q] != after[q]:
            print(f"plan differs: {q}")
            differ.append(q)
    for q in differ:
        if q in before and q in after:
            sys.stdout.writelines(difflib.unified_diff(
                before[q].splitlines(keepends=True), after[q].splitlines(keepends=True),
                fromfile=f"{q} (before)", tofile=f"{q} (after)"))
    print(f"{len(differ)} of {len(before.keys() | after.keys())} queries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
