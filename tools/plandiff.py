#!/usr/bin/env python3
"""Diff two directories of `graft.plans.ExplainSome` output.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each ExplainSome file holds one query key's formatted final plan and the
distinct plans it executed, per tier regime, and starts with a
`# <key> — explain(formatted) @ <sf dir>` header. Files are paired by that
key (so the two runs may use different file suffixes), and every plan is
normalized before the diff, so that two runs of the same plan compare
equal:

  * expression ids        `#123`        -> `#N`
  * plan ids              `plan_id=7`   -> `plan_id=N`
  * operator numbers      `(94)`        -> `(N)`
  * RDD ids               `RDD[85]`     -> `RDD[N]`
  * source line numbers   `Foo.scala:12` -> `Foo.scala:N`
  * truncation counts     `[truncated 12 chars]`
  * lambda variables      `lambda x_21` -> `lambda x_N`
  * common subexpressions `_common_expr_4` -> `_common_expr_N`
  * object hash codes     `CountMin@58940b17` -> `CountMin@N`
  * codegen stage ids     `[codegen id : 9]` -> `[codegen id : N]` (AQE
                          compiles stages in completion order)
  * temp-dir suffixes     `graft_hive_part_1783200128` -> `graft_hive_part_N`
  * AQE query-stage ids   `Arguments: 3` under a `(n) ShuffleQueryStage`,
                          `BroadcastQueryStage` or `ResultQueryStage` node

Prints a unified diff per differing key and a one-line summary; exits 1
when any key differs or is present on one side only, else 0.
"""
import difflib
import pathlib
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\(\d+\)"), "(N)"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"truncated \d+ chars"), "truncated N chars"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"(\w)@[0-9a-f]+\b"), r"\1@N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"_\d{9,}"), "_N"),
]
STAGE = re.compile(r"\(\d+\) \w*QueryStage")
STAGE_ID = re.compile(r"^Arguments: \d+$")


def normalize(lines):
    out, stage = [], False
    for line in lines:
        n = line
        for pat, rep in RULES:
            n = pat.sub(rep, n)
        if stage:
            n = STAGE_ID.sub("Arguments: N", n)
        if line.startswith("("):
            stage = bool(STAGE.match(line))
        out.append(n)
    return out


def load(d):
    plans = {}
    for f in sorted(pathlib.Path(d).glob("*.txt")):
        lines = f.read_text().splitlines()
        if not lines or not lines[0].startswith("# "):
            continue
        key = lines[0][2:].split(" — explain(formatted)")[0]
        plans[key] = normalize(lines[1:])
    return plans


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    same, differ = 0, 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"ONLY IN {'B' if key in b else 'A'}: {key}")
            differ += 1
        elif a[key] == b[key]:
            same += 1
        else:
            differ += 1
            print(f"=== DIFF: {key}")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[key], b[key], argv[1], argv[2], lineterm="", n=2))
    print(f"[plandiff] {same} identical, {differ} different")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
