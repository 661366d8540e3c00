#!/usr/bin/env python3
"""Diff two `graft.Measure plan` output directories query by query.

A plan-preserving refactor must leave every query's formatted plans
unchanged: the returned DataFrame's plan and every QueryExecution the
builder ran while building it (checkpoints included). Raw plan text is
never equal across two runs, so both sides are normalized first:

  - expression ids (`qid#28312L` -> `qid#L`), lambda variable numbers
    (`lambda x_131` -> `lambda x_`) and exchange `plan_id`s;
  - RDD ids and call sites (`MapPartitionsRDD[8092] at localCheckpoint
    at Similarity.scala:233` -> `MapPartitionsRDD[] at localCheckpoint`),
    since moving a checkpoint into a helper moves its call site;
  - random temp-dir suffixes (long digit runs), hex staging names, and
    JVM object identities (lambda classes, `@1a2b3c` hash codes);
  - AQE query-stage and codegen-stage numbers, which follow the order in
    which concurrent stages happen to finish.

Usage:
  python3 tools/plan_diff.py PARENT_DIR CHANGE_DIR [QUERY ...]
      [--unordered] [--jobs PARENT_LOG CHANGE_LOG]

Without QUERY names every `*.txt` present on either side is compared.
`--unordered` compares the intermediate executions as a multiset, for
builders that run several materializations concurrently. `--jobs`
compares the job counts in two logs of `Measure jobs` runs (the
`[jobs] <query> total=... s, <n> jobs` lines). Exit status is 1 when
any compared query differs.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"\$Lambda[$\w]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@"),
    (re.compile(r"#\d+"), "#"),
    # lambda variables are numbered by one JVM-wide counter, which
    # shifts with every lambda built earlier in the run
    (re.compile(r"\blambda ([a-z]+)_\d+"), r"lambda \1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"( at \w+) at [\w$.]+\.(?:scala|java):\d+"), r"\1"),
    # AQE numbers query stages and codegen stages in the order they
    # materialize, which concurrent stages race for
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"(QueryStage\n(?:(?:Output|Input) \[.*\n)*Arguments: )\d+"),
     r"\1N"),
    # artifact catalog tables are named after the last 80 characters of
    # their (temp-suffixed) path
    (re.compile(r"graft_model_\w+"), "graft_model_T"),
    (re.compile(r"[0-9a-f]{12,}"), "H"),
    (re.compile(r"\d{9,}"), "N"),
]
BLOCK = re.compile(r"^== intermediate QueryExecution #\d* ==$", re.M)
JOBS = re.compile(r"^\[jobs\] (\S+) total=\S+ s, (\d+) jobs$", re.M)


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def blocks(path, unordered):
    with open(path, encoding="utf-8") as f:
        parts = BLOCK.split(normalize(f.read()))
    head, rest = parts[0], parts[1:]
    if unordered:
        rest = sorted(rest)
    out = [head]
    for i, b in enumerate(rest):
        out.append(f"== intermediate QueryExecution #{i} ==" + b)
    return "".join(out).splitlines(keepends=True)


def job_counts(path):
    with open(path, encoding="utf-8") as f:
        return {m.group(1): int(m.group(2)) for m in JOBS.finditer(f.read())}


def main(argv):
    unordered = "--unordered" in argv
    argv = [a for a in argv if a != "--unordered"]
    jobs = None
    if "--jobs" in argv:
        i = argv.index("--jobs")
        jobs = (argv[i + 1], argv[i + 2])
        argv = argv[:i] + argv[i + 3:]
    if len(argv) < 2:
        sys.exit(__doc__)
    old, new, names = argv[0], argv[1], argv[2:]
    if not names:
        names = sorted({f[:-4] for d in (old, new) for f in os.listdir(d)
                        if f.endswith(".txt")})
    differ = 0
    for n in names:
        a, b = (os.path.join(d, n + ".txt") for d in (old, new))
        missing = [p for p in (a, b) if not os.path.exists(p)]
        if missing:
            print(f"{n}: MISSING {', '.join(missing)}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(blocks(a, unordered),
                                         blocks(b, unordered), a, b))
        if diff:
            differ += 1
            print(f"{n}: DIFFERS")
            sys.stdout.writelines(diff)
        else:
            print(f"{n}: same")
    if jobs:
        ja, jb = job_counts(jobs[0]), job_counts(jobs[1])
        for n in sorted(set(ja) | set(jb)):
            ca, cb = ja.get(n), jb.get(n)
            same = ca == cb
            differ += 0 if same else 1
            print(f"{n}: jobs {ca} -> {cb}" + ("" if same else "  DIFFERS"))
    print(f"{len(names)} plan(s) compared, {differ} difference(s)")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
