#!/usr/bin/env python3
"""Golden-regeneration discipline check (COVERAGE.md round 6).

Committed-golden VALUES oracles are regression pins the engine itself
produced, so a commit that BOTH changes engine behavior AND re-pins a golden
can silently re-pin a regression. This walks a commit range and flags any
commit whose diff touches engine source (core/ analysis/ index/ query/
kernels/codec) AND either a golden VALUES block (EngineQueries.scala oracle
constants) or the rank golden (fixtures/golden_topk.tsv).

Usage: python3 tools/check_golden_discipline.py [range]   (default HEAD~20..HEAD)
Exit 1 if any commit violates the rule.
"""
import re
import subprocess
import sys

ENGINE_DIRS = (
    "src/main/scala/graft/core/",
    "src/main/scala/graft/analysis/",
    "src/main/scala/graft/index/",
    "src/main/scala/graft/query/",
)
GOLDEN_FILE = "src/main/scala/graft/EngineQueries.scala"
RANK_GOLDEN = "fixtures/golden_topk.tsv"


def sh(*args):
    return subprocess.run(args, capture_output=True, text=True, check=True).stdout


def main():
    rng = sys.argv[1] if len(sys.argv) > 1 else "HEAD~20..HEAD"
    commits = sh("git", "rev-list", rng).split()
    bad = []
    for c in commits:
        files = sh("git", "show", "--name-only", "--format=", c).split()
        if not any(f.startswith(d) for f in files for d in ENGINE_DIRS):
            continue
        subj = sh("git", "log", "-1", "--format=%h %s", c).strip()
        if RANK_GOLDEN in files:
            bad.append(f"{subj} (re-pins {RANK_GOLDEN})")
            continue
        if GOLDEN_FILE not in files:
            continue
        # engine + oracle file in one commit: only a violation if the diff
        # touches a VALUES golden block (added/removed lines containing the
        # VALUES rows), not e.g. a new query entry or comment
        diff = sh("git", "show", "--format=", "--unified=0", c, "--", GOLDEN_FILE)
        touched_values = any(
            re.match(r"^[+-].*(VALUES|^\s*[+-]\s*\|\s*\()", line)
            and re.search(r"VALUES|\(\s*-?\d", line)
            for line in diff.splitlines()
            if line[:1] in "+-" and not line.startswith(("+++", "---"))
        )
        if touched_values:
            bad.append(subj)
    if bad:
        print("GOLDEN DISCIPLINE VIOLATION — commits regenerating goldens "
              "alongside engine changes:")
        for b in bad:
            print("  " + b)
        sys.exit(1)
    print(f"ok: no golden-regeneration violations in {rng} "
          f"({len(commits)} commits checked)")


if __name__ == "__main__":
    main()
