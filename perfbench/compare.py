"""Diff the Spark footprints of two traced runs.

    python3 perfbench/compare.py BASE_TRACE.json HEAD_TRACE.json

A traced run (``run.py --trace 1``) writes its spans to
``.perfbench_work/trace-<workload>-s<seed>.json``.  This tool pairs the spans
of two such files by name and occurrence (the n-th ``indexing.build`` with the
n-th) and flags every span whose jobs, stages, tasks, input bytes or output
bytes differ.  Counts for a fixed seed and plan barely move with host load, so
a flagged change is evidence of a changed plan, stated as a count and not as
a speed-up.

Changes listed in ``MOVING`` also happen between two runs of the same code
and seed; they are reported but not flagged.  Exit status: 0 when nothing
is flagged, 1 otherwise.
"""

from __future__ import annotations

import fnmatch
import json
import sys

FIELDS = ("jobs", "stages", "tasks", "input_bytes", "output_bytes")

# (span-name pattern, field): counts that can differ between two traced runs
# of the same code and seed.  Adaptive execution sizes the post-shuffle
# stages of facet and knn reads from runtime statistics; on larger corpora
# their task counts moved between runs.  Two traced runs of each workload at
# the default corpus size matched exactly in every field.
MOVING = (
    ("index_reader*.facet", "tasks"),
    ("index_reader*.knn", "tasks"),
)


def moving(name: str, field: str) -> bool:
    return any(fnmatch.fnmatchcase(name, pat) and field == f for pat, f in MOVING)


def keyed(records: list[dict]) -> dict[tuple[str, int], dict]:
    seen: dict[str, int] = {}
    out = {}
    for r in records:
        n = seen.get(r["name"], 0)
        seen[r["name"]] = n + 1
        out[(r["name"], n)] = r
    return out


def compare(base: list[dict], head: list[dict]) -> tuple[list[str], list[str]]:
    a, b = keyed(base), keyed(head)
    flagged, expected = [], []
    for key in sorted(set(a) | set(b)):
        name, n = key
        if key not in a or key not in b:
            flagged.append(f"{name}#{n}: only in {'head' if key in b else 'base'}")
            continue
        for f in FIELDS:
            if a[key][f] != b[key][f]:
                line = f"{name}#{n} {f}: {a[key][f]} -> {b[key][f]}"
                (expected if moving(name, f) else flagged).append(line)
    return flagged, expected


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        flagged, expected = compare(json.load(fa), json.load(fb))
    for line in expected:
        print(f"moving   {line}")
    for line in flagged:
        print(f"CHANGED  {line}")
    print(f"{len(flagged)} flagged, {len(expected)} listed as moving")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
