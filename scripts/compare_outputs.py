#!/usr/bin/env python3
"""Diff two `graft.Verify` output directories query by query:

    python3 scripts/compare_outputs.py <dirA> <dirB>

Each query's parquet output is compared with the driver's semantics
(columns sorted by name, rows as a multiset of stringified values), so a
refactor can show that it left every output unchanged. Prints one line per
query that differs or exists on one side only, then a summary; exits 1 on
any difference."""
import os
import sys

from verify_outputs import exit_now, norm, read_output

if len(sys.argv) != 3:
    sys.exit(__doc__)
dir_a, dir_b = sys.argv[1], sys.argv[2]


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


qa, qb = queries(dir_a), queries(dir_b)
same = differ = 0
for q in sorted(qa | qb):
    if q not in qa or q not in qb:
        print(f"ONLY-{'A' if q in qa else 'B'}   {q}")
        differ += 1
        continue
    (ca, ra), (cb, rb) = norm(read_output(f"{dir_a}/{q}")), norm(read_output(f"{dir_b}/{q}"))
    if ca != cb:
        print(f"SCHEMA   {q}: A={ca} B={cb}")
        differ += 1
    elif ra != rb:
        only_a = [r for r in ra if r not in set(rb)][:3]
        only_b = [r for r in rb if r not in set(ra)][:3]
        print(f"ROWS     {q}: A={len(ra)} B={len(rb)} onlyA={only_a} onlyB={only_b}")
        differ += 1
    else:
        same += 1

print(f"\n{same} identical, {differ} differ")
exit_now(1 if differ else 0)
