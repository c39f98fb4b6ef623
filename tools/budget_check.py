#!/usr/bin/env python3
"""Gate a bench run against the pinned per-query budget table in
BASELINE.md (round-11 governance: per-query budgets replace the drifting
total as the regression anchor).

Usage: python3 tools/budget_check.py BENCH_DETAIL.json [BASELINE.md]

Reads the LAST budget table in BASELINE.md (rows `| query | run1 | run2 |
budget | flag |`), applies each query's pinned flag threshold to the
run's median, and reports violations. Queries absent from the table
(added since the last budget refresh) are listed informationally. A `-1`
(threw) entry is printed with the exception class and message the run
recorded under `errors`, when the file has one. Exit code 1 iff any
pinned query exceeds its flag threshold.
"""
import json
import re
import sys


def main():
    detail = json.load(open(sys.argv[1]))
    run = detail["queries"]
    errors = detail.get("errors", {})
    baseline = sys.argv[2] if len(sys.argv) > 2 else "BASELINE.md"
    budgets = {}
    # query names always contain an underscore — this keeps scale-table
    # rows (x1/x10) in other 5-column tables from registering as pins.
    # Dots admit the per-frame `shared_frame_builds.<name>` entries.
    for m in re.finditer(
            r"^\| ([a-z0-9]+_[a-z0-9_.]+) \| [-0-9.]+ \| [-0-9.]+ \| ([0-9.]+) \| ([0-9.]+) \|$",
            open(baseline).read(), re.M):
        budgets[m.group(1)] = (float(m.group(2)), float(m.group(3)))
    if not budgets:
        print("no budget table found in", baseline)
        sys.exit(2)
    flagged, unpinned = [], []
    for q, v in sorted(run.items()):
        if v is None or v < 0:
            err = errors.get(q)
            cause = f": {err['class']}: {err['message']}" if err else ""
            flagged.append((q, v, "threw (-1)" + cause))
            continue
        if q not in budgets:
            unpinned.append((q, v))
            continue
        budget, flag = budgets[q]
        if v > flag:
            flagged.append((q, v, f"{v:.2f}s > flag {flag:.2f}s "
                                  f"(budget {budget:.2f}s, {v / budget:.2f}x)"))
    for q, v in unpinned:
        print(f"UNPINNED {q}: {v:.2f}s (no budget yet — pin it next refresh)")
    for q, v, why in flagged:
        print(f"FLAG {q}: {why}")
    total = sum(v for v in run.values() if v and v > 0)
    print(f"\n{len(run)} queries, total {total:.1f}s; "
          f"{len(flagged)} flagged, {len(unpinned)} unpinned "
          f"(budget table: {len(budgets)} entries)")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
