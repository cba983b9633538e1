"""Staleness audit for the driver-window rotation policy.

The steady-state policy (plans/catalog.py, r12+): each round the
50-slot driver window takes the 50 registered queries whose latest
driver green is oldest, so no query's latest driver-checked round is
ever more than ceil(252/50) = 6 rounds old. This tool makes that
claim CHECKABLE from the committed artifacts alone: it scans every
CORRECTNESS_r*.json, records each query's latest appearance and
verdict, and prints the staleness distribution plus any query whose
latest appearance is non-green or missing.

Usage: python tools/staleness_check.py [current_round] [--cohort N]
(exit 1 if any registered query has never appeared or its latest
driver row is not fully green).  --cohort N additionally prints the
next N-query window cohort in rotation order: queries sorted by
latest driver-green round ascending, ties broken by key order within
that round's artifact — the canonical input to the catalog reorder.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def latest_rows() -> dict[str, tuple[int, bool, int]]:
    """query -> (latest round seen, was that row green, key position in that round's file)."""
    from joblink_etl_spark.plans import registry

    # registered without an oracle = rows-only by design: green = rows ran, no err
    rows_only = set(registry.queries()) - set(registry.oracles())
    out: dict[str, tuple[int, bool, int]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json", path)
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except ValueError:
            continue
        for pos, (name, row) in enumerate(data.items()):
            if not isinstance(row, dict):
                continue
            if name in rows_only:
                # driver records err='no_oracle' with the row count —
                # green = the query RAN and produced rows (its
                # algorithm is hash-checked via the oracled _fixed /
                # fixture twin)
                green = (row.get("spark_rows") or 0) > 0 and row.get("err") in (
                    None,
                    "no_oracle",
                )
            else:
                green = bool(
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and row.get("err") is None
                )
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, green, pos)
    return out


def main() -> None:
    from joblink_etl_spark.plans import registry

    args = [a for a in sys.argv[1:]]
    cohort_n = 0
    if "--cohort" in args:
        i = args.index("--cohort")
        cohort_n = int(args[i + 1])
        del args[i : i + 2]

    names = list(registry.queries())
    seen = latest_rows()
    if not seen:
        print(
            json.dumps(
                {
                    "current_round": None,
                    "registered": len(names),
                    "error": "no CORRECTNESS_r*.json artifacts found",
                }
            )
        )
        sys.exit(1)
    cur = int(args[0]) if args else max(r for r, _, _ in seen.values())

    never = [n for n in names if n not in seen]
    red = [n for n in names if n in seen and not seen[n][1]]
    staleness = {n: cur - seen[n][0] for n in names if n in seen}
    by_age: dict[int, int] = {}
    for age in staleness.values():
        by_age[age] = by_age.get(age, 0) + 1

    out = {
        "current_round": cur,
        "registered": len(names),
        "never_driver_checked": never,
        "latest_row_not_green": red,
        "staleness_histogram": {str(k): by_age[k] for k in sorted(by_age)},
        "max_staleness_rounds": max(staleness.values()) if staleness else None,
    }
    if cohort_n:
        # rotation order: oldest latest-green round first, ties by key
        # position within that round's artifact file
        ranked = sorted(
            (n for n in names if n in seen),
            key=lambda n: (seen[n][0], seen[n][2]),
        )
        out["next_cohort"] = ranked[:cohort_n]
    print(json.dumps(out))
    sys.exit(1 if (never or red) else 0)


if __name__ == "__main__":
    main()
