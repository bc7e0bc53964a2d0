#!/usr/bin/env python3
"""List structural counts that differ between traced runs.

    python3 perfbench/counts_diff.py perfbench/.traces/A.json perfbench/.traces/B.json

Jobs, stages and tasks per op and py4j round trips per build are meant to
repeat exactly for one seed; a count that differs cannot back a claim.
Exits 1 when any count differs.
"""

from __future__ import annotations

import json
import sys

from spans import STRUCTURAL


def main(paths: list[str]) -> int:
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f)["record"])
    differ = 0
    for key in STRUCTURAL:
        values = [r["layers"][key] for r in runs]
        same = all(v == values[0] for v in values)
        differ += not same
        print(f"{'same  ' if same else 'DIFFER'} {key}: {values}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
