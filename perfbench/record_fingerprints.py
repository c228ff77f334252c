#!/usr/bin/env python3
"""Record the DuckDB oracle fingerprints of the catalog_heavy queries
over their fixed generated tables into ``fingerprints.json``.

Run from the repository root after changing the table generator, the
heavy query set or an oracle: ``python3 perfbench/record_fingerprints.py``
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import tables  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    data = tables.ensure(os.path.join(ROOT, ".perfbench", "cache", "tables"),
                         workloads.HEAVY_SF, workloads.TABLE_SEED)
    prints = {n: workloads.fingerprint(key) for n, key in
              workloads.oracle_results(workloads.HEAVY, data).items()}
    with open(workloads.FINGERPRINTS, "w", encoding="utf-8") as f:
        json.dump(prints, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(prints, indent=1))


if __name__ == "__main__":
    main()
