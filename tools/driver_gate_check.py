#!/usr/bin/env python
"""Replicate the driver's sf0.01 oracle gate locally over a chosen set
of catalog queries (default: the oracled names with no green row in any
CORRECTNESS_r*.json — the names the next driver round will check
first). The repo's pytest parity suite runs at sf0.001 for speed; this
harness re-runs the SAME strict compare at the driver's sf so
data-dependent divergences (rounding at different ratios, empty groups,
bucket boundaries) surface before the round closes.

Usage: python tools/driver_gate_check.py [--sf /root/testdata/sf0.01]
           [--names a b c | --all]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--all", action="store_true",
                    help="check every oracled query, not just the unchecked ones")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    ap.add_argument("--resume", default=None, metavar="LOG",
                    help="skip names already finished (OK or FAIL line) "
                         "in a previous run's log file")
    args = ap.parse_args()

    from bench import build_session
    from event_streaming_bnpl_demo_spark.plans import all_queries
    from event_streaming_bnpl_demo_spark.plans import catalog as cat
    from tests.oracle_harness import compare, duck_connection

    catalog = all_queries()
    if args.names:
        # rows-only queries (oracle=None) have nothing to compare —
        # passing one here used to feed None into duckdb, which dies
        # with an internal shared_ptr error that reads like a crash
        names = []
        for n in args.names:
            if catalog[n].oracle is None:
                print(f"SKIP {n} (rows-only: no oracle to compare)")
            else:
                names.append(n)
    elif args.all:
        names = [n for n, q in catalog.items() if q.oracle]
    else:
        # default: every oracled name without a driver-green row —
        # exactly what the next driver round will check first
        last = cat._last_checked_rounds()
        names = [n for n, q in catalog.items()
                 if q.oracle and n not in last]

    if args.resume:
        done = set()
        with open(args.resume) as fh:
            for line in fh:
                if line.startswith(("OK ", "FAIL ")):
                    done.add(line.split()[1])
        names = [n for n in names if n not in done]
        print(f"resume: {len(done)} finished names skipped")

    spark = build_session(args.cpus)
    con = duck_connection(args.sf)
    n_fail = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            problems = compare(catalog[name].fn(spark, args.sf), con,
                               catalog[name].oracle)
        except Exception as e:  # noqa: BLE001 - report, keep going
            problems = [f"exception: {e}"]
        status = "OK " if not problems else "FAIL"
        n_fail += bool(problems)
        print(f"{status} {name} ({time.perf_counter() - t0:.1f}s)"
              + ("" if not problems else f"  {problems}"))
    print(f"\n{len(names) - n_fail}/{len(names)} pass at {args.sf}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
