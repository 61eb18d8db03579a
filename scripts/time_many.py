#!/usr/bin/env python
"""Time several driver-contract queries, N warm reps each, in ONE session.

Usage: python scripts/time_many.py SF_DIR REPS QUERY [QUERY ...]
Runs bench.py's session reset (``reset_session_state``) before each rep.
Prints per-query median/min over reps as one JSON line at the end.
"""
import json
import statistics
import sys

import harness


def main():
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]

    import __spark_entry__ as entrymod

    spark = harness.start_session("time_many")
    qs = entrymod.queries()
    out = {}
    for qname in names:
        fn = qs[qname]
        # first rep is cold, dropped
        ts = [round(t, 3) for t in harness.time_reps(
            spark, lambda: harness.force(fn(spark, sf_dir)), reps + 1)]
        out[qname] = {"cold": ts[0], "median": round(
            statistics.median(ts[1:]), 3), "min": min(ts[1:]),
            "reps": ts[1:]}
        print(f"{qname}: cold={ts[0]} warm={ts[1:]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
