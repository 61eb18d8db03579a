#!/usr/bin/env python
"""Step-level profiler for multi-action queries (lifecycle/registry tier).

Monkeypatches every public function of the operator modules with a wall
timer, runs the named query twice (cold + warm), and prints the per-call
breakdown of the WARM run — separating operator-step cost (writes,
collects, checks inside the operators) from the final noop-sink serve.

Usage: PYTHONPATH=/root/repo python scripts/profile_steps.py QUERY [SF_DIR]
"""
from __future__ import annotations

import functools
import sys
import time

import harness

CALLS = []
_depth = [0]


def _wrap(mod, name, fn):
    @functools.wraps(fn)
    def timed(*a, **kw):
        _depth[0] += 1
        d = _depth[0]
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            _depth[0] -= 1
            CALLS.append((d, f"{mod}.{name}", time.perf_counter() - t0))
    return timed


def patch(module):
    import inspect
    for name, fn in list(vars(module).items()):
        if inspect.isfunction(fn) and fn.__module__ == module.__name__:
            setattr(module, name, _wrap(module.__name__.split(".")[-1],
                                        name, fn))


def main():
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from orange3_timeseries_spark.operators import (
        contamination,
        dedup,
        index_store,
        retrieval,
        sampling,
        similarity,
        text,
    )
    from orange3_timeseries_spark.operators import audit as audit_mod
    for m in (dedup, similarity, index_store, audit_mod, retrieval,
              contamination, text, sampling):
        patch(m)

    import __spark_entry__ as entrymod

    spark = harness.start_session("profile_steps")
    fn = entrymod.queries()[qname]
    for rep in range(2):
        harness.reset_session_state(spark)
        CALLS.clear()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        harness.force(df)
        t_serve = time.perf_counter() - t1
        total = time.perf_counter() - t0
        if rep == 0:
            print(f"[cold] total={total:.2f}s "
                  f"(steps={t_build:.2f} serve={t_serve:.2f})")
            continue
        print(f"[warm] total={total:.2f}s "
              f"(steps={t_build:.2f} serve-noop={t_serve:.2f})")
        # print top-level calls in order (depth 1); CALLS appended on exit,
        # so re-sort chronologically is lost -- print all with depth marks
        for d, name, dt in CALLS:
            if dt >= 0.05:
                print(f"  {'  '*(d-1)}{name:45s} {dt:7.3f}s")


if __name__ == "__main__":
    main()
