#!/usr/bin/env python
"""Run the driver's differential check locally over all registered queries,
each op inside its own release scope, so none reads what an earlier op
left persisted.

Usage: python scripts/verify_local.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filemap_spark import all_oracle, all_queries, get_spark
from filemap_spark.session import release_scope
from filemap_spark.testing import run_one


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    queries, oracles = all_queries(), all_oracle()
    names = args.names or sorted(queries)
    spark = get_spark("verify-local")
    failures = 0
    skipped = 0
    for name in names:
        if name not in queries:
            skipped += 1
            print(f"[SKIP] {name}: not registered")
            continue
        t0 = time.time()
        try:
            with release_scope(spark):
                res = run_one(name, queries[name], oracles.get(name), spark, args.sf)
        except Exception as exc:  # surface, keep going
            failures += 1
            print(f"[ERR ] {name} — {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
            continue
        if not res.ok:
            failures += 1
        pin = ""
        if name not in oracles:
            # rows-only op: name its mechanism pin so the line reads as
            # "graded elsewhere", not "unchecked" (VERDICT r17 task 8)
            from filemap_spark.registry import rows_only_pins

            pin = f" [pinned_by {rows_only_pins().get(name, '?')}]"
        print(f"{res}{pin} ({time.time() - t0:.2f}s)")
    checked = len(names) - skipped
    print(f"\n{checked - failures}/{checked} passed" + (f", {skipped} skipped" if skipped else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
