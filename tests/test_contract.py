"""Differential contract test — every registered query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS gate (SURVEY §5.2) at sf0.001 for speed;
`scripts/verify_local.py --sf /root/testdata/sf0.01` is the pre-commit
full-scale run.
"""

from __future__ import annotations

import pytest

from filemap_spark import all_oracle, all_queries
from filemap_spark.registry import _META
from filemap_spark.testing import run_one

QUERIES = all_queries()
ORACLE = all_oracle()
FAMILIES = sorted({family for family, _idx, _cost in _META.values()})


def test_entry_contract(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert len(df.collect()) > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())


@pytest.mark.parametrize("family", FAMILIES)
def test_query_matches_oracle(spark, sf_dir, family):
    """Every registered query of one registry family (its operators/
    module) vs its DuckDB oracle, swept over a thread pool: each op is an
    independent plan + toPandas + per-thread DuckDB connection, so the
    sweep parallelizes cleanly and the wall drops to the stragglers. The
    families together cover all registered queries, and a failure reruns
    one family, not the whole registry. Every failure is reported by
    name."""
    from concurrent.futures import ThreadPoolExecutor

    def one(name):
        try:
            res = run_one(name, QUERIES[name], ORACLE.get(name), spark, sf_dir)
            return name, (None if res.ok else str(res))
        except Exception as exc:  # surface, keep sweeping
            return name, f"{type(exc).__name__}: {exc}"

    names = sorted(n for n in QUERIES if _META[n][0] == family)
    with ThreadPoolExecutor(max_workers=12) as pool:
        results = list(pool.map(one, names))
    failures = {n: d for n, d in results if d is not None}
    assert not failures, failures
