"""Generated code compiles once per session.

Whole-stage codegen compiles each generated class with Janino and keeps it
in Spark's codegen class cache. ``session.build_session`` sizes that cache
to hold the op surface (``CODEGEN_CACHE_ENTRIES``; Spark's default of 100
entries made the benchmark's surface ops evict one another), and the
single-evaluation pins embed a fixed shuffle seed rather than a fresh one
per analysis. Either fault shows as compiles on a repeated call, counted
by ``session.codegen_compiles`` (Spark's ``CodegenMetrics``).
"""

from __future__ import annotations

import pytest

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.session import codegen_compiles
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_SMOKE


def _compiles(spark, ops, fresh: bool = False) -> int:
    """Classes compiled while ``ops`` run once each, as perfbench runs them:
    the cache cleared before each op, its rows collected."""
    qs = all_queries()
    before = codegen_compiles(spark)
    for op in ops:
        fn = getattr(qs[op], "__wrapped__", qs[op]) if fresh else qs[op]
        spark.catalog.clearCache()
        fn(spark, SF_SMOKE).collect()
    return codegen_compiles(spark) - before


def test_surface_pass_compiles_nothing_the_second_time(spark):
    """The nine ``surface_sf0.01`` ops need 107 cache entries; a second pass
    over them finds every class compiled."""
    ops = WORKLOADS["surface_sf0.01"].ops
    _compiles(spark, ops)
    assert _compiles(spark, ops) == 0


@pytest.mark.parametrize("op", ["llm_ngram_jaccard", "join_fuzzy_levenshtein"])
def test_seeded_pin_compiles_nothing_the_second_time(spark, op):
    """An unseeded ``shuffle()`` pin drew a new seed at every analysis, and
    the generated code embeds it, so each call compiled its classes again."""
    _compiles(spark, [op], fresh=True)
    assert _compiles(spark, [op], fresh=True) == 0
