"""Declared-query registry — the SURVEY §2 coverage surface.

Every implemented operator is declared here as a named query:
- a Spark callable ``(spark, sf_dir) -> DataFrame`` (the implementation), and
- an equivalent ANSI-SQL string for the DuckDB oracle (or None for
  genuinely non-SQL-expressible ops → rows-only check).

Determinism rules (FIXTURES.md §3) apply to every entry: deterministic ids,
explicit tie-breaks, decimal-exact aggregation for doubles, no raw
timestamps in outputs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class DeclaredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


REGISTRY: dict[str, DeclaredQuery] = {}

# Queries off the driver surface that bench.py still times: every RETIRED
# name is a ``bench.HEADLINE`` row (tests/test_bench_contract.py pins
# this).  They keep their DuckDB oracle and their local parity test
# (tests/test_oracle_parity.py runs over ``load_all(include_retired=True)``).
# A query that leaves the driver surface and the headline is deleted, not
# retired.  COVERAGE.md §"retired queries" maps each retiree to the
# registered query that covers it.
RETIRED: dict[str, DeclaredQuery] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    retired: bool = False,
):
    def deco(fn):
        # The driver-window export prefixes priority keys with "a_" and the
        # history parser strips that prefix; a registered name that itself
        # starts with "a_" would be mis-stripped and could collide with a
        # windowed key of the unprefixed name.  Forbid it at load time.
        if name.startswith("a_"):
            raise ValueError(
                f"query name {name!r} must not start with 'a_' (reserved for "
                "the driver-window sort prefix in __spark_entry__)"
            )
        target = RETIRED if retired else REGISTRY
        target[name] = DeclaredQuery(name=name, fn=fn, oracle=oracle, description=description)
        return fn

    return deco


def load_all(include_retired: bool = False) -> dict[str, DeclaredQuery]:
    """Import every query module (side-effect: registration) and return the
    registry.  ``include_retired=True`` adds the rotated-out queries (local
    tests and bench history; never the driver surface)."""
    from vector_graph_rag_spark.queries import (  # noqa: F401
        relational,
        graphrag,
        vector,
        dedup,
        textstats,
        streaming,
        composites,
        extended,
        analytics,
        sampling,
        timeseries,
        ranking,
        hybrid,
        curation,
        lmfilter,
        pipeline,
        search_api,
    )

    if include_retired:
        return {**REGISTRY, **RETIRED}
    return REGISTRY
