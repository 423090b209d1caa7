"""bench.py contract: every headline name resolves, and the measuring
action is the honest full-materialization one (r7 verdict, What's wrong
#1 — `.count()` let Catalyst prune cardinality-preserving tails)."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_source() -> str:
    with open(os.path.join(REPO, "bench.py")) as f:
        return f.read()


def _bench_module():
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_headline_names_all_registered():
    from vector_graph_rag_spark.queries import load_all

    mod = _bench_module()
    registry = load_all(include_retired=True)
    missing = [n for n in mod.HEADLINE if n not in registry]
    assert not missing, missing
    assert len(mod.HEADLINE) == len(set(mod.HEADLINE))  # no double-timing


def test_every_retired_query_is_benched():
    """A retired query is off the driver surface; the headline is the only
    thing left that runs it.  One that no headline row times is dead code
    with an oracle and a parity run attached: delete it instead."""
    from vector_graph_rag_spark.queries import RETIRED, load_all

    load_all(include_retired=True)
    unbenched = sorted(set(RETIRED) - set(_bench_module().HEADLINE))
    assert not unbenched, unbenched


def test_bench_defaults_to_noop_materialization():
    """The default action must stay the noop write + Observation — a
    regression to `.count()` silently reopens the count-pruning hole
    (SCALE.md §Round-8 re-baseline)."""
    src = _bench_source()
    assert 'os.environ.get("SPARK_GRAFT_BENCH_ACTION", "noop")' in src
    assert 'format(\n                    "noop"\n                )' in src or '"noop"' in src
    # the GC between timed runs must stay too (block-manager pollution —
    # measured 12.6 -> 47.6s same-query swings without it)
    assert "System.gc()" in src


def test_bench_source_parses_and_has_json_contract():
    tree = ast.parse(_bench_source())
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert "HEADLINE" in names
