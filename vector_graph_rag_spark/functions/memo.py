"""Constant Column trees, built once per JVM gateway.

A Column builder such as ``mock_embedding("text")`` assembles its
Catalyst tree node by node, one py4j round trip per node: about 1,200
for the 8-dim mock embedding and 450 for ``cosine``.  On a request route
that plan-construction cost is paid on every request, before a single
Spark job runs.  The tree depends only on the builder's name and int
arguments, and a Column is an immutable expression that any number of
plans may share, so :func:`gateway_memo` builds it once and hands the
same Column back on later calls.

The memo is keyed on the arguments and checked against the identity of
``SparkContext._gateway``, so a new JVM never receives a Column that
lives in an old one.  It is used only when every argument is hashable:
a Column argument (unhashable), such as a lambda variable inside
``F.transform``, always builds fresh.  Two threads that miss at once
both build; either tree is valid, and the last one stays.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext


def gateway_memo(builder):
    """Memoize a Column builder per JVM gateway (module notes)."""
    cache: dict = {}

    @functools.wraps(builder)
    def memoized(*args, **kwargs):
        key = (args, tuple(sorted(kwargs.items())))
        try:
            hit = cache.get(key)
        except TypeError:  # an unhashable (Column) argument
            return builder(*args, **kwargs)
        gateway = SparkContext._gateway
        if hit is not None and hit[0] is gateway:
            return hit[1]
        built = builder(*args, **kwargs)
        cache[key] = (gateway, built)
        return built

    return memoized
