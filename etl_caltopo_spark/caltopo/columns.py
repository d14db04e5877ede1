"""Build-once Column expressions for the CalTopo stages.

Every ``F.*`` call and every ``Column`` method is a py4j round trip to
the JVM.  A stage's Columns depend only on the stage's parameters,
not on the DataFrame they are applied to, and a JVM Column is an
immutable, unresolved expression tree that any session may resolve.
So a stage builds its Columns once per process and reuses them; only
the few DataFrame calls that apply them run per pipeline.  At one map
per run that construction was a large share of the run's wall time.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")


def per_gateway(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize a Column builder on its (hashable) arguments and the
    live py4j gateway.  A new gateway means a new JVM, where the old
    handles are meaningless, so the memo starts over; stopping and
    rebuilding a SparkContext keeps the JVM and the memo.
    ``cache_clear()`` forgets every build, as with ``lru_cache``."""
    memo: dict = {}
    gateway = None

    @functools.wraps(build)
    def cached(*args):
        nonlocal gateway
        if gateway is not SparkContext._gateway:
            memo.clear()
            gateway = SparkContext._gateway
        if args not in memo:
            memo[args] = build(*args)
        return memo[args]

    cached.cache_clear = memo.clear
    return cached
