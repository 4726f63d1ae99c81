"""Query-scoped cache: the one lifecycle for engine intermediates.

Operators and plans persist a frame that several branches of one query
read (a signature table, a pair graph, a fanned-out input) with
:func:`persist`. Every frame persisted that way lives until the next
:func:`release`, and ``plans.registry.register`` calls :func:`release`
at the START of every registered query. So the driver's one-session
run of all queries, bench.py's samples and the tests hold at most one
query's intermediates at a time, and a re-run of a query recomputes
what it persisted instead of reading the previous run's cache.

A query never releases at its own end: the frame it returns is lazy,
and the caller's action still reads those intermediates. An early
release is always safe, only possibly slower: Spark recomputes an
unpersisted frame from its lineage on the next use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (default storage level) until the next release."""
    df = df.persist()
    _LIVE.append(df)
    return df


def release() -> None:
    """Unpersist every frame persisted since the last release."""
    while _LIVE:
        _LIVE.pop().unpersist()
