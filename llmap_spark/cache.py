"""Session-scoped registry for operator-persisted DataFrames.

Three operators (exact_dedup, minhash_lsh_candidates and the curation
chain in plans/training.py) persist an intermediate frame because
multiple consumers share an expensive subtree. While the plan stays lazy
(minhash_lsh_candidates' default materialize=False, and always for the
other two) the operator cannot know when the caller is done, so
the persisted block would otherwise pin executor storage for the life of
the session — a leak-by-default API in long-lived apps.

Every such persist is registered here; callers release them explicitly:

    from llmap_spark.cache import release_persisted
    ...run queries...
    release_persisted()          # unpersists everything registered

This is narrower than spark.catalog.clearCache() (which would also evict
caches the APPLICATION owns) and makes the lifetime contract visible at
the call site. materialize=True paths unpersist eagerly and never
register.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def register_persisted(df: DataFrame) -> DataFrame:
    """Record an operator-persisted frame for later release; returns it."""
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every registered frame (idempotent; unpersisting an
    already-released frame is a Spark no-op). Returns the count released."""
    n = len(_PERSISTED)
    while _PERSISTED:
        unpersist_quietly(_PERSISTED.pop())
    return n


def unpersist_quietly(df: DataFrame) -> None:
    """Unpersist, ignoring a failure: a stopped session invalidates
    handles, releasing is then moot, and on an error path the original
    exception is the one to surface."""
    try:
        df.unpersist()
    except Exception:
        pass


@contextmanager
def released_on_exit():
    """Unpersist, when the block exits, every frame registered inside it:
    for a caller that has materialized all it needs from those frames
    before the block ends (the curation chain releases its intermediate
    caches once connected components has checkpointed the pairs)."""
    n = len(_PERSISTED)
    try:
        yield
    finally:
        while len(_PERSISTED) > n:
            unpersist_quietly(_PERSISTED.pop())
