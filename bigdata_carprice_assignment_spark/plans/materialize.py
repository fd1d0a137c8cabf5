"""The owner of cross-query session state: pooled artifacts and scoped
conf overrides.

``DataFrame.localCheckpoint`` truncates lineage and pins RDD blocks
until the JVM garbage-collects the RDD — on a long-lived session (bench
warm runs, any shared cluster app) repeated index builds accumulate
blocks, and each run gets slower (round-2 bench: the ANN queries' warm
runs were 1.5× their cold time). :func:`pinned` uses ``persist``
instead: the plan stays recomputable, so unpersisting is always safe,
and each pool frees its oldest generation the moment a new build
starts — steady-state block usage is ``keep`` generations per pool.

:func:`cached` is the cross-query artifact cache built on the two
primitives :func:`pinned` and :func:`pool_get`: its key is (kind,
source, config), so an artifact built for one config can never be
served to a caller asking for another. :func:`scoped_conf` is the one
way to override a session conf for the duration of a block.
"""

from __future__ import annotations

import logging
from collections import deque
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

# pool key -> live generations, oldest first; each is (session, value)
_POOLS: dict[object, deque] = {}


def _make_room(pool, keep: int) -> deque:
    """``pool``'s generations after freeing all but the newest
    ``keep - 1``. Freeing comes BEFORE the new build is persisted: a
    rebuild of the same plan would otherwise find the old generation's
    cache entry, reuse it, and then lose it to the unpersist."""
    gens = _POOLS.setdefault(pool, deque())
    while len(gens) >= keep:
        # Age-based eviction is the designed steady-state bound (one new
        # generation in, the oldest out). If a single composed plan holds
        # more than ``keep`` live generations the oldest branch recomputes
        # from lineage — slower, never wrong.
        _, old = gens.popleft()
        _LOG.debug("pool %r evicting a generation (keep=%d)", pool, keep)
        if isinstance(old, DataFrame):
            old.unpersist(blocking=False)
    return gens


def pinned(df: DataFrame, pool, eager: bool = True, keep: int = 1) -> DataFrame:
    """``persist()`` ``df`` as the newest generation of ``pool``, freeing
    the oldest once ``keep`` generations are live.

    Safe by construction: persist keeps lineage, so if an old result is
    somehow re-collected after its blocks were freed it recomputes
    (slower, never wrong) — the failure mode ``localCheckpoint`` would
    turn into a missing-block error. ``eager`` materializes the blocks
    with one ``count()`` so downstream branches of the SAME job (e.g. a
    self-join) read the cache instead of racing to compute the upstream
    tree twice. ``keep > 1`` is for helpers that a single composed plan
    may call several times (two cumsums in one Spearman): each call's
    generation stays live until ``keep`` newer ones exist, so a later
    call never evicts an earlier one mid-plan."""
    gens = _make_room(pool, keep)
    out = df.persist()
    gens.append((df.sparkSession, out))
    if eager:
        out.count()
    return out


def pool_get(pool, spark):
    """Return ``pool``'s newest generation if it belongs to ``spark``,
    else None — the session-identity check guards against handing out a
    DataFrame whose SparkSession was stopped (tests spin sessions up and
    down in one process)."""
    gens = _POOLS.get(pool)
    if gens and gens[-1][0] is spark:
        return gens[-1][1]
    return None


def cached(spark, kind: str, source, build, eager: bool = True, **config):
    """The artifact ``build()`` makes from the immutable input ``source``
    (e.g. a corpus path), computed once per session and reused across
    queries.

    The key is (``kind``, ``source``, ``config``): ``kind`` is a fixed
    name inside the calling helper and ``config`` holds every parameter
    that shapes the artifact (bands, widths, partition counts), so two
    calls that differ in any of them never share an entry. A DataFrame
    artifact is :func:`pinned` (``eager`` as there); a tuple has each of
    its DataFrames pinned; any other value (a count, a model, a path) is
    held as is. A rebuild under the same key frees the previous one.

    ``source=None`` means the input has no stable identity: nothing is
    reused, and a DataFrame artifact is pinned as a per-call barrier
    (one live generation per kind). ``build=None`` only looks up: it
    returns the live entry, or None."""
    if source is None:
        key = (kind,)
    else:
        key = (kind, source, *sorted(config.items()))
        hit = pool_get(key, spark)
        if hit is not None or build is None:
            return hit
    value = build()
    if isinstance(value, DataFrame):
        return pinned(value, key, eager=eager)
    if isinstance(value, tuple):
        value = tuple(
            pinned(v, (*key, i), eager=eager) if isinstance(v, DataFrame) else v
            for i, v in enumerate(value)
        )
    _make_room(key, 1).append((spark, value))
    return value


def release_all() -> None:
    """Unpersist every pool (test teardown / session shutdown)."""
    for gens in _POOLS.values():
        for _, value in gens:
            if isinstance(value, DataFrame):
                value.unpersist(blocking=False)
    _POOLS.clear()


@contextmanager
def scoped_conf(spark, overrides: dict[str, str]):
    """Set each session conf in ``overrides`` for the duration of the
    block; on exit (normal or raised) restore the previous value, or
    unset a key that was unset before."""
    prev = {key: spark.conf.get(key, None) for key in overrides}
    for key, value in overrides.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
