"""The artifact cache and scoped conf overrides in ``plans/materialize``:
config-keyed reuse, generation eviction, conf restore, and the rule that
no query leaves the session conf changed."""

from __future__ import annotations

import random

import pytest

from bigdata_carprice_assignment_spark.plans import materialize as M


def _is_cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_cached_keys_on_kind_source_and_config(spark):
    builds = []

    def build(n):
        def go():
            builds.append(n)
            return spark.range(n)

        return go

    a = M.cached(spark, "unit_kind", "src", build(3), width=1)
    assert M.cached(spark, "unit_kind", "src", build(3), width=1) is a
    b = M.cached(spark, "unit_kind", "src", build(4), width=2)
    c = M.cached(spark, "unit_kind", "other_src", build(5), width=1)
    assert builds == [3, 4, 5]
    assert (a.count(), b.count(), c.count()) == (3, 4, 5)
    # entries under different configs or sources are all live at once
    assert all(_is_cached(df) for df in (a, b, c))
    assert M.cached(spark, "unit_kind", "src", None, width=1) is a
    assert M.cached(spark, "unit_kind", "src", None, width=3) is None
    M.release_all()
    assert not _is_cached(a)
    assert M.cached(spark, "unit_kind", "src", None, width=1) is None


def test_cached_driver_values_and_tuples(spark):
    calls = []

    def count():
        calls.append(1)
        return 7

    assert M.cached(spark, "unit_count", "src", count) == 7
    assert M.cached(spark, "unit_count", "src", count) == 7
    assert len(calls) == 1
    model, df = M.cached(
        spark, "unit_pair", "src", lambda: ({"centroids": [1.0]}, spark.range(2))
    )
    assert model == {"centroids": [1.0]} and _is_cached(df)
    assert M.cached(spark, "unit_pair", "src", None)[1] is df
    M.release_all()
    assert not _is_cached(df)


def test_cached_without_source_rebuilds_and_frees_previous(spark):
    first = M.cached(spark, "unit_barrier", None, lambda: spark.range(3))
    second = M.cached(spark, "unit_barrier", None, lambda: spark.range(4))
    assert first is not second
    assert not _is_cached(first) and _is_cached(second)
    M.release_all()


def test_pinned_keep_evicts_oldest_generation(spark):
    gens = [M.pinned(spark.range(i + 1), "unit_family", keep=2) for i in range(3)]
    assert [_is_cached(g) for g in gens] == [False, True, True]
    assert M.pool_get("unit_family", spark) is gens[-1]
    M.release_all()


def test_scoped_conf_restores_set_and_unset_keys(spark):
    key_set = "spark.sql.shuffle.partitions"
    key_unset = "spark.graft.test.scoped_conf"
    before = spark.conf.get(key_set)
    assert spark.conf.get(key_unset, None) is None
    with M.scoped_conf(spark, {key_set: "3", key_unset: "x"}):
        assert spark.conf.get(key_set) == "3"
        assert spark.conf.get(key_unset) == "x"
    assert spark.conf.get(key_set) == before
    assert spark.conf.get(key_unset, None) is None
    with pytest.raises(RuntimeError):
        with M.scoped_conf(spark, {key_set: "5", key_unset: "y"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(key_set) == before
    assert spark.conf.get(key_unset, None) is None


def test_minhash_band_pairs_source_keys_on_band_config(spark):
    """Two banding configs over one signature source must each get their
    own banded table: a cache keyed by the source alone would hand the
    second call the first call's 8-band table."""
    from bigdata_carprice_assignment_spark.llm.dedup import minhash_band_pairs
    from pyspark.sql import functions as F

    rng = random.Random(12)
    rows = [(i, [rng.randrange(3) for _ in range(64)]) for i in range(40)]
    sigs64 = spark.createDataFrame(rows, "doc_id long, signature array<long>")
    sigs32 = sigs64.select("doc_id", F.slice("signature", 1, 32).alias("signature"))

    def pairs(sigs, **kw):
        return {tuple(r) for r in minhash_band_pairs(sigs, "doc_id", **kw).collect()}

    want8 = pairs(sigs32, bands=8, num_hashes=32)
    want16 = pairs(sigs64, bands=16, num_hashes=64)
    assert want8 != want16  # the two configs must be told apart
    source = "unit_sig_source"
    assert pairs(sigs32, bands=8, num_hashes=32, source=source) == want8
    assert pairs(sigs64, bands=16, num_hashes=64, source=source) == want16
    M.release_all()


@pytest.mark.parametrize(
    "name",
    [
        "copurchase_pagerank_top20",
        "copurchase_kcore_peel_trace",
        "copurchase_bfs_hop_histogram",
        "streaming_sliding_rollup_replay",
    ],
)
def test_query_leaves_session_conf_unchanged(spark, sf_smoke, name):
    from bigdata_carprice_assignment_spark import registry
    from bigdata_carprice_assignment_spark.sources.readers import load_table

    # Reading the events table sets spark.sql.legacy.parquet.nanosAsLong
    # for the session on purpose: the returned DataFrame is lazy, so the
    # flag must still hold when it executes. Read it first so this test
    # checks only what the query itself changes.
    load_table(spark, sf_smoke, "events")
    registry.load_all()
    before = dict(spark.conf.getAll)
    rows = registry.QUERIES[name](spark, sf_smoke).collect()
    assert rows
    assert dict(spark.conf.getAll) == before
