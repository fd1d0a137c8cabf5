"""Invariant tests for the session-4 operator families: the prefix-filter
completeness theorem, Bloom-filter bit-math no-false-negatives, weighted-
median threshold semantics (pure-python mirrors of the engine-portable
math, exhaustively randomized), and the triangle census against a brute-
force enumeration on random graphs (Spark-side, one session)."""

from __future__ import annotations

import hashlib
import itertools
import math
import random

from hypothesis import given, settings, strategies as st


# --------------------------------------------------------------------------
# Prefix-filter (AllPairs) completeness theorem: two sets with
# J(A,B) >= t share their globally smallest common token within BOTH
# prefixes of length |X| - ceil(t|X|) + 1 under any global total order.
# This is the property the Spark candidate join relies on for recall 1.0.
# --------------------------------------------------------------------------

token_sets = st.lists(
    st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=25),
    min_size=2,
    max_size=8,
)


@given(token_sets, st.integers(min_value=5, max_value=9))
@settings(max_examples=300, deadline=None)
def test_prefix_filter_candidates_are_complete(sets, t10):
    t = t10 / 10
    # global order: (df, token) ascending — rarest first, as in the query
    df_count: dict[int, int] = {}
    for s in sets:
        for tok in s:
            df_count[tok] = df_count.get(tok, 0) + 1
    order = lambda tok: (df_count[tok], tok)  # noqa: E731

    def prefix(s):
        n = len(s)
        plen = n - math.ceil(t * n) + 1
        return set(sorted(s, key=order)[:plen])

    for a, b in itertools.combinations(range(len(sets)), 2):
        A, B = sets[a], sets[b]
        inter = len(A & B)
        union = len(A | B)
        if inter / union >= t:
            assert prefix(A) & prefix(B), (
                f"qualifying pair lost by prefix filter: {A} {B} t={t}"
            )


# --------------------------------------------------------------------------
# Bloom-filter portable bit math: python mirror of the EXACT md5 ->
# 60-bit -> mod 65536 -> (p div 63, p mod 63) pipeline both engines run.
# A Bloom filter must never miss a member key.
# --------------------------------------------------------------------------

def _bf_positions(key: int, m_bits: int = 65536, k: int = 3):
    for j in range(k):
        h = int(hashlib.md5(f"bf{j}:{key}".encode()).hexdigest()[:15], 16)
        p = h % m_bits
        yield p // 63, p % 63


def _bf_build(keys, m_bits: int = 65536):
    words: dict[int, int] = {}
    for key in keys:
        for w, b in _bf_positions(key, m_bits):
            words[w] = words.get(w, 0) | (1 << b)
    return words


def _bf_probe(words, key, m_bits: int = 65536) -> bool:
    return all(
        (words.get(w, 0) >> b) & 1 for w, b in _bf_positions(key, m_bits)
    )


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), max_size=300),
    st.lists(st.integers(min_value=0, max_value=10**9), max_size=100),
)
@settings(max_examples=50, deadline=None)
def test_bloom_never_misses_a_member(keys, probes):
    words = _bf_build(keys)
    for key in keys:
        assert _bf_probe(words, key), f"false negative on member {key}"
    # false positives are allowed but must stay rare at this load factor
    fp = sum(1 for p in probes if p not in keys and _bf_probe(words, p))
    assert fp <= max(2, len(probes) // 10)


# --------------------------------------------------------------------------
# Lower weighted median: smallest value whose inclusive cumulative weight
# reaches half the total — the integer threshold test the query uses.
# --------------------------------------------------------------------------

weighted_rows = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),  # value (cents)
        st.integers(min_value=1, max_value=50),  # weight
    ),
    min_size=1,
    max_size=60,
)


@given(weighted_rows)
@settings(max_examples=300, deadline=None)
def test_weighted_median_threshold_semantics(rows):
    agg: dict[int, int] = {}
    for v, w in rows:
        agg[v] = agg.get(v, 0) + w
    tot = sum(agg.values())
    cum = 0
    med = None
    for v in sorted(agg):
        cum += agg[v]
        if 2 * cum >= tot:
            med = v
            break
    # invariant 1: strictly-below mass is under half the total
    below = sum(w for v, w in agg.items() if v < med)
    assert 2 * below < tot
    # invariant 2: mass up to and including the median reaches half
    assert 2 * (below + agg[med]) >= tot
    # invariant 3: the median is an observed value
    assert med in agg


# --------------------------------------------------------------------------
# Triangle census vs brute force on random graphs (Spark side).
# --------------------------------------------------------------------------


def test_triangle_census_matches_brute_force(spark):
    from bigdata_carprice_assignment_spark.operators.graphs import (
        triangle_census,
    )

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(6, 18)
        p = rng.choice([0.15, 0.3, 0.5])
        edges = [
            (u, v)
            for u in range(n)
            for v in range(u + 1, n)
            if rng.random() < p
        ]
        if not edges:
            continue
        adj = {u: set() for u in range(n)}
        for u, v in edges:
            adj[u].add(v)
            adj[v].add(u)
        brute_t = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        nodes = {u for e in edges for u in e}
        brute_w = sum(
            len(adj[u]) * (len(adj[u]) - 1) // 2 for u in nodes
        )
        e_df = spark.createDataFrame(edges, "u long, v long")
        row = triangle_census(e_df).collect()[0]
        assert row["n_triangles"] == brute_t, (trial, n, p, len(edges))
        assert row["n_wedges"] == brute_w
        assert row["n_edges"] == len(edges)
        assert row["n_nodes"] == len(nodes)


# --------------------------------------------------------------------------
# Distributed exact percentile == Spark's buffering `percentile`, on
# random data including ties, at several probabilities (exact doubles).
# --------------------------------------------------------------------------


def test_distributed_percentile_equals_buffered(spark):
    from bigdata_carprice_assignment_spark.operators.aggregates import (
        exact_percentiles_distributed,
    )
    from pyspark.sql import functions as F

    rng = random.Random(11)
    values = [round(rng.uniform(-100, 100), 2) for _ in range(5000)]
    values += rng.choices(values, k=1000)  # inject ties
    df = spark.createDataFrame([(v,) for v in values], "x double")
    probs = [0.0, 0.013, 0.25, 0.5, 0.731, 0.99, 1.0]
    want = df.agg(
        F.expr(
            "percentile(x, array(" + ", ".join(map(str, probs)) + "))"
        ).alias("q")
    ).collect()[0]["q"]
    got = {
        r["p"]: r["value"]
        for r in exact_percentiles_distributed(df, "x", probs).collect()
    }
    for p, w in zip(probs, want):
        assert got[p] == w, (p, got[p], w)


def test_distributed_percentile_with_n_and_empty(spark):
    # r11: `n` rides out of the percentile pass itself (no sibling
    # count() plan re-evaluating the input); empty input keeps the
    # one-NULL-row-per-p contract with n = 0.
    from bigdata_carprice_assignment_spark.operators.aggregates import (
        exact_percentiles_distributed,
    )

    df = spark.createDataFrame([(float(v),) for v in range(17)], "x double")
    rows = exact_percentiles_distributed(
        df, "x", [0.25, 0.5], with_n=True
    ).collect()
    assert [r["p"] for r in rows] == [0.25, 0.5]
    assert all(r["n"] == 17 for r in rows)
    assert rows[1]["value"] == 8.0
    assert dict((f.name, f.dataType.simpleString()) for f in
                exact_percentiles_distributed(df, "x", [0.5], with_n=True).schema.fields)["n"] == "bigint"

    empty = spark.createDataFrame([], "x double")
    erows = exact_percentiles_distributed(
        empty, "x", [0.5, 0.9], with_n=True
    ).collect()
    assert [(r["p"], r["value"], r["n"]) for r in erows] == [
        (0.5, None, 0),
        (0.9, None, 0),
    ]
    # without with_n the public schema is unchanged (p, value)
    assert exact_percentiles_distributed(df, "x", [0.5]).columns == [
        "p",
        "value",
    ]
