"""Window-function operators and join shapes built on them (engine
extensions beyond the reference's single argmax window — SURVEY.md §2.5
T4 note; the driver corpus exercises the full family).

Scale notes: every window here partitions by a natural key (customer,
user) — state per partition is bounded by that key's row count; no
global unpartitioned windows on data-sized inputs (those serialize to a
single task). The as-of join is the union-tag algorithm: one shuffle on
the partition key, one ordered window pass — the scalable alternative to
a per-group merge_asof."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_total(
    df: DataFrame, part: str, order: str, value: str, tiebreak: str
) -> DataFrame:
    w = (
        Window.partitionBy(part)
        .orderBy(F.asc(order), F.asc(tiebreak))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("running_total", F.sum(value).over(w))


def range_partitioned_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_ranges: int = 32,
    with_part: bool = False,
):
    """Globally-ordered cumulative sums WITHOUT a global single-task
    window — the 100 TB-safe replacement for
    ``Window.orderBy(...)`` with no partition spec.

    Two passes over one range exchange:
    1. ``repartitionByRange(order_cols)`` puts each key range in its own
       partition (equal keys co-located, partition ids monotone in key);
       an intra-partition window computes local prefix sums in parallel.
    2. Per-partition totals (``num_ranges`` rows) are prefix-summed into
       offsets on a bounded aggregate and broadcast-joined back.

    cum = local prefix + partition offset, exactly the global ordered
    cumsum. Emits ``cum_<c>`` for each ``c`` in ``sum_cols``; input
    column types are preserved (sum(long) stays long).

    ``with_part=True`` returns ``(result, part)`` where ``part`` is the
    PINNED range-partitioned input (r11): callers that also need totals
    over the input (n, group sums) aggregate the cached ``part`` in one
    flat scan instead of either re-evaluating the whole upstream (the
    pre-r11 defect) or re-executing the window+offset-join subtree.

    CORRECTNESS-CRITICAL: the partitioned table is materialized ONCE
    before fan-out. Range partitioning derives its boundaries from a
    RANDOM SAMPLE seeded per exchange instance, and column pruning
    gives the two consumers (local cumsums / partition totals)
    *different* exchange subtrees — so without a barrier each branch
    samples its own boundaries and the same row can carry different
    ``_pid`` in the two branches, silently corrupting the offsets
    (observed at sf0.1: a whole partition's counts vanished from the
    cumulative). One eager persist pins one boundary set; a cache
    eviction stays safe because lineage recompute re-reads the SAME
    shuffle files (boundaries are fixed at shuffle-write time).
    """
    from ..plans.materialize import pinned

    # LRU pool family: one fixed pool name would make the SECOND cumsum
    # in a single query plan (Spearman ranks both variables, Kruskal
    # ranks + ties) evict the first's blocks mid-plan, forcing a
    # recompute of that branch from shuffle files. keep=4 holds the 4
    # most recent generations, so a pin is only ever evicted by age.
    part = pinned(
        df.repartitionByRange(
            num_ranges, *[F.asc(c) for c in order_cols]
        ).withColumn("_pid", F.spark_partition_id()),
        "range_cumsum_part",
        keep=4,
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*[F.asc(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = part.select(
        "*", *[F.sum(c).over(w_in).alias(f"_wcum_{c}") for c in sum_cols]
    )
    ptot = part.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_pt_{c}") for c in sum_cols]
    )
    # Offsets = exclusive prefix sum over the num_ranges-row totals.
    # A constant-keyed window would compute it, but Catalyst folds the
    # constant away and the physical WindowExec runs partitionless (and
    # logs "No Partition Defined" into every bench run) — a triangle
    # broadcast join over the bounded totals (≤ num_ranges² pairs)
    # computes the identical exclusive sum with no window at all.
    ptot_b = ptot.select(
        F.col("_pid").alias("_bpid"),
        *[F.col(f"_pt_{c}").alias(f"_bpt_{c}") for c in sum_cols],
    )
    off = (
        ptot.join(F.broadcast(ptot_b), F.col("_bpid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            *[
                F.coalesce(F.sum(f"_bpt_{c}"), F.lit(0)).alias(f"_off_{c}")
                for c in sum_cols
            ]
        )
    )
    out = within.join(F.broadcast(off), "_pid").select(
        *df.columns,
        *[
            (F.col(f"_wcum_{c}") + F.col(f"_off_{c}")).alias(f"cum_{c}")
            for c in sum_cols
        ],
    )
    if with_part:
        return out, part
    return out


def range_partitioned_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_tiles: int,
    num_ranges: int = 32,
) -> DataFrame:
    """``ntile(n)`` over a global ordering without the single-task global
    sort: global rank via :func:`range_partitioned_cumsum` of ones, then
    the exact ntile bucket formula (first ``n mod n_tiles`` buckets get
    ``ceil(n/n_tiles)`` rows). ``order_cols`` must be a total order
    (include a unique tiebreak) for cross-engine determinism. Adds
    column ``tile`` (long)."""
    d0 = df.withColumn("_one", F.lit(1).cast("long"))
    ranked, part = range_partitioned_cumsum(
        d0, order_cols, ["_one"], num_ranges, with_part=True
    )
    # total row count = one flat aggregate over the PINNED partitioned
    # input; ``df.agg(count)`` was a second full evaluation of the
    # (possibly expensive) input plan (r11, guide §1.2). coalesce keeps
    # the empty-input value at 0 exactly like count().
    tot = part.agg(
        F.coalesce(F.sum("_one"), F.lit(0)).cast("long").alias("_n")
    )
    r = ranked.crossJoin(F.broadcast(tot))
    q = F.floor(F.col("_n") / n_tiles)
    rem = F.col("_n") % n_tiles
    threshold = rem * (q + 1)
    rank = F.col("cum__one")
    tile = F.when(rank <= threshold, F.ceil(rank / (q + 1))).otherwise(
        rem + F.ceil((rank - threshold) / q)
    )
    return r.select(*df.columns, tile.cast("long").alias("tile"))


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Backward as-of join: for each left row, attach the most recent
    right row (same ``on`` key) with right_ts <= left_ts.

    Union-tag algorithm: tag both sides, union on (key, ts), sort within
    key by (ts, right-first), carry the last-seen right values forward
    with ``last(ignorenulls)`` over an ordered window, keep left rows.
    One shuffle on the key — no per-pair range explosion, no Python.
    """
    lt = left.withColumn("_side", F.lit(1)).withColumn("_ts", F.col(left_ts))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        )
        .withColumn("_side", F.lit(0))
    )
    lt_cols = [c for c in lt.columns if c not in ("_side", "_ts")]
    combined = lt.select(
        *lt_cols,
        "_side",
        "_ts",
        *[F.lit(None).cast(rt.schema[f"_r_{c}"].dataType).alias(f"_r_{c}") for c in right_cols],
    ).unionByName(
        rt.select(
            *[F.lit(None).cast(lt.schema[c].dataType).alias(c) for c in lt_cols if c != on],
            F.col(on),
            "_side",
            "_ts",
            *[F.col(f"_r_{c}") for c in right_cols],
        )
    )
    # right rows sort before left rows at equal ts (backward = inclusive)
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc("_ts"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = combined.select(
        *[c for c in combined.columns if not c.startswith("_r_")],
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    return filled.filter(F.col("_side") == 1).drop("_side", "_ts")


def gap_filled_hourly_counts(
    df: DataFrame, ts_col: str, value_col: str | None = None
) -> DataFrame:
    """Hypertable-style rollup: hourly counts with missing hours
    zero-filled. The hour spine is generated distributed (sequence +
    explode over the observed min/max — 2 scalars to the driver)."""
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 2).alias("total_value"))
    actual = df.groupBy(F.date_trunc("hour", ts_col).alias("hour")).agg(*aggs)
    out = spine.join(actual, "hour", "left").fillna({"n": 0})
    if value_col:
        out = out.fillna({"total_value": 0.0})
    return out


def range_partitioned_rank(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rank",
    num_ranges: int = 32,
) -> DataFrame:
    """Global ``row_number`` over a TOTAL order (caller supplies the
    tiebreak column) without a global single-task window: the rank of a
    row is the globally-ordered cumulative count of ones, which
    :func:`range_partitioned_cumsum` computes on the parallel
    range-partitioned two-pass plan. For descending keys, pass a negated
    column. 100 TB-safe replacement for ``row_number().over(orderBy(...))``
    with no partition spec."""
    d = df.withColumn("_one", F.lit(1).cast("long"))
    cum = range_partitioned_cumsum(d, order_cols, ["_one"], num_ranges)
    return cum.withColumn(out, F.col("cum__one")).drop("_one", "cum__one")
