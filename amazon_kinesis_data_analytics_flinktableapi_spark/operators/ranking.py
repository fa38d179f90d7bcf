"""Global ordering without a global bottleneck.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses the
whole dataset into ONE task (Catalyst plans ``Exchange SinglePartition``) —
the canonical 100 TB anti-pattern.  ``global_row_number`` produces the
identical ranking with distributed work: range-partition on the sort key,
rank locally, then add each partition's global offset (a partition-count
table of ``n_partitions`` rows, computed in one tiny aggregation).

The output is deterministic even though range boundaries are sampled:
offset + local rank == global rank for ANY boundary placement, provided
the sort key is a total order (callers must include a unique tie-break).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    id_name: str = "global_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Contiguous 1-based global rank by ``order_by`` (must be a total
    order), computed without ever shuffling to a single partition.

    Scale shape: one range-repartition shuffle (sampled boundaries), one
    per-partition sort (the window below never crosses partitions), and a
    driver-side offset table of exactly ``n_partitions`` rows — the only
    data that leaves the executors.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint (NOT cache) is REQUIRED for correctness, not speed:
    # repartitionByRange samples its boundaries per execution, and cached
    # blocks are best-effort — an evicted/lost block would silently
    # recompute with re-sampled boundaries and different partition ids,
    # corrupting ranks.  Checkpointing truncates lineage so recompute is
    # impossible: a lost block fails the job loudly instead.  (On a real
    # cluster prefer reliable ``checkpoint()`` or writing the ranged
    # intermediate out — the invariant is ONE pinned materialization.)
    ranged = (
        df.repartitionByRange(n, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # n_partitions rows — bounded by the partition count, never by |df|
    counts = sorted(
        ranged.groupBy("__pid").count().collect(), key=lambda r: r["__pid"]
    )
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["__pid"]] = acc
        acc += r["count"]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(p, o) for p, o in offsets.items()], "__pid int, __offset long"
        )
    )
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        ranged.join(off_df, "__pid")
        .select(
            *[c for c in df.columns],
            (F.row_number().over(w) + F.col("__offset")).alias(id_name),
        )
    )


def global_running_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    sum_name: str = "running_sum",
    num_partitions: int | None = None,
    row_number_name: str | None = None,
) -> DataFrame:
    """End-inclusive global running sum of ``value_col`` in ``order_by``
    order (must be a total order), without ``Exchange SinglePartition``.

    Same shape as :func:`global_row_number`: range-partition on the sort
    key, per-partition prefix sums (a window that never crosses
    partitions), plus a broadcast offset table of per-partition totals —
    ``n_partitions`` rows is all that reaches the driver.  Requires an
    integer-typed ``value_col``: integer partial sums are associative and
    exact, so the result is bit-identical for ANY boundary placement
    (float partials would make the offsets order-dependent).

    ``row_number_name``: also emit the global row number in the same
    order, for free — the per-partition row COUNTS ride the same offset
    collect and the same window pass, saving callers that need both
    (e.g. water-filling's rank-indexed prefix sums) a second range
    shuffle + checkpoint through :func:`global_row_number`.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint REQUIRED for correctness (see global_row_number):
    # boundaries are sampled per execution; offsets and prefix sums must
    # see the SAME pinned partitioning, and cache() can't guarantee that.
    ranged = (
        df.repartitionByRange(n, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = sorted(
        ranged.groupBy("__pid")
        .agg(F.sum(value_col).alias("__s"), F.count(F.lit(1)).alias("__cnt"))
        .collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc, racc = {}, 0, 0
    for r in totals:
        offsets[r["__pid"]] = (acc, racc)
        # a partition whose values are all NULL sums to NULL (SQL sum
        # ignores NULLs) — it contributes 0, not a driver TypeError
        acc += r["__s"] or 0
        racc += r["__cnt"]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(p, o, ro) for p, (o, ro) in offsets.items()],
            "__pid int, __offset long, __row_offset long",
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    extra = (
        []
        if row_number_name is None
        else [
            (F.row_number().over(Window.partitionBy("__pid").orderBy(*order_by))
             + F.col("__row_offset")).alias(row_number_name)
        ]
    )
    return (
        ranged.join(off_df, "__pid")
        .select(
            *[c for c in df.columns],
            (F.sum(value_col).over(w) + F.col("__offset")).alias(sum_name),
            *extra,
        )
    )


#: grouped_kth_select histogram width per refinement level
GROUPED_KTH_B = 1024


def grouped_kth_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
    id_col: str = "event_id",
    p: float = 0.5,
    B: int = GROUPED_KTH_B,
) -> DataFrame:
    """Exact per-group k-th order statistic (k = max(1, ceil(p·n_g)) —
    p=0.5 is the lower median) with NO per-group value buffer and NO
    driver-side collects at all (VERDICT r13 #5).

    The scale problem it replaces: ``F.percentile`` buffers every value
    of a group in one task's memory — fine for a handful of groups,
    wrong at a high-cardinality group key (10^6 groups × 10^6 values).
    ``exact_median_select``'s two-level histogram refinement
    (queries/advanced.py) narrows k through driver-collected histograms,
    which per-group would collect |groups|·B rows — also wrong.  This
    operator keeps the SAME two-level narrowing fully distributed:

    1. one groupBy computes (n, lo, hi, k) per group; an equi join hangs
       them on every row (broadcast under AQE when groups are few,
       shuffle join otherwise — either way keyed on the group, never
       collected),
    2. level-1: B-bucket histogram per group (groupBy group+bucket,
       map-side combined), per-group running count via a window
       PARTITIONED BY group (no SinglePartition), the winning bucket is
       the first with cumulative ≥ k; rows outside it are dropped by an
       equi join on (group, bucket) — survivors ≈ n_g/B,
    3. level-2: the same narrowing on a B²-cell grid restricted to the
       winner — survivors ≈ n_g/B²,
    4. a row_number window (partitioned by group, ordered by value +
       ``id_col`` tie-break) ranks the survivors; rank == the narrowed
       k-local picks the answer row exactly.

    Every shuffle is keyed on the group (+bucket); window partitions are
    per group; survivor counts shrink 10^3× per level, so even a
    10^9-row group ranks ~10^3 rows in step 4.  Non-finite values are
    excluded up front (NaN buckets would silently drop rows — and ±inf
    degenerates (value-lo)/(hi-lo) into NaN/0 bucket ids, misplacing or
    dropping rows while a SQL oracle ranks infinities normally; ADVICE
    r13).  Ties break on ``id_col``: fully deterministic output
    (group_cols…, id_col, value_col, k).

    Thin delegation to :func:`grouped_kth_select_multi` with one
    percentile (the ``p`` output column dropped), so the single- and
    multi-p paths physically cannot drift."""
    return grouped_kth_select_multi(
        df, group_cols, value_col=value_col, id_col=id_col, ps=[p], B=B
    ).drop("p")


def grouped_kth_select_multi(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
    id_col: str = "event_id",
    ps: list[float] = (0.25, 0.5, 0.75),
    B: int = GROUPED_KTH_B,
) -> DataFrame:
    """Several exact per-group order statistics from ONE shared level-1
    histogram pass: the fact table is scanned the same number of times
    whether the caller asks for one percentile or nine.

    Fusion point: the level-1 histogram (group × bucket counts) does not
    depend on k, so every percentile's winning bucket is read off the
    SAME per-group cumulative counts — only the per-(group, p) winner
    join and everything downstream (level-2 refinement on ~n_g/B
    survivors, final ranking on ~n_g/B²) fan out per percentile.  A row
    landing in two percentiles' winning buckets is duplicated at that
    point, tagged with its ``p`` — each (group, p) then narrows
    independently with (group, p) as the effective key, preserving the
    single-p algorithm exactly (pinned by the thin delegation from
    :func:`grouped_kth_select` + its property test).

    Output: (group_cols…, p, id_col, value_col, k) — one row per
    (group, p), k = max(1, ceil(p·n_g))."""
    ps = list(ps)
    if not ps:
        raise ValueError("ps must name at least one percentile")
    if len(set(ps)) != len(ps):
        raise ValueError(f"ps must be distinct, got {ps}")
    for p in ps:
        if not 0.0 < p <= 1.0:
            raise ValueError(f"p must be in (0, 1], got {p}")
    g = list(group_cols)
    inf = float("inf")
    v = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(value_col)
        & (F.abs(F.col(value_col)) != F.lit(inf))
    ).select(*g, id_col, value_col)
    stats = v.groupBy(*g).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
    )
    # one (group, p, k) row per requested percentile — a |groups|·|ps|
    # table, still keyed on the group
    ks = stats.select(
        *g,
        "__n",
        F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("__p"),
    ).select(
        *g,
        "__p",
        F.greatest(
            F.lit(1).cast("long"), F.ceil(F.col("__n") * F.col("__p")).cast("long")
        ).alias("__k"),
    )
    rows = v.join(stats.select(*g, "__lo", "__hi"), g)

    def bucket(width: int):
        span = F.col("__hi") - F.col("__lo")
        return F.when(span == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.floor((F.col(value_col) - F.col("__lo")) / span * width),
                F.lit(width - 1),
            ).cast("long")
        )

    # level 1: ONE histogram per group (k-independent — the fusion point),
    # winners read off the shared cumulative counts per (group, p)
    hist1 = (
        rows.select(*g, "__lo", "__hi", bucket(B).alias("__b"))
        .groupBy(*g, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w1 = (
        Window.partitionBy(*g)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    win1 = (
        hist1.select(*g, "__b", "__c", F.sum("__c").over(w1).alias("__cum"))
        .join(ks.select(*g, "__p", F.col("__k").alias("__kk")), g)
        .filter((F.col("__cum") >= F.col("__kk")) & (F.col("__cum") - F.col("__c") < F.col("__kk")))
        .select(
            *g,
            "__p",
            F.col("__b").alias("__b_win"),
            (F.col("__kk") - (F.col("__cum") - F.col("__c"))).alias("__k_local"),
        )
    )
    lvl1 = (
        rows.withColumn("__b", bucket(B))
        .join(win1, g)
        .filter(F.col("__b") == F.col("__b_win"))
        .drop("__b", "__b_win")
    )
    # level 2: survivors carry __p — (group, p) is the key from here on
    gp = [*g, "__p"]
    hist2 = (
        lvl1.select(*gp, "__lo", "__hi", F.col("__k_local").alias("__kk"), bucket(B * B).alias("__b"))
        .groupBy(*gp, "__kk", "__b")  # __kk rides as a key (per-(g,p) constant)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w2 = (
        Window.partitionBy(*gp)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    win2 = (
        hist2.select(*gp, "__kk", "__b", "__c", F.sum("__c").over(w2).alias("__cum"))
        .filter((F.col("__cum") >= F.col("__kk")) & (F.col("__cum") - F.col("__c") < F.col("__kk")))
        .select(
            *gp,
            F.col("__b").alias("__b_win"),
            (F.col("__kk") - (F.col("__cum") - F.col("__c"))).alias("__k2"),
        )
    )
    lvl2 = (
        lvl1.withColumn("__b", bucket(B * B))
        .join(win2, gp)
        .filter(F.col("__b") == F.col("__b_win"))
    )
    rank_w = Window.partitionBy(*gp).orderBy(value_col, id_col)
    return (
        lvl2.select(*gp, id_col, value_col, "__k2", F.row_number().over(rank_w).alias("__rn"))
        .filter(F.col("__rn") == F.col("__k2"))
        .join(ks, gp)
        .select(*g, F.col("__p").alias("p"), id_col, value_col, F.col("__k").alias("k"))
    )


def waterfill_allocation(
    counts: DataFrame,
    key_cols: list[str],
    count_col: str = "token_count",
    budget: int = 0,
) -> DataFrame:
    """Water-filling budget allocation: the integer level ``t`` =
    max t with Σ min(c_d, t) ≤ budget (capped at max(c) when everything
    fits), and each key's allocation min(c_d, t).

    The training-data use: per-domain token caps — a global token budget
    spread so no domain exceeds the common level, small domains keep
    everything, and the big-head domains absorb the squeeze (the
    proportional-fairness shape data-mixing recipes want; temperature
    sampling is the smooth cousin, this is the hard-cap one).

    Scale: the input is already the per-key aggregate (|keys| rows, not
    the corpus), but |keys| can be millions of domains, so nothing here
    may single-partition or collect it.  Rank-indexed prefix sums come
    from ONE :func:`global_running_sum` pass (range-partition +
    broadcast offsets; ``row_number_name`` rides the same window).  For
    keys ascending by count, S(c_i) = P_i + (m−i)·c_i — the total if the
    level were c_i — is nondecreasing in i, so the feasible set
    {S(c_i) ≤ budget} is a prefix and TWO scalar aggregates (max rn,
    max P over it) pin the level segment; t = ⌊(budget − P_i*)/(m − i*)⌋.
    The two 1-row aggregates broadcast back onto the key table — total
    driver traffic is the offset table, same as every ranking op here.

    Ties and NULL keys order (count ASC, key ASC NULLS FIRST) — callers'
    SQL twins must pin NULLS FIRST explicitly (DuckDB defaults LAST).
    Output: (key_cols…, count_col, alloc_tokens, water_level)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    g = list(key_cols)
    order = [F.asc(count_col)] + [F.asc_nulls_first(k) for k in g]
    ranked = global_running_sum(
        counts.select(*g, count_col),
        order_by=order,
        value_col=count_col,
        sum_name="__P",
        row_number_name="__rn",
    )
    tot = counts.agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum(count_col).alias("__total"),
        F.max(count_col).alias("__cmax"),
    )
    feas = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            F.col("__P") + (F.col("__m") - F.col("__rn")) * F.col(count_col)
            <= F.lit(budget)
        )
        .agg(F.max("__rn").alias("__i"), F.max("__P").alias("__Pi"))
    )
    level = (
        tot.crossJoin(F.broadcast(feas))
        .select(
            F.when(F.col("__m") == 0, F.lit(0).cast("long"))
            .when(F.col("__total") <= F.lit(budget), F.col("__cmax").cast("long"))
            .otherwise(
                F.floor(
                    (F.lit(budget) - F.coalesce(F.col("__Pi"), F.lit(0)))
                    / (F.col("__m") - F.coalesce(F.col("__i"), F.lit(0)))
                ).cast("long")
            )
            .alias("water_level")
        )
    )
    return counts.select(*g, count_col).crossJoin(F.broadcast(level)).select(
        *g,
        count_col,
        F.least(F.col(count_col), F.col("water_level")).cast("long").alias("alloc_tokens"),
        "water_level",
    )
