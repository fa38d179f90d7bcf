"""As-of join: each left row matched to the single LATEST right row at or
before its event time (optionally within a horizon).

The reference's interval join is explicitly NOT as-of (multi-match fan-out,
SURVEY.md §2 Q4) — but as-of is the other canonical enrichment shape in
streaming analytics ("the rate in effect at order time"), so the engine
provides both.

Plan: bucketed interval join (equi on key + time bucket, parallelism-safe)
→ window rank by right-time descending → keep rank 1.  Left-outer rows
with no right match survive with NULLs.  One extra narrow shuffle over the
interval join; never a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.interval_join import interval_join_bucketed


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_id: str,
    left_time: str,
    right_time: str,
    horizon: str = "1 hour",
    how: str = "left_outer",
    tie_breakers: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Latest-right-at-or-before join within ``horizon`` (``backward``),
    earliest-right-at-or-after (``direction="forward"`` — "the next quote
    after the order"), or the closest right row on EITHER side
    (``direction="nearest"`` — min |Δt| within ±horizon, ties toward the
    earlier/backward row: the pandas ``merge_asof(direction='nearest')``
    semantics, r15).

    ``left_id`` must uniquely identify left rows (the rank-1 partition
    key).  Result: all left columns + right columns prefixed ``r_`` (NULL
    when no right row in ``(t - horizon, t]`` / ``[t, t + horizon)``).
    ``tie_breakers`` (right column names) order equal right_time matches
    deterministically — they must totalize the order among rows equal on
    (key, right_time), or which right row's OTHER columns win is
    partitioning-dependent.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # loud guards (same policy as interval_join_bucketed's reserved
    # columns): a left column named r_<right col> would collide with the
    # prefixed right columns — duplicate output names, or an ambiguous-
    # reference error at the rank step (notably: the output of one
    # as_of_join can't silently feed another against the same right
    # table); a caller's __rn would be clobbered and dropped
    collisions = {f"r_{c}" for c in right.columns} & set(left.columns)
    if collisions:
        raise ValueError(
            f"as_of_join prefixes right columns with 'r_', but the left "
            f"side already has {sorted(collisions)} — rename before joining"
        )
    if "__rn" in left.columns or "__rn" in right.columns:
        raise ValueError(
            "as_of_join reserves column name '__rn' internally — rename it "
            "before joining (it would be clobbered and dropped)"
        )
    left_cols = [F.col(f"l.{c}").alias(c) for c in left.columns]
    right_cols = [F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns]

    picked = interval_join_bucketed(
        left, right, on=keys, left_time=left_time, right_time=right_time,
        interval=horizon, how=how, direction=direction,
    ).select(*left_cols, *right_cols)

    t_ord = F.col(f"r_{right_time}")
    if direction == "nearest":
        # ONE symmetric bucketed join (r16): interval_join_bucketed
        # (direction="nearest") explodes the right side into 3 adjacent
        # buckets with residual (t−h, t+h), the exact union of backward
        # (t−h, t] and forward [t, t+h).  Left scanned/shuffled ONCE,
        # total shuffle volume L + 3R.  Pinned by the hypothesis property
        # suite and the pandas merge_asof cross-check in
        # tests/test_asof_property.py.  Ordering is exact integer micros —
        # no float time compare; unmatched-left NULL rows sort last, so a
        # left row emits its NULL row only when nothing matched on either
        # side.
        delta = F.abs(F.unix_micros(t_ord) - F.unix_micros(F.col(left_time)))
        order = [delta.asc_nulls_last(), t_ord.asc_nulls_last()]
    else:
        order = [t_ord.desc_nulls_last() if direction == "backward" else t_ord.asc_nulls_last()]
    order += [F.col(f"r_{c}").desc_nulls_last() for c in (tie_breakers or [])]
    w = Window.partitionBy(left_id).orderBy(*order)
    return (
        picked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
