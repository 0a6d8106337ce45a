"""Temporal join operators — the two interval/time shapes Spark's builtin
join strategies don't cover without degenerating into a nested-loop plan:

- ``asof_join``: each left row matched to the LATEST right row at-or-before
  it per key (the time-series enrichment join). Implemented as the
  union + per-key ordered window ``last(ignorenulls)`` sweep: ONE key
  shuffle + one per-key sort, never an inequality join — the same
  distribution an as-of join has on any MPP engine. The DuckDB twin is the
  native ``ASOF LEFT JOIN``, so the window formulation is value-checked
  against a first-class implementation.
- ``range_join``: points joined to containing intervals per key via
  TIME-BUCKETING — intervals explode row-locally to each bucket they
  overlap, points land in exactly one bucket, the join runs as a plain
  equi-join on (key, bucket) followed by the exact containment filter. A
  point matches an interval at most once by construction (its single
  bucket), so no post-dedup; fan-out per interval is ⌈len/bucket⌉. This is
  the standard scale shape for interval joins (a naive range predicate is
  a BroadcastNestedLoopJoin — plan-gated against).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_value_cols: Sequence[str],
) -> DataFrame:
    """→ left + (ts_matched, <col>_matched …): for every left row, the
    right row with the greatest ``ts_col`` ≤ the left row's per ``key_col``
    (NULLs when no prior right row — ASOF LEFT JOIN semantics).

    Right rows sharing (key, ts) are first collapsed to the greatest value
    struct, making the match total and engine-deterministic. The sweep
    orders by (ts, side) with right rows first so an equal-timestamp right
    row IS visible to the left row (the ``>=`` convention DuckDB's ASOF
    uses). Scale: one hash shuffle on key + per-key sort; a pathologically
    hot key bounds at its own event count (salt upstream if one key holds
    a material corpus fraction)."""
    rs = F.struct(
        F.col(ts_col).alias("_r_ts"), *[F.col(c) for c in right_value_cols]
    )
    r = (
        right.groupBy(key_col, ts_col)
        .agg(F.max(rs).alias("_rv"))
        .select(key_col, ts_col, "_rv")
        .withColumn("_src", F.lit(0))
    )
    rv_type = r.schema["_rv"].dataType
    l = left.withColumn("_src", F.lit(1)).withColumn(
        "_rv", F.lit(None).cast(rv_type)
    )
    r_aligned = r.select(
        *[
            F.col(c) if c in (key_col, ts_col)
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        "_src",
        "_rv",
    )
    u = l.select(*left.columns, "_src", "_rv").unionByName(r_aligned)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_src").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        u.withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
        .filter(F.col("_src") == 1)
        .drop("_src", "_rv")
    )
    out = out.withColumn(ts_col + "_matched", F.col("_m._r_ts"))
    for c in right_value_cols:
        out = out.withColumn(c + "_matched", F.col(f"_m.{c}"))
    return out.drop("_m")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key_col: str,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """→ points ⋈ intervals on ``key`` ∧ ``start ≤ ts ≤ end`` — as an
    equi-join: both sides bucket on floor(epoch/bucket_seconds); an
    interval emits one row per bucket it overlaps (row-local ``sequence``
    explode, fan-out ⌈len/bucket⌉), a point lands in exactly ONE bucket,
    so each qualifying pair joins exactly once and only the exact
    containment filter remains. Pick ``bucket_seconds`` near the median
    interval length: shorter buckets raise interval fan-out, longer ones
    raise false-candidate filtering."""
    b = F.lit(int(bucket_seconds))
    p = points.withColumn(
        "_bkt", F.floor(F.unix_timestamp(F.col(ts_col)) / b)
    )
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b),
                F.floor(F.unix_timestamp(F.col(end_col)) / b),
            )
        ),
    )
    return (
        p.join(iv, on=[key_col, "_bkt"])
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("_bkt")
    )
