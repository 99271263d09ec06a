# -*- coding: utf-8 -*-
"""Event-stream derivations over the ``events`` table
(event_id, ts, user_id, event_type, value, props).

The batch window-function surface a clickstream/telemetry pipeline
needs.
Everything is a single hash exchange on the partition key plus an
in-partition sort — the same cost envelope as the as-of join
(operators/asof.py), and the shape that scales: per-key state during
the window scan is O(1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def event_deltas(events: DataFrame) -> DataFrame:
    """Per-user consecutive deltas: value change and inter-event gap
    (seconds) vs the previous event of the same user, ordered by
    (ts, event_id) — the id tiebreak makes equal-timestamp rows
    deterministic in every engine. First event per user has NULL
    deltas."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - prev_v, 6).alias("value_delta"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
        ).alias("gap_seconds"),
    )


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    ts_col: str = "t",
    bucket: int = 60_000_000,
    max_buckets: int = 4096,
) -> DataFrame:
    """Point-in-interval range join without a cartesian product: each
    point matched to every interval with ``start <= t < end``
    (half-open, all three plain LONGs — epoch microseconds by
    convention, so no float or calendar arithmetic anywhere).

    Spark has no range-join operator, and the naive formulation
    (``join`` on an inequality) compiles to
    BroadcastNestedLoopJoin/cartesian — O(|I|·|P|) and the classic
    100 TB killer. This is the standard bucketization rewrite: every
    interval is exploded to the ``bucket``-width time buckets it
    covers, every point maps to exactly ONE bucket, and the join is a
    plain hash equi-join on the bucket id that AQE can size and
    skew-split. Each qualifying (interval, point) pair arises from
    exactly one bucket — the point's — so no post-join dedup is
    needed; the residual predicate just re-checks the exact bounds.

    Cost model: interval replication = ceil(span/bucket) + 1 rows, so
    pick ``bucket`` near the median interval span (replication ~2×).
    A pathological interval (span > ``max_buckets`` buckets —
    an open-ended session, a corrupt end timestamp) would silently
    explode executor memory; it raises instead, naming the offender —
    clamp or split upstream if genuinely intended.

    Column names must not collide across the two inputs (Spark-native
    rule; alias upstream). Returns all columns of both sides for
    every qualifying pair."""
    # integer DIV, never float '/': epoch-microsecond longs exceed
    # double's exact-integer range in pathological inputs, and the
    # bucket id must be bit-identical on both join sides
    lo = F.expr("`%s` DIV %d" % (start_col, bucket))
    hi = F.expr("`%s` DIV %d" % (end_col, bucket))
    n = hi - lo + 1
    guarded = F.when(
        n <= max_buckets, F.sequence(lo, hi)
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("interval_point_join: interval spans "), n.cast("string"),
            F.lit(" buckets (> %d); raise max_buckets, widen bucket, or "
                  "split the interval upstream" % max_buckets),
        ))
    )
    ib = intervals.withColumn("__bucket", F.explode(guarded))
    pb = points.withColumn(
        "__bucket", F.expr("`%s` DIV %d" % (ts_col, bucket)))
    return (
        ib.join(pb, "__bucket")
        .filter((F.col(ts_col) >= F.col(start_col))
                & (F.col(ts_col) < F.col(end_col)))
        .drop("__bucket")
    )
