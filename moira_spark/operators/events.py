"""Event-stream analytics over exact integers: cohort retention, bucketed
temporal proximity join and per-group count anomalies.

Each helper is a plain DataFrame -> DataFrame function with all-integer
output, so results are deterministic across engines and partitionings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Pack base for the (abs_dt, right_id) argmin encoding of
# temporal_proximity_join.  Exact while right ids stay below 2^24 (16.7M)
# and |dt| * 2^24 stays well inside int64; widen it for larger id spaces.
_PROX_PACK = 1 << 24


def retention_cohorts(activity: DataFrame) -> DataFrame:
    """Cohort-retention matrix over a ``(user_id, day)`` activity frame
    (day = any integer period index): cohort = each user's MIN day,
    active_users = distinct users of that cohort active at each offset,
    cohort_size joined broadcast.  All-integer output.

    Scale shape: the (user, day) de-dup and the cohort MIN share the
    user_id key; the (cohort, offset) rollup and the cohort-size join
    operate on period-cardinality rows, broadcast-sized at any scale."""
    uw = activity.select("user_id", "day").distinct()
    firsts = uw.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        uw.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    return act.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day", "day_offset", "active_users", "cohort_size"
    )


def temporal_proximity_join(
    left: DataFrame,
    right: DataFrame,
    window_us: int,
    pack: int = _PROX_PACK,
) -> DataFrame:
    """Bucketed temporal proximity join: for every ``left`` row
    (``left_id``, ``us``), the count of ``right`` rows (``right_id``,
    ``us``) within ``+/- window_us`` plus the nearest one (ties on
    |dt| broken by smaller right_id via an exact integer packing).

    The naive form is an unbounded inequality join (O(n*m)).  Here the
    bucket width equals the window width and the right side is replicated
    to its bucket and both neighbors (a constant 3x fan-out), so the join
    is a hash equi-join on bucket id, any qualifying pair meets on exactly
    ONE key, and no post-join de-dup is needed.  Nearest is an argmin via
    MIN over the packed (abs_dt, right_id) integer — no window sort."""
    lb = left.select(
        "left_id",
        "us",
        F.expr(f"us div {window_us}").alias("bucket"),
    )
    rb = F.expr(f"us div {window_us}")
    rx = right.select(
        F.col("right_id"),
        F.col("us").alias("r_us"),
        F.explode(F.array(rb - 1, rb, rb + 1)).alias("bucket"),
    )
    pairs = lb.join(rx, "bucket").filter(
        F.abs(F.col("us") - F.col("r_us")) <= F.lit(window_us)
    )
    nk = F.abs(F.col("us") - F.col("r_us")) * F.lit(pack) + F.col("right_id")
    agg = pairs.groupBy("left_id").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min(nk).alias("nk"),
    )
    return (
        left.select("left_id")
        .join(agg, "left_id", "left")
        .select(
            "left_id",
            F.coalesce(F.col("n_within"), F.lit(0)).cast("bigint").alias("n_within"),
            F.expr(f"nk div {pack}").alias("nearest_dt_us"),
            (F.col("nk") % F.lit(pack)).cast("bigint").alias("nearest_right_id"),
        )
    )


def bucket_count_anomalies(counts: DataFrame, z2: int = 9) -> DataFrame:
    """Flag buckets whose count deviates more than sqrt(z2) population
    standard deviations from their group's mean, in EXACT integer
    arithmetic: with n buckets, S = sum(c), SS = sum(c^2), the test
    ``z^2 > z0^2`` rewrites to ``(c*n - S)^2 > z0^2 * (n*SS - S^2)`` —
    no division, no floats, so both engines agree bit-for-bit and a
    constant series (variance 0) flags nothing.  STRICT inequality:
    a lone outlier among n-1 identical values sits at exactly
    z^2 = n-1, so the n=10 single-spike case is deliberately NOT an
    anomaly at z0=3.  Input ``(grp, bucket, c)``; int64 bound: valid
    while c*n < ~3e9 (the square must fit int64; Spark ANSI fails loud,
    not silent, past it) — at larger scales rescale counts or widen to
    decimal.  Group stats are a partial-aggregating groupBy to
    group-cardinality rows, broadcast back onto the bucket stream."""
    s = counts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("S"),
        F.sum(F.col("c") * F.col("c")).alias("SS"),
    )
    dev = F.col("c") * F.col("n") - F.col("S")
    var_n = F.col("n") * F.col("SS") - F.col("S") * F.col("S")
    return (
        counts.join(F.broadcast(s), "grp")
        .select(
            "grp",
            "bucket",
            "c",
            (dev * dev > F.lit(z2) * var_n).alias("is_anomaly"),
        )
    )
