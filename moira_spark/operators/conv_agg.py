"""Skew-proof conversation-level verdict (SURVEY.md §2.2 #10).

moira's whole-read discard on expected-error exceedance [M], lifted to the
conversation: drop the conversation when more than CONV_MAX_BAD_TURNS turns
failed per-turn filtering.

At 10^12-turn scale a plain ``groupBy(conv_id)`` puts an entire hot
conversation (the fixture deliberately gives one conv ~5% of all turns) into
a single reducer.  The classic fix, applied here explicitly per the north
rule (skew handled explicitly, not hoped away): a salted two-phase
aggregation —

  phase 1: groupBy(conv_id, salt)   salt = pmod(hash(turn_idx), S)
           -> partial bad-turn counts, S-way fan-out of the hot key
  phase 2: groupBy(conv_id)         -> sum of S partials (tiny input)

The verdict table (one narrow row per conversation) is then broadcast and
joined back — always; there is no size threshold.  Its size is bounded by
the caller's slice: one conv_id hash bucket of the job (``driver.py
--buckets`` is the lever) or one streaming micro-batch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from moira_spark import config


def conversation_verdicts(turns: DataFrame) -> DataFrame:
    """-> DataFrame(conv_id, bad_turns, conv_keep), salted two-phase agg."""
    salt = F.pmod(F.hash(F.col("turn_idx")), F.lit(config.CONV_AGG_SALT_BUCKETS))
    partial = (
        turns.groupBy(F.col("conv_id"), salt.alias("_salt"))
        .agg(F.count(F.when(~F.col("keep"), True)).alias("_bad_partial"))
    )
    return (
        partial.groupBy("conv_id")
        .agg(F.sum("_bad_partial").alias("bad_turns"))
        .withColumn(
            "conv_keep", F.col("bad_turns") <= F.lit(config.CONV_MAX_BAD_TURNS)
        )
    )


def attach_conv_verdicts(turns: DataFrame, verdicts: DataFrame) -> DataFrame:
    """Broadcast-join the per-conversation verdict back onto every turn."""
    v = F.broadcast(verdicts.select("conv_id", "conv_keep"))
    return turns.join(v, "conv_id", "left")
