"""Driver-contract query for the Structured Streaming tier (rows-only).

Runs the real ``applyInPandasWithState`` stateful pipeline
(streaming/stateful_verdict.py) end-to-end under ``availableNow`` on a
deterministic split-conversation fixture: even turn_idx rows arrive in the
first micro-batch group, odd in the second (a checkpoint-resumed second run),
so every multi-turn conversation genuinely crosses a batch boundary and the
cross-batch state accumulation is exercised — not just the happy path.

The fixture is seeded (datagen seed=42) and scoring is deterministic, so the
final per-conversation verdicts are value-stable; fresh temp dirs per
invocation keep the query idempotent under repeated driver runs.
"""

from __future__ import annotations

import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from moira_spark.harness import register

_N_TURNS = 1500


@register("streaming_conv_verdicts", None)
def streaming_conv_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moira_spark.datagen import transcripts as tg
    from moira_spark.streaming.stateful_verdict import (
        current_verdicts,
        run_stateful_stream,
    )

    work = tempfile.mkdtemp(prefix="moira_stream_check_")
    in_dir, out_dir, ck_dir = f"{work}/in", f"{work}/out", f"{work}/ck"

    src = tg.gen_spark(spark, _N_TURNS, seed=42)
    # batch 1: even turns only -> run to completion (availableNow).  The
    # awaitTermination return MUST be checked: on timeout the query is still
    # running and starting the resume against the same checkpoint (or
    # deleting the temp dir) would corrupt the check into flakiness.
    src.filter(F.col("turn_idx") % 2 == 0).write.mode("append").parquet(in_dir)
    if not run_stateful_stream(spark, in_dir, out_dir, ck_dir).awaitTermination(600):
        raise TimeoutError("stateful stream (batch 1) did not finish in 600s")
    # batch 2: odd turns arrive -> checkpoint-resume the same query
    src.filter(F.col("turn_idx") % 2 == 1).write.mode("append").parquet(in_dir)
    if not run_stateful_stream(spark, in_dir, out_dir, ck_dir).awaitTermination(600):
        raise TimeoutError("stateful stream (batch 2) did not finish in 600s")

    # Materialize the final verdicts before deleting the updates log (the
    # returned frame must not depend on the temp dir once we clean it up).
    final = current_verdicts(spark, out_dir).select(
        "conv_id", "total_turns", "bad_turns", "conv_keep"
    )
    pdf = final.toPandas()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="conv_id string, total_turns long, bad_turns long, conv_keep boolean"
    )


@register(
    "streaming_windowed_counts",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT DATE_TRUNC('day', ts) AS day_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING DATE_TRUNC('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation under Structured Streaming —
    SQL-HASH-CHECKED against DuckDB (rare for a streaming op, possible here
    because availableNow's append-mode emission rule is itself declarative:
    a window is emitted iff window_end <= max(ts) - watermark_delay).

    Completes the streaming triad (foreachBatch snapshot filter, stateful
    cross-batch verdicts, and now watermark + windowed aggregation): events
    stream -> withWatermark(1h) -> 1-day tumbling window x event_type counts
    -> append-mode parquet sink, run to completion with availableNow; the
    final no-data batch flushes every window the advanced watermark
    finalizes, and late-beyond-watermark state is dropped — the exact
    semantics a 24/7 ingest deployment relies on.
    """
    import shutil
    import tempfile

    ev_schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    work = tempfile.mkdtemp(prefix="moira_stream_win_")
    src = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("day_start"),
        "event_type",
        "n_events",
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        raise TimeoutError("windowed streaming query did not finish in 600s")
    pdf = spark.read.parquet(f"{work}/out").toPandas()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="day_start timestamp_ntz, event_type string, n_events long"
    )


@register(
    "streaming_dedupe_events",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def streaming_dedupe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedupe, SQL-HASH-CHECKED against DuckDB.

    At-least-once delivery is simulated by staging the events table PLUS a
    byte-identical re-delivery of every event from the last hour of event
    time (the retry window), split across multiple micro-batches
    (maxFilesPerTrigger).  dropDuplicatesWithinWatermark(event_id) with a
    2-hour watermark must collapse the stream back to exactly the original
    table — the oracle is simply ``SELECT * FROM events`` — proving both
    in-batch and cross-batch duplicate suppression with bounded state
    (duplicates are 1h-recent, watermark 2h, so key state provably spans
    the redelivery window; see streaming/stream_dedupe.py).
    """
    import shutil
    import tempfile

    from moira_spark.harness import load
    from moira_spark.streaming.stream_dedupe import dedupe_stream

    ev_schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    work = tempfile.mkdtemp(prefix="moira_stream_dedupe_")
    in_dir = f"{work}/in"

    ev = load(spark, sf_dir, "events").select(cols)
    # Multiple micro-batches need multiple files (the sf tables are single
    # parquet files) processed oldest-event-time-first: a stateful op drops
    # rows older than the advancing watermark, so originals must arrive in
    # contiguous event-time chunks like a real ingest — randomly split
    # files would make half the second batch "late" and the oracle wrong.
    # FileStreamSource orders by file mtime; sequential writes + a sleep
    # beyond mtime granularity pin that order.
    import time as _time

    med = ev.withColumn("tsd", F.col("ts").cast("timestamp").cast("double")) \
        .approxQuantile("tsd", [0.5], 0.0)[0]
    tsd = F.col("ts").cast("timestamp").cast("double")
    ev.filter(tsd <= med).repartition(1).write.mode("append").parquet(in_dir)
    _time.sleep(0.2)
    ev.filter(tsd > med).repartition(1).write.mode("append").parquet(in_dir)
    _time.sleep(0.2)
    # re-deliver the most recent hour of events, byte-identical, in a later
    # file -> a later micro-batch, so suppression is genuinely cross-batch
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    dupes = ev.filter(F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR"))
    dupes.repartition(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = dedupe_stream(src, keys=["event_id"], watermark="2 hours")
    q = (
        deduped.select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        raise TimeoutError("streaming dedupe query did not finish in 600s")
    if int(q.lastProgress["batchId"]) < 1:
        raise RuntimeError(
            "streaming dedupe ran in a single micro-batch — the cross-batch "
            "property this query exists to check was not exercised"
        )
    pdf = spark.read.parquet(f"{work}/out").toPandas()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=ev_schema)


@register(
    "streaming_session_windows",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events),
    ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT session_start, session_end, user_id, n_events FROM sessions
    WHERE session_end <= (SELECT w FROM wm)
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION-window aggregation under Structured Streaming,
    SQL-HASH-CHECKED against a DuckDB gap-based sessionization (9,525
    sessions identical at sf0.01).

    Spark's native ``session_window`` (dynamic-gap merging state, per-user
    keying) with a 30-minute gap and 1-hour watermark, run to completion
    with availableNow in append mode: a session is emitted exactly when the
    final watermark (max ts - 1h) passes its end (last event + gap) — the
    same declarative finalization rule that made streaming_windowed_counts
    oracle-checkable.  The oracle derives identical sessions from LAG
    gap-splitting + running-sum session ids, so the streaming state
    machine's merge semantics are value-checked, not just row-counted.
    Completes the streaming aggregation coverage: tumbling windows,
    session windows, stateful custom verdicts, watermark dedupe.
    """
    ev_schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    work = tempfile.mkdtemp(prefix="moira_stream_sess_")
    src = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("w.end").cast("timestamp_ntz").alias("session_end"),
        "user_id",
        "n_events",
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        raise TimeoutError("session-window streaming query did not finish")
    pdf = spark.read.parquet(f"{work}/out").toPandas()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        schema=(
            "session_start timestamp_ntz, session_end timestamp_ntz, "
            "user_id bigint, n_events long"
        ),
    )


@register("streaming_incremental_dedup", None)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup under the driver harness: three
    micro-batches of documents, each flagged against the signature
    SnapshotTable accumulated from earlier batches' SURVIVORS, survivors
    appended (streaming/stream_incremental_dedup.py).  The streaming twin
    of dedup_incremental — state handoff through the same CAS snapshot
    protocol, one signature pass per batch, history never re-shingled.

    Cross-batch plants (what the hard floor checks — "flagged some dup",
    see the gate comment below for why the specific flag can shift between
    dup_exact and dup_near since the round-5 intra-batch near pass):
    - batch 1 carries exact copies (+5e6) of batch-0 docs -> caught via
      state committed ONE batch earlier;
    - batch 2 carries exact copies (+7e6) of batch-0 docs -> caught via
      state committed TWO batches earlier (accumulation, not just the
      previous batch);
    - batch 2 carries near copies (+6e6, trailing token) of batch-1 docs
      -> caught via the LSH-banded join against the PERSISTED bands table.
    Plus the global invariant that makes "dedup" mean something: survivor
    fingerprints are globally unique across the whole stream.
    """
    import time as _time

    from moira_spark.harness import load
    from moira_spark.sources.tableio import SnapshotTable
    from moira_spark.streaming.stream_incremental_dedup import (
        stream_incremental_dedup,
    )

    work = tempfile.mkdtemp(prefix="moira_stream_increm_")
    in_dir, state_dir, out_dir, ck = (
        f"{work}/in", f"{work}/state", f"{work}/out", f"{work}/ck",
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = d.filter(F.col("doc_id") % 3 == 0)
    b1 = d.filter(F.col("doc_id") % 3 == 1).unionAll(
        b0.filter(F.col("doc_id") % 30 == 0).select(
            (F.col("doc_id") + 5000000).alias("doc_id"), "text"
        )
    )
    b2 = (
        d.filter(F.col("doc_id") % 3 == 2)
        .unionAll(
            d.filter(F.col("doc_id") % 30 == 1).select(
                (F.col("doc_id") + 6000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra trailing token")).alias(
                    "text"
                ),
            )
        )
        .unionAll(
            b0.filter(F.col("doc_id") % 30 == 0).select(
                (F.col("doc_id") + 7000000).alias("doc_id"), "text"
            )
        )
    )
    for batch in (b0, b1, b2):
        batch.repartition(1).write.mode("append").parquet(in_dir)
        _time.sleep(0.2)  # distinct mtimes pin the file -> batch order

    q = stream_incremental_dedup(spark, in_dir, state_dir, out_dir, ck)
    if not q.awaitTermination(600):
        raise TimeoutError("incremental dedup stream did not finish in 600s")
    if int(q.lastProgress["batchId"]) < 2:
        raise RuntimeError("stream ran in fewer than 3 micro-batches")

    flags = SnapshotTable(out_dir).read(spark).localCheckpoint(eager=True)
    state = SnapshotTable(state_dir).read(spark)
    # Floor predicate is SOURCE-AWARE (round-5 self-review): since the
    # intra-batch near pass, a batch-0 source doc with a natural near-twin
    # is itself dropped and never enters state — its later byte-exact copy
    # is then caught by the NEAR pass against the surviving twin, not by
    # the fingerprint match.  But relaxing every gate to "some dup" would
    # let a dead fingerprint path hide behind the near path (byte-exact
    # copies have Jaccard 1.0), so the gate checks per plant: if the
    # plant's SOURCE doc is in the final state, the SPECIFIC mechanism is
    # required (fingerprint match for exact copies, banded-near for near
    # copies — both deterministic-under-seeds there); only when the source
    # was itself deduplicated away does either flag count.
    state_ids = state.select(F.col("doc_id").alias("sid"))
    src_id = (
        F.when(F.col("doc_id") < 6000000, F.col("doc_id") - 5000000)
        .when(F.col("doc_id") < 7000000, F.col("doc_id") - 6000000)
        .otherwise(F.col("doc_id") - 7000000)
    )
    plants = (
        flags.filter(F.col("doc_id") >= 5000000)
        .withColumn("src_id", src_id)
        .join(
            F.broadcast(state_ids.withColumn("in_state", F.lit(True))),
            F.col("src_id") == F.col("sid"),
            "left",
        )
    )
    near_class = (F.col("doc_id") >= 6000000) & (F.col("doc_id") < 7000000)
    required = F.when(
        F.col("in_state").isNull(), F.col("dup_exact") | F.col("dup_near")
    ).otherwise(
        F.when(near_class, F.col("dup_near")).otherwise(F.col("dup_exact"))
    )
    gate = plants.agg(
        F.sum(
            F.when(
                (F.col("doc_id") < 6000000) & ~required, 1
            ).otherwise(0)
        ).alias("missed_b1_exact"),
        F.sum(F.when(near_class & ~required, 1).otherwise(0)).alias(
            "missed_b2_near"
        ),
        F.sum(
            F.when(
                (F.col("doc_id") >= 7000000) & ~required, 1
            ).otherwise(0)
        ).alias("missed_b2_exact"),
    ).collect()[0]
    n_surv = state.count()
    n_fp = state.select("fingerprint").distinct().count()
    shutil.rmtree(work, ignore_errors=True)
    if (
        gate["missed_b1_exact"]
        or gate["missed_b2_near"]
        or gate["missed_b2_exact"]
        or n_surv != n_fp
    ):
        raise AssertionError(
            "streaming incremental dedup broke its floors: "
            f"missed_b1_exact={gate['missed_b1_exact']} "
            f"missed_b2_near={gate['missed_b2_near']} "
            f"missed_b2_exact={gate['missed_b2_exact']} "
            f"survivors={n_surv} distinct_fingerprints={n_fp}"
        )
    return flags.select("batch_id", "doc_id", "dup_exact", "dup_near", "survives")


@register("streaming_filter_labels", None)
def streaming_filter_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch snapshot-filtering path (streaming/stream_filter.py)
    under the driver harness, self-verified against the batch pipeline.

    A deterministic transcripts fixture arrives in three conversation-atomic
    files (chunked on conv_id hash — stream_filter judges conversations per
    micro-batch, so batches must carry whole conversations), one file per
    micro-batch.  Each batch is scored, staged, and snapshot-committed; the
    final committed labels table must agree with run_pipeline() on the same
    rows exactly — keep, scrubbed text, and conversation verdicts — because
    per-turn scoring is stateless and conv-atomic batching preserves the
    conversation aggregate.  One metrics row; every value pinned at 1.0.
    """
    import shutil
    import tempfile
    import time as _time

    from moira_spark.datagen import transcripts as tg
    from moira_spark.pipeline import release_cache, run_pipeline
    from moira_spark.sources.tableio import SnapshotTable
    from moira_spark.streaming.stream_filter import stream_labels

    work = tempfile.mkdtemp(prefix="moira_stream_filter_")
    in_dir, out_dir, ck_dir = f"{work}/in", f"{work}/out", f"{work}/ck"

    src = tg.gen_spark(spark, 1500, seed=42)
    for i in range(3):
        src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i).repartition(
            1
        ).write.mode("append").parquet(in_dir)
        _time.sleep(0.2)  # distinct mtimes pin the file -> batch order

    q = stream_labels(spark, in_dir, out_dir, ck_dir, max_files_per_trigger=1)
    if not q.awaitTermination(600):
        raise TimeoutError("foreachBatch stream did not finish in 600s")
    if int(q.lastProgress["batchId"]) < 1:
        raise RuntimeError("stream ran in a single micro-batch")

    streamed = (
        SnapshotTable(out_dir)
        .read(spark)
        .select("conv_id", "turn_idx", "keep", "scrubbed_text", "conv_keep")
        .toPandas()
    )
    batch_labels = run_pipeline(spark, src)
    batch = batch_labels.select(
        "conv_id", "turn_idx", "keep", "scrubbed_text", "conv_keep"
    ).toPandas()
    release_cache(batch_labels)
    shutil.rmtree(work, ignore_errors=True)

    m = streamed.merge(
        batch, on=["conv_id", "turn_idx"], suffixes=("_s", "_b"), how="outer",
        indicator=True,
    )
    row = (
        int(len(streamed)),
        int(len(batch)),
        int((m["_merge"] == "both").sum()),
        round(float((m.keep_s == m.keep_b).mean()), 6),
        round(float((m.scrubbed_text_s == m.scrubbed_text_b).mean()), 6),
        round(float((m.conv_keep_s == m.conv_keep_b).mean()), 6),
    )
    return spark.createDataFrame(
        [row],
        schema=(
            "n_streamed int, n_batch int, n_joined int, keep_agreement double, "
            "scrub_exact_frac double, conv_verdict_agreement double"
        ),
    )


@register(
    "streaming_interval_join",
    """
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           v.ts AS view_ts, c.ts AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 240 MINUTE
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream event-time interval join under Structured
    Streaming — views joined to same-user clicks landing within 4 hours
    — SQL-hash-checked against DuckDB's batch inequality join.  Completes
    the streaming operator tier: tumbling/session windows, stateful custom
    verdicts, watermark dedupe, incremental dedup, and now the symmetric
    stateful join.

    Both sides carry a 1-hour watermark and the join condition carries the
    event-time range Spark needs to bound state retention (each side's
    buffered rows are dropped once the other side's watermark passes
    view_ts + 4 h) — the exact mechanism that keeps the join's state
    finite on an unbounded stream; inner-join matches are emitted as they
    are found, so the completed availableNow run equals the batch join
    row-for-row (the fixture arrives as one parquet file -> one
    micro-batch; cross-batch state correctness is the streaming engine's
    own guarantee, exercised for our state machinery by
    streaming_incremental_dedup's multi-batch harness).

    Scale shape: the streaming symmetric hash join keys state by user_id,
    and the event_type filters are pushed to the parquet scan on both
    sides.
    """
    ev_schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    work = tempfile.mkdtemp(prefix="moira_stream_ijoin_")
    def _side(kind: str, alias: str):
        return (
            spark.readStream.schema(ev_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").cast("timestamp").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    views, clicks = _side("view", "view"), _side("click", "click")
    joined = views.join(
        clicks,
        (F.col("view_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 240 MINUTES")
        ),
        "inner",
    ).select(
        F.col("view_id"),
        F.col("click_id"),
        F.col("view_user").alias("user_id"),
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        raise TimeoutError("interval-join streaming query did not finish")
    pdf = spark.read.parquet(f"{work}/out").toPandas()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        schema=(
            "view_id bigint, click_id bigint, user_id bigint, "
            "view_ts timestamp_ntz, click_ts timestamp_ntz"
        ),
    )
