"""Structured Streaming variant: stream == batch labels, restart-safe."""

from __future__ import annotations

import os
import time
from collections import Counter

import pyspark.sql.functions as F
import pytest

from moira_spark.datagen import transcripts as tg
from moira_spark.oracle import ref_pipeline as orc
from moira_spark.sources.tableio import SnapshotTable
from moira_spark.streaming.stream_filter import stream_labels

N_TURNS = 2000


def _write_arrivals(src, in_dir: str, n: int) -> None:
    """``n`` conversation-atomic parquet files, one micro-batch each under
    ``max_files_per_trigger=1``."""
    for i in range(n):
        part = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(n)) == i)
        part.repartition(1).write.mode("append").parquet(in_dir)
        time.sleep(0.2)  # distinct mtimes pin the file -> batch order


def _drain(spark, in_dir: str, out_dir: str, ck_dir: str) -> None:
    q = stream_labels(spark, in_dir, out_dir, ck_dir, max_files_per_trigger=1)
    q.awaitTermination(180)


def _audit_totals(spark, audit: SnapshotTable) -> dict:
    rows = audit.read(spark).collect()
    totals = {
        k: sum(r[k] for r in rows)
        for k in ("input_turns", "kept_turns", "dropped_turns", "convs_dropped")
    }
    totals["rule_hits"] = sum((Counter(r.rule_hits) for r in rows), Counter())
    return totals


def test_stream_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    # two "arrivals" of conversation-atomic files
    src = tg.gen_spark(spark, N_TURNS)
    first = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    second = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    first.write.mode("append").parquet(in_dir)

    q = stream_labels(spark, in_dir, out_dir, ck_dir)
    q.awaitTermination(120)

    second.write.mode("append").parquet(in_dir)
    q = stream_labels(spark, in_dir, out_dir, ck_dir)
    q.awaitTermination(120)

    got = (
        SnapshotTable(out_dir)
        .read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    ref = (
        orc.run(tg.gen_pandas(N_TURNS))
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ref)
    assert got.keep.tolist() == ref.keep.tolist()
    assert got.scrubbed_text.tolist() == ref.scrubbed_text.tolist()
    assert got.conv_keep.tolist() == ref.conv_keep.tolist()

    # restart with no new data: no duplicate commits
    q = stream_labels(spark, in_dir, out_dir, ck_dir)
    q.awaitTermination(120)
    assert SnapshotTable(out_dir).read(spark).count() == len(ref)


def test_failed_stage_releases_the_scored_frame(spark, tmp_path, monkeypatch):
    """A batch whose stage fails must not leave run_pipeline's persisted
    scored frame cached for the life of the app."""
    from moira_spark.streaming import stream_filter

    in_dir = str(tmp_path / "in")
    tg.gen_spark(spark, 200).write.parquet(in_dir)
    scored = []

    def run_pipeline(spark_, df):
        out = orig_run(spark_, df)
        scored.append(out._moira_scored)
        return out

    def stage(self, df, run_id, **kw):
        assert scored[-1].storageLevel.useMemory  # cached until staged
        raise OSError(f"disk full staging {run_id}")

    orig_run = stream_filter.run_pipeline
    monkeypatch.setattr(stream_filter, "run_pipeline", run_pipeline)
    monkeypatch.setattr(SnapshotTable, "stage", stage)
    q = stream_labels(spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"))
    with pytest.raises(Exception, match="disk full staging stream-batch-0"):
        q.awaitTermination(120)
    assert len(scored) == 1
    level = scored[0].storageLevel
    assert not (level.useMemory or level.useDisk)
    assert SnapshotTable(str(tmp_path / "out")).latest_snapshot() is None


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg: a row arriving after the watermark passed
    its window must be dropped, and finalized windows are flushed by the
    availableNow end-of-stream batch."""
    import pyspark.sql.functions as F

    from datetime import datetime

    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, k string"

    def dt(s):
        return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    rows1 = [(1, dt("2024-01-01 00:10:00"), "a"), (2, dt("2024-01-01 00:20:00"), "a"),
             (3, dt("2024-01-03 00:00:01"), "a")]  # advances watermark past day 1
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(in_dir)

    def run():
        src = spark.readStream.schema(schema).parquet(in_dir)
        agg = (src.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 day").alias("w"))
               .agg(F.count(F.lit(1)).alias("n")))
        q = (agg.select(F.col("w.start").alias("day"), "n")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ck).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    got = spark.read.parquet(out_dir).toPandas()
    day1 = got[got.day.astype(str).str.startswith("2024-01-01")]
    assert len(day1) == 1 and int(day1.n.iloc[0]) == 2  # day-1 window finalized

    # a LATE day-1 row (watermark is already at 2024-01-02 23:00) must be
    # dropped: re-running the stream must not re-emit or update day 1
    rows2 = [(4, dt("2024-01-01 00:30:00"), "a")]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(in_dir)
    run()
    got2 = spark.read.parquet(out_dir).toPandas()
    day1b = got2[got2.day.astype(str).str.startswith("2024-01-01")]
    assert len(day1b) == 1 and int(day1b.n.iloc[0]) == 2


def test_stream_dedupe_across_batches(spark, tmp_path):
    """A byte-identical redelivery in a LATER micro-batch must be dropped
    (state survives: duplicate ts is within the watermark horizon)."""
    from moira_spark.streaming.stream_dedupe import dedupe_stream

    schema = "k bigint, ts timestamp, payload string"
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(
        tmp_path / "ck"
    )

    def dt(s):
        import datetime

        return datetime.datetime.fromisoformat(s)

    first = [(1, dt("2024-01-01 10:00:00"), "a"), (2, dt("2024-01-01 10:05:00"), "b")]
    redelivered = [(1, dt("2024-01-01 10:00:00"), "a"), (3, dt("2024-01-01 10:06:00"), "c")]
    spark.createDataFrame(first, schema).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(redelivered, schema).coalesce(1).write.mode("append").parquet(
        in_dir
    )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch
        .parquet(in_dir)
    )
    q = (
        dedupe_stream(src, keys=["k"], watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = spark.read.parquet(out_dir).toPandas().sort_values("k")
    assert got.k.tolist() == [1, 2, 3]  # duplicate k=1 arrival suppressed
    assert int(q.lastProgress["batchId"]) >= 1  # genuinely multiple batches


def test_incremental_dedup_handler_replay_idempotent(spark, tmp_path, monkeypatch):
    """foreachBatch is at-least-once: replaying a batch id — including after
    a TORN crash between the output commit and the state commit — must not
    double-commit survivors, emit duplicate flag rows, or (the subtle
    failure) flag the batch's own survivors as duplicates of themselves."""
    import pytest
    import pyspark.sql.functions as F

    from moira_spark.sources.tableio import SnapshotTable
    from moira_spark.streaming.stream_incremental_dedup import (
        make_batch_handler,
    )

    state_dir, out_dir = str(tmp_path / "state"), str(tmp_path / "out")
    handle = make_batch_handler(spark, state_dir, out_dir)

    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    handle(b0, 0)
    handle(b0, 0)  # clean replay: full no-op
    state, out = SnapshotTable(state_dir), SnapshotTable(out_dir)
    assert state.read(spark).count() == 2
    assert out.read(spark).count() == 2
    assert state.latest_snapshot().version == 1
    assert out.latest_snapshot().version == 1

    # torn crash: let the OUTPUT commit land, crash before the STATE commit
    orig_commit = SnapshotTable.commit
    crash = {"armed": True}

    def crashing(self, spark_, run_id, committed_keys=None):
        snap = orig_commit(self, spark_, run_id, committed_keys)
        if crash["armed"] and self.table_dir == out.table_dir:
            crash["armed"] = False
            raise RuntimeError("injected crash after output commit")
        return snap

    monkeypatch.setattr(SnapshotTable, "commit", crashing)
    b1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "brand new content here")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        handle(b1, 1)
    assert out.is_committed("batch-1")
    assert not state.is_committed("batch-1")

    handle(b1, 1)  # replay after the torn crash
    assert state.latest_snapshot().version == 2  # exactly one more snapshot
    assert out.latest_snapshot().version == 2
    flags = out.read(spark).filter(F.col("batch_id") == 1)
    rows = {r["doc_id"]: r for r in flags.collect()}
    assert set(rows) == {10, 11}
    assert rows[10]["dup_exact"] and not rows[10]["survives"]
    assert rows[11]["survives"]  # NOT a duplicate of its own torn commit
    # survivors in state: docs 1, 2 from batch 0 + doc 11 from batch 1
    assert sorted(
        r["doc_id"] for r in state.read(spark).collect()
    ) == [1, 2, 11]

    handle(b1, 1)  # fully-landed replay: no-op
    assert state.latest_snapshot().version == 2
    assert out.latest_snapshot().version == 2


def test_incremental_dedup_bands_backfill_on_pre_bands_state(spark, tmp_path):
    """A stream resumed from state committed BEFORE the bands table existed
    must still near-match OLDER history (round-5 self-review): the handler
    detects that the bands table does not cover every state run, backfills
    band rows for the uncovered docs once (anti-join on doc_id), marks the
    state runs covered, and only then trusts the persisted bands."""
    import pyspark.sql.functions as F

    from moira_spark.harness.dedup import _with_signatures
    from moira_spark.sources.tableio import SnapshotTable
    from moira_spark.streaming.stream_incremental_dedup import (
        make_batch_handler,
    )

    state_dir, out_dir = str(tmp_path / "state"), str(tmp_path / "out")
    # simulate pre-bands history: batch-0 survivors committed directly to
    # the state table with NO bands sibling (what a pre-round-5 stream left)
    b0 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    state = SnapshotTable(state_dir)
    enriched0 = _with_signatures(b0).select(
        "doc_id", "text", "fingerprint", "mh"
    )
    state.stage(enriched0, "batch-0")
    state.commit(spark, "batch-0")

    handle = make_batch_handler(spark, state_dir, out_dir)
    b1 = spark.createDataFrame(
        [
            (
                10,
                "alpha beta gamma delta epsilon zeta eta theta iota kappa"
                " extra trailing token",
            ),
            (11, "completely different fresh content with many novel words"),
        ],
        "doc_id long, text string",
    )
    handle(b1, 1)
    flags = {
        r["doc_id"]: r for r in SnapshotTable(out_dir).read(spark).collect()
    }
    # the near-copy of PRE-BANDS history must be caught, not silently kept
    assert flags[10]["dup_near"] and not flags[10]["survives"]
    assert flags[11]["survives"]
    bands = SnapshotTable(f"{state_dir}_bands")
    bsnap = bands.latest_snapshot()
    assert {"batch-0", "batch-1"} <= set(bsnap.committed_keys)
    ids = {
        r["doc_id"]
        for r in bands.read(spark).select("doc_id").distinct().collect()
    }
    assert {1, 2, 11} <= ids  # backfilled history + new survivor
    # a later batch sees full coverage: near-match again, no re-backfill
    b2 = spark.createDataFrame(
        [
            (
                20,
                "one two three four five six seven eight nine ten"
                " extra trailing token",
            )
        ],
        "doc_id long, text string",
    )
    handle(b2, 2)
    flags2 = {
        r["doc_id"]: r
        for r in SnapshotTable(out_dir)
        .read(spark)
        .filter(F.col("batch_id") == 2)
        .collect()
    }
    assert flags2[20]["dup_near"] and not flags2[20]["survives"]
    assert not any(
        r.startswith("backfill-batch-2")
        for r in bands.latest_snapshot().run_ids
    )


def test_incremental_consumer_across_stream_and_compaction(spark, tmp_path):
    """The downstream-consumption story end to end: a streaming ingest
    appends one snapshot per micro-batch; an incremental consumer
    (read_changes) picks up exactly each batch's rows from its last-seen
    version; a mid-stream sorted compaction neither duplicates rows into
    the consumer's view nor disturbs subsequent increments."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    src = tg.gen_spark(spark, N_TURNS)
    arrivals = [
        src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i)
        for i in range(3)
    ]
    table = SnapshotTable(out_dir)
    consumed = 0
    cursor = 0  # the consumer's last-seen snapshot version
    for i, part in enumerate(arrivals):
        part.write.mode("append").parquet(in_dir)
        q = stream_labels(spark, in_dir, out_dir, ck_dir)
        q.awaitTermination(120)
        head = table.latest_snapshot().version
        batch = table.read_changes(spark, cursor, head)
        n = batch.count()
        assert n == part.select("conv_id", "turn_idx").distinct().count()
        consumed += n
        cursor = head
        if i == 0:  # nightly maintenance between arrivals
            snap = table.compact(
                spark, target_partitions=2, cluster_by=["conv_id"]
            )
            cursor_before_compact = cursor
            cursor = snap.version
            # the rewrite contributes nothing to the consumer
            assert (
                table.read_changes(
                    spark, cursor_before_compact, cursor
                ).count()
                == 0
            )
    assert consumed == table.read(spark).count()


def test_incremental_consumer_survives_mid_stream_merge(spark, tmp_path):
    """Round-6 verdict item 3: the first post-redaction incremental export
    hits a MERGE in its range.  read_changes correctly refuses (a rewrite
    is not appends); the consumer switches to read_changelog for that
    range, applies the delete+insert rows to its materialized state, and
    resumes plain append consumption afterwards — ending value-identical
    to the table."""
    import pytest

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    src = tg.gen_spark(spark, N_TURNS)
    arrivals = [
        src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i)
        for i in range(2)
    ]
    table = SnapshotTable(out_dir)
    state: dict = {}  # the consumer's materialized (conv_id, turn_idx) view
    cursor = 0

    def _apply_appends(frm: int, to: int) -> None:
        for r in table.read_changes(spark, frm, to).collect():
            state[(r["conv_id"], r["turn_idx"])] = r["scrubbed_text"]

    for part in arrivals:
        part.write.mode("append").parquet(in_dir)
        q = stream_labels(spark, in_dir, out_dir, ck_dir)
        q.awaitTermination(120)
    head = table.latest_snapshot().version
    _apply_appends(cursor, head)
    cursor = head

    # mid-stream redaction MERGE: rewrite the scrubbed text of one conv
    victim = table.read(spark).limit(1).collect()[0]
    upd = spark.createDataFrame(
        [(victim["conv_id"], victim["turn_idx"], "[REDACTED-BY-MERGE]")],
        "conv_id string, turn_idx int, scrubbed_text string",
    )
    merged = table.merge(
        spark, upd, ["conv_id", "turn_idx"], merge_id="redact-1"
    )

    # the append-only scan must refuse the range...
    with pytest.raises(ValueError, match="read_changelog"):
        table.read_changes(spark, cursor, merged.version)
    # ...and the changelog consumption applies the rewrite row-by-row
    for r in table.read_changelog(spark, cursor, merged.version).collect():
        key = (r["conv_id"], r["turn_idx"])
        if r["_change_type"] == "delete":
            assert state.pop(key) is not None
        else:
            state[key] = r["scrubbed_text"]
    cursor = merged.version
    assert state[(victim["conv_id"], victim["turn_idx"])] == (
        "[REDACTED-BY-MERGE]"
    )

    # post-merge appends consume normally again
    extra = tg.gen_spark(spark, 300).withColumn(
        "conv_id", F.concat(F.lit("late-"), F.col("conv_id"))
    )
    extra.write.mode("append").parquet(in_dir)
    q = stream_labels(spark, in_dir, out_dir, ck_dir)
    q.awaitTermination(120)
    head = table.latest_snapshot().version
    _apply_appends(cursor, head)

    truth = {
        (r["conv_id"], r["turn_idx"]): r["scrubbed_text"]
        for r in table.read(spark).collect()
    }
    assert state == truth


def test_stream_audit_totals_equal_the_jobs(spark, tmp_path):
    """Each micro-batch is audited like a job bucket: over the same rows the
    stream's audit totals equal the job's, and the audit table holds one run
    per committed labels run."""
    from moira_spark.job import run_filter_job

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    src = tg.gen_spark(spark, N_TURNS)
    _write_arrivals(src, in_dir, 3)
    _drain(spark, in_dir, out_dir, str(tmp_path / "ck"))
    job_dir = str(tmp_path / "job")
    run_filter_job(spark, src, job_dir, "tot", n_buckets=2)

    labels, audit = SnapshotTable(out_dir), SnapshotTable(f"{out_dir}_audit")
    runs = [f"stream-batch-{b}" for b in range(3)]
    assert labels.latest_snapshot().run_ids == runs
    assert audit.latest_snapshot().run_ids == runs
    got = _audit_totals(spark, audit)
    assert got == _audit_totals(spark, SnapshotTable(f"{job_dir}/audit"))
    assert got["input_turns"] == labels.read(spark).count()
    assert got["dropped_turns"] > 0 and got["rule_hits"]  # not vacuous
    assert {
        r.snapshot_bucket: r.run_id for r in audit.read(spark).collect()
    } == dict(enumerate(runs))


def test_crash_between_batch_commits_keeps_the_committed_audit(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER batch 1's audit commit, BEFORE its labels commit: the
    restarted stream replays batch 1 without re-staging the audit dir a
    committed snapshot references, and ends equal to an uninterrupted drain
    (the job's rule, tests/test_resume.py::TestCrashBetweenCommits)."""
    import pandas as pd

    in_dir = str(tmp_path / "in")
    _write_arrivals(tg.gen_spark(spark, N_TURNS), in_dir, 3)
    ref_dir, out_dir, ck_dir = (str(tmp_path / d) for d in ("ref", "out", "ck"))
    _drain(spark, in_dir, ref_dir, str(tmp_path / "ref_ck"))

    labels, audit = SnapshotTable(out_dir), SnapshotTable(f"{out_dir}_audit")
    orig = SnapshotTable.commit

    def commit(self, spark_, run_id, *args, **kw):
        if run_id == "stream-batch-1" and self.table_dir == labels.table_dir:
            raise RuntimeError("injected crash before labels commit")
        return orig(self, spark_, run_id, *args, **kw)

    monkeypatch.setattr(SnapshotTable, "commit", commit)
    with pytest.raises(Exception, match="injected crash before labels commit"):
        _drain(spark, in_dir, out_dir, ck_dir)
    monkeypatch.undo()
    assert audit.is_committed("stream-batch-1")
    assert not labels.is_committed("stream-batch-1")

    audit_dir = audit.staged_dir("stream-batch-1")

    def mtimes():
        return {
            f: os.path.getmtime(os.path.join(audit_dir, f))
            for f in sorted(os.listdir(audit_dir))
            if not f.startswith(".")
        }

    before = mtimes()
    _drain(spark, in_dir, out_dir, ck_dir)  # restart on the same checkpoint
    assert mtimes() == before, "committed audit data dir was rewritten"
    runs = [f"stream-batch-{b}" for b in range(3)]
    assert audit.latest_snapshot().run_ids == runs
    assert labels.latest_snapshot().run_ids == runs

    def state(table):
        pdf = table.read(spark).toPandas()
        pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        return pdf.assign(reasons=pdf.reasons.map(tuple))

    pd.testing.assert_frame_equal(state(labels), state(SnapshotTable(ref_dir)))
