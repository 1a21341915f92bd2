"""Crash/resume semantics (SURVEY.md §5.2: resume test) + snapshot IO."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from moira_spark.datagen import transcripts as tg
from moira_spark.job import run_filter_job
from moira_spark.sources.tableio import SnapshotTable

N_TURNS = 3000


def _plain(vals) -> dict:
    """The zone-map entry commit records for a plain column's values."""
    nn = [v for v in vals if v is not None]
    return {
        "min": min(nn, default=None),
        "max": max(nn, default=None),
        "nulls": len(vals) - len(nn),
    }


def _fold(snap, run: str, col: str) -> tuple:
    """(min, max, nulls) of ``col`` over one run's per-file zone maps."""
    ents = [st[col] for st in snap.file_stats[run].values()]
    mins = [e["min"] for e in ents if e["min"] is not None]
    maxs = [e["max"] for e in ents if e["max"] is not None]
    return (
        min(mins, default=None),
        max(maxs, default=None),
        sum(e["nulls"] for e in ents),
    )


def _final_state(spark, table: SnapshotTable):
    df = table.read(spark)
    pdf = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pdf


class TestSnapshotTable:
    def test_read_before_any_commit(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        assert t.read(spark) is None

    def test_stage_without_commit_is_invisible(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        df = spark.range(5).toDF("x")
        t.stage(df, "r1")
        assert t.read(spark) is None  # no snapshot -> invisible
        t.commit(spark, "r1")
        assert t.read(spark).count() == 5

    def test_commit_idempotent(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        s1 = t.commit(spark, "r1")
        s2 = t.commit(spark, "r1")
        assert s1.version == s2.version == 1
        assert t.read(spark).count() == 3

    def test_multiple_runs_union(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(spark.range(4).toDF("x"), "r2")
        t.commit(spark, "r2")
        assert t.read(spark).count() == 7
        assert t.latest_snapshot().version == 2

    def test_time_travel(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(spark.range(4).toDF("x"), "r2")
        t.commit(spark, "r2")
        assert t.read(spark, version=1).count() == 3  # as-of v1
        assert t.read(spark, version=2).count() == 7
        assert t.read(spark, version=99) is None


class TestResume:
    def test_crash_then_resume_identical(self, spark, tmp_path):
        src = tg.gen_spark(spark, N_TURNS)

        # reference: single uninterrupted job
        ref_table = run_filter_job(spark, src, str(tmp_path / "ref"), "runA")
        ref = _final_state(spark, ref_table)

        # crashed job: dies after 2 of 4 buckets...
        out_dir = str(tmp_path / "crashy")
        with pytest.raises(RuntimeError, match="injected crash"):
            run_filter_job(
                spark, src, out_dir, "runA", fail_after_buckets=2
            )
        partial = SnapshotTable(f"{out_dir}/labels")
        n_partial = partial.read(spark).count()
        assert 0 < n_partial < len(ref)

        # ...then resumes: completes only the missing buckets
        resumed_table = run_filter_job(spark, src, out_dir, "runA")
        resumed = _final_state(spark, resumed_table)

        assert len(resumed) == len(ref)
        for col in ("conv_id", "turn_idx", "keep", "scrubbed_text", "conv_keep"):
            assert resumed[col].tolist() == ref[col].tolist(), col

        # re-running a completed job changes nothing (idempotence)
        again = _final_state(spark, run_filter_job(spark, src, out_dir, "runA"))
        assert again["scrubbed_text"].tolist() == ref["scrubbed_text"].tolist()
        # audit: one committed run per bucket, no duplicates
        audit = SnapshotTable(f"{out_dir}/audit").read(spark).toPandas()
        assert sorted(audit.snapshot_bucket.unique().tolist()) == [0, 1, 2, 3]

    @pytest.mark.parametrize("maintenance", ["compact", "cow_merge"])
    def test_rerun_after_maintenance_commits_nothing(
        self, spark, tmp_path, monkeypatch, maintenance
    ):
        """Maintenance folds bucket runs into retired_run_ids; re-running
        the finished job must still skip every bucket (is_committed counts
        retired runs): nothing is staged — a retired run's dir is still
        referenced by older snapshots — no labels or audit version appears,
        and the table is unchanged."""
        import pandas as pd

        src = tg.gen_spark(spark, N_TURNS)
        out = str(tmp_path / "job")
        labels = run_filter_job(spark, src, out, "maint", n_buckets=3)
        audit = SnapshotTable(f"{out}/audit")
        buckets = {f"maint-b{b}" for b in range(3)}
        if maintenance == "compact":
            labels.compact(spark)
            assert set(labels.latest_snapshot().retired_run_ids) == buckets
        else:
            first = labels.read(spark).orderBy("conv_id", "turn_idx").limit(1)
            upd = spark.createDataFrame(first.collect(), first.schema)
            labels.merge(
                spark,
                upd.withColumn("scrubbed_text", F.lit("[redacted]")),
                ["conv_id", "turn_idx"],
                merge_id="redact",
                mode="cow",
            )
            retired = labels.latest_snapshot().retired_run_ids
            assert len(retired) == 1 and retired[0] in buckets

        def state():
            pdf = _final_state(spark, labels)
            return (
                labels.latest_snapshot().version,
                audit.latest_snapshot().version,
                pdf.assign(reasons=pdf.reasons.map(tuple)),
            )

        *versions, before = state()
        monkeypatch.setattr(
            SnapshotTable, "stage",
            lambda self, df, run_id, **kw: pytest.fail(f"re-staged {run_id}"),
        )
        run_filter_job(spark, src, out, "maint", n_buckets=3)
        *versions_after, after = state()
        assert versions_after == versions
        pd.testing.assert_frame_equal(after, before)

    def test_lookahead_stage_error_keeps_committed_prefix(
        self, spark, tmp_path, monkeypatch
    ):
        """Bucket b+1 stages while bucket b commits.  A staging error in
        the look-ahead bucket surfaces from the job only after every
        earlier bucket committed: labels and audit hold exactly b0 and b1,
        and a resume equals an uninterrupted run."""
        import pandas as pd

        src = tg.gen_spark(spark, N_TURNS)
        ref_table = run_filter_job(spark, src, str(tmp_path / "ref"), "la", n_buckets=3)
        ref = _final_state(spark, ref_table)

        orig = SnapshotTable.stage

        def stage(self, df, run_id, **kw):
            if run_id == "la-b2" and self.table_dir.endswith("labels"):
                raise OSError("disk full staging la-b2")
            return orig(self, df, run_id, **kw)

        out = str(tmp_path / "job")
        monkeypatch.setattr(SnapshotTable, "stage", stage)
        with pytest.raises(OSError, match="disk full staging la-b2"):
            run_filter_job(spark, src, out, "la", n_buckets=3)
        monkeypatch.undo()
        labels, audit = SnapshotTable(f"{out}/labels"), SnapshotTable(f"{out}/audit")
        assert labels.latest_snapshot().run_ids == ["la-b0", "la-b1"]
        assert audit.latest_snapshot().run_ids == ["la-b0", "la-b1"]

        resumed = _final_state(spark, run_filter_job(spark, src, out, "la", n_buckets=3))
        pd.testing.assert_frame_equal(
            resumed.assign(reasons=resumed.reasons.map(tuple)),
            ref.assign(reasons=ref.reasons.map(tuple)),
        )
        buckets = [f"la-b{b}" for b in range(3)]
        assert labels.latest_snapshot().run_ids == buckets
        assert audit.latest_snapshot().run_ids == buckets

    def test_full_job_commits_in_bucket_order_caching_one_frame(
        self, spark, tmp_path, monkeypatch
    ):
        """Both tables list the bucket runs in bucket order, and at most one
        bucket's persisted scored frame is alive at any time: the staging
        thread releases it right after staging, before the next bucket's
        run_pipeline persists another (releasing after the commits, as the
        sequential loop did, would overlap two)."""
        import threading

        from moira_spark import job

        lock = threading.Lock()
        live, peak = [0], [0]

        def run_pipeline(spark_, df):
            out = orig_run(spark_, df)
            with lock:
                live[0] += 1
                peak[0] = max(peak[0], live[0])
            return out

        def release_cache(labels):
            orig_release(labels)
            with lock:
                live[0] -= 1

        orig_run, orig_release = job.run_pipeline, job.release_cache
        monkeypatch.setattr(job, "run_pipeline", run_pipeline)
        monkeypatch.setattr(job, "release_cache", release_cache)

        out = str(tmp_path / "job")
        run_filter_job(spark, tg.gen_spark(spark, N_TURNS), out, "ord", n_buckets=3)
        assert (peak[0], live[0]) == (1, 0)
        buckets = [f"ord-b{b}" for b in range(3)]
        for table in ("labels", "audit"):
            assert SnapshotTable(f"{out}/{table}").latest_snapshot().run_ids == buckets

    @pytest.mark.parametrize("n_buckets", [0, -1])
    def test_no_buckets_is_refused_before_any_table_is_touched(
        self, spark, tmp_path, n_buckets
    ):
        import driver

        out = tmp_path / "job"
        with pytest.raises(ValueError, match="n_buckets must be >= 1"):
            run_filter_job(spark, tg.gen_spark(spark, 100), str(out), "z", n_buckets=n_buckets)
        assert not out.exists()
        with pytest.raises(SystemExit):
            driver.parse_args(
                ["--synthetic-turns", "100", "--output", str(out), "--run-id", "z",
                 "--buckets", str(n_buckets)]
            )

    def test_conversation_atomicity(self, spark, tmp_path):
        """Every conversation is judged whole inside one bucket: the bucketed
        job's verdicts equal the single-pipeline verdicts."""
        from moira_spark.oracle import ref_pipeline as orc

        src = tg.gen_spark(spark, N_TURNS)
        table = run_filter_job(spark, src, str(tmp_path / "atom"), "runB")
        got = _final_state(spark, table)
        ref = orc.run(tg.gen_pandas(N_TURNS)).sort_values(
            ["conv_id", "turn_idx"]
        ).reset_index(drop=True)
        assert got.keep.tolist() == ref.keep.tolist()
        assert got.conv_keep.tolist() == ref.conv_keep.tolist()
        assert got.scrubbed_text.tolist() == ref.scrubbed_text.tolist()


class TestLabelLayout:
    def test_sorted_labels_make_point_reads_plan_one_file_per_run(
        self, spark, tmp_path
    ):
        """The job writes every bucket sorted on LABEL_SORT, so a
        conversation point read plans the files holding the conversation
        plus at most one file of each other run, and stays exact.  With 16
        files per run the hot conversation (150 turns) outgrows 1.5 files
        of its bucket (~1500 rows), so the files stay balanced only if the
        composite key splits it."""
        from collections import Counter, defaultdict

        from moira_spark.pipeline import LABEL_SORT

        # read from parquet as driver.py does: an in-memory source gets
        # coalesced into one file per run, which hides the layout
        tg.gen_spark(spark, N_TURNS).write.parquet(str(tmp_path / "in"))
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            table = run_filter_job(
                spark, spark.read.parquet(str(tmp_path / "in")),
                str(tmp_path / "job"), "lay", n_buckets=3,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        snap = table.latest_snapshot()
        run_of, rows_of, holding = {}, {}, defaultdict(set)
        for run in snap.run_ids:
            d = table.staged_dir(run)
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    keys = [
                        tuple(r) for r in spark.read.parquet(os.path.join(d, fn))
                        .select(*LABEL_SORT).collect()
                    ]
                    assert keys == sorted(keys), fn  # sorted within the file
                    run_of[fn], rows_of[fn] = run, len(keys)
                    for conv, _ in keys:
                        holding[conv].add(fn)
        for run in snap.run_ids:
            sizes = [n for fn, n in rows_of.items() if run_of[fn] == run]
            assert max(sizes) <= 1.5 * sum(sizes) / len(sizes), (run, sizes)
        assert len(holding[tg.HOT_CONV_ID]) >= 2  # the hot conv is split

        full = defaultdict(list)
        for r in table.read(spark).collect():
            full[r.conv_id].append(r)
        assert set(full) == set(holding)
        for conv, files in holding.items():
            df = table.read(spark, filters=[("conv_id", "=", conv)])
            planned = {os.path.basename(f) for f in df.inputFiles()}
            assert files <= planned, conv
            others = Counter(run_of[fn] for fn in planned - files)
            assert all(n <= 1 for n in others.values()), (conv, others)
            assert not set(others) & {run_of[fn] for fn in files}, conv
            assert sorted(df.collect()) == sorted(full[conv]), conv


class TestAuditRows:
    """job.audit_rows values, recomputed in pandas from the same labels."""

    @staticmethod
    def _expected(labels) -> dict:
        from collections import Counter

        pdf = labels.select(
            F.spark_partition_id().alias("partition_id"),
            "conv_id", "keep", "conv_keep", "reasons",
        ).toPandas()
        want = {}
        for pid, g in pdf.groupby("partition_id"):
            hits = Counter(r for rs in g.reasons for r in rs)
            want[int(pid)] = {
                "input_turns": len(g),
                "kept_turns": int(g.keep.sum()),
                "dropped_turns": int((~g.keep).sum()),
                "rule_hits": sorted(hits.items()),
                "convs_dropped": g.loc[~g.conv_keep, "conv_id"].nunique(),
            }
        return want

    def test_audit_matches_pandas_per_partition(self, spark, tmp_path):
        from moira_spark.job import AUDIT_SCHEMA_DOC, audit_rows
        from moira_spark.pipeline import release_cache, run_pipeline

        labels = run_pipeline(spark, tg.gen_spark(spark, N_TURNS))
        labels.write.parquet(str(tmp_path / "labels"))
        release_cache(labels)
        staged = spark.read.parquet(str(tmp_path / "labels"))
        # as the job stages it, and under a layout with many partitions
        for frame in (staged, staged.repartition(8, "conv_id")):
            want = self._expected(frame)
            rows = audit_rows(frame, "run", 3, 17).withColumn(
                "keys", F.map_keys("rule_hits")
            ).collect()
            assert rows and rows[0].__fields__ == [
                c.split()[0] for c in AUDIT_SCHEMA_DOC.split(", ")
            ] + ["keys"]
            got = {}
            for r in rows:
                assert (r.run_id, r.snapshot_bucket, r.wall_ms) == ("run", 3, 17)
                # map entries sorted by reason; no zero-count entries
                assert r.keys == sorted(r.rule_hits)
                assert all(n > 0 for n in r.rule_hits.values())
                got[r.partition_id] = {
                    "input_turns": r.input_turns,
                    "kept_turns": r.kept_turns,
                    "dropped_turns": r.dropped_turns,
                    "rule_hits": sorted(r.rule_hits.items()),
                    "convs_dropped": r.convs_dropped,
                }
            assert got == want
            assert sum(v["input_turns"] for v in got.values()) == staged.count()

    def test_partition_without_hits_gets_empty_map(self, spark):
        from moira_spark.job import audit_rows

        labels = spark.createDataFrame(
            [("c1", True, True, []), ("c2", True, True, [])],
            "conv_id string, keep boolean, conv_keep boolean, "
            "reasons array<string>",
        ).coalesce(1)
        [row] = audit_rows(labels, "run", 0, 0).collect()
        assert row.rule_hits == {}
        assert (row.input_turns, row.kept_turns, row.convs_dropped) == (2, 2, 0)


class TestCrashBetweenCommits:
    def test_resume_preserves_committed_audit_data(self, spark, tmp_path):
        """Crash in the window AFTER audit-commit but BEFORE labels-commit:
        the resume must not re-stage (overwrite) the audit data directory a
        committed snapshot already references — snapshot immutability."""
        import pyspark.sql.functions as F

        from moira_spark.job import _bucket_of, audit_rows
        from moira_spark.pipeline import release_cache, run_pipeline

        out = str(tmp_path / "job")
        src = tg.gen_spark(spark, N_TURNS)
        labels_table = SnapshotTable(f"{out}/labels")
        audit_table = SnapshotTable(f"{out}/audit")

        # manually reproduce bucket 0 up to the crash point
        run_id, bucket, n_buckets = "between", 0, 2
        bucket_run = f"{run_id}-b{bucket}"
        slice_df = src.filter(_bucket_of(F.col("conv_id"), n_buckets) == bucket)
        labels = run_pipeline(spark, slice_df)
        labels_table.stage(labels, bucket_run)
        staged = spark.read.parquet(labels_table.staged_dir(bucket_run))
        audit_table.stage(audit_rows(staged, run_id, bucket, 0), bucket_run)
        audit_table.commit(spark, bucket_run)
        release_cache(labels)
        # <crash here: labels for bucket 0 never committed>

        audit_dir = audit_table.staged_dir(bucket_run)
        before = {
            f: os.path.getmtime(os.path.join(audit_dir, f))
            for f in sorted(os.listdir(audit_dir))
            if not f.startswith(".")
        }
        committed_rows = audit_table.read(spark).drop("wall_ms").toPandas()

        # resume: must finish both buckets WITHOUT touching the audit dir
        run_filter_job(spark, src, out, run_id=run_id, n_buckets=n_buckets)

        after = {
            f: os.path.getmtime(os.path.join(audit_dir, f))
            for f in sorted(os.listdir(audit_dir))
            if not f.startswith(".")
        }
        assert before == after, "committed audit data dir was rewritten"

        # final state complete & consistent (labels are per deduped turn)
        n_unique = src.select("conv_id", "turn_idx").distinct().count()
        assert labels_table.read(spark).count() == n_unique
        audit_now = audit_table.read(spark)
        assert audit_now.select("snapshot_bucket").distinct().count() == n_buckets
        # bucket-0 audit rows are byte-for-byte the pre-crash committed ones
        b0 = (
            audit_now.filter(F.col("snapshot_bucket") == 0)
            .drop("wall_ms").toPandas()
            .sort_values("partition_id").reset_index(drop=True)
        )
        want = committed_rows.sort_values("partition_id").reset_index(drop=True)
        assert b0.equals(want)


class TestMaintenance:
    def test_compact_is_data_identical_and_preserves_resume(self, spark, tmp_path):
        from moira_spark.sources.tableio import SnapshotTable

        t = SnapshotTable(str(tmp_path / "t"))
        for b in range(4):
            df = spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x")
            t.stage(df, f"r{b}")
            t.commit(spark, f"r{b}", committed_keys=[f"job/bucket={b}"])
        before = sorted(r.x for r in t.read(spark).collect())
        pre_version = t.latest_snapshot().version

        snap = t.compact(spark, target_partitions=2)
        # run id carries the target version plus a per-attempt nonce (racing
        # compactors must never share a staging dir)
        assert len(snap.run_ids) == 1
        assert snap.run_ids[0].startswith(f"compact-v{snap.version}-")
        assert sorted(r.x for r in t.read(spark).collect()) == before
        # resume bookkeeping survives: every bucket still reads as committed
        assert set(snap.committed_keys) == {f"job/bucket={b}" for b in range(4)}
        # time travel to the pre-compaction snapshot still works (not vacuumed)
        old = t.read(spark, version=pre_version)
        assert sorted(r.x for r in old.collect()) == before

    def test_vacuum_removes_expired_and_orphaned_dirs(self, spark, tmp_path):
        import os

        from moira_spark.sources.tableio import SnapshotTable

        t = SnapshotTable(str(tmp_path / "t"))
        for b in range(3):
            df = spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "x")
            t.stage(df, f"r{b}")
            t.commit(spark, f"r{b}")
        # an orphan: staged but never committed (simulated crash)
        t.stage(spark.range(99, 101).withColumnRenamed("id", "x"), "orphan")
        before = sorted(r.x for r in t.read(spark).collect())

        t.compact(spark)
        # default age threshold protects everything this young
        assert t.vacuum(retain_last=1) == []
        removed = t.vacuum(retain_last=1, min_age_seconds=0)
        names = {os.path.basename(p) for p in removed}
        assert names == {"run_id=r0", "run_id=r1", "run_id=r2", "run_id=orphan"}
        assert sorted(r.x for r in t.read(spark).collect()) == before

    def test_compact_keeps_replayed_commits_idempotent(self, spark, tmp_path):
        """A checkpoint-replayed micro-batch commit after compact() must be
        a no-op: is_committed() consults retired_run_ids, so the replayed
        batch neither re-stages (over a dir old snapshots reference) nor
        duplicates rows."""
        from moira_spark.sources.tableio import SnapshotTable

        t = SnapshotTable(str(tmp_path / "t"))
        for b in range(3):
            df = spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "x")
            t.stage(df, f"stream-batch-{b}")
            t.commit(spark, f"stream-batch-{b}")
        t.compact(spark)
        assert t.is_committed("stream-batch-1")  # the replay guard
        snap = t.commit(spark, "stream-batch-1")  # replayed commit: no-op
        assert snap.version == t.latest_snapshot().version
        assert len(t.read(spark).collect()) == 15  # rows NOT duplicated


class TestSnapshotConcurrency:
    """CAS commit protocol (round-3 ADVICE fix): a commit landing between a
    maintenance operation's snapshot read and write must never be lost."""

    def test_commit_retries_past_conflicting_version(self, spark, tmp_path):
        # Another writer (a second SnapshotTable handle on the same dir)
        # claims v2 first; our commit must CAS-retry onto v3, keeping both.
        t1 = SnapshotTable(str(tmp_path / "t"))
        t2 = SnapshotTable(str(tmp_path / "t"))
        t1.stage(spark.range(3).toDF("x"), "r1")
        t1.commit(spark, "r1")
        t1.stage(spark.range(4).toDF("x"), "r2")
        t2.stage(spark.range(5).toDF("x"), "r3")
        t2.commit(spark, "r3")  # wins v2
        snap = t1.commit(spark, "r2")  # must land v3, not overwrite v2
        assert snap.version == 3
        assert set(snap.run_ids) == {"r1", "r3", "r2"}
        assert t1.read(spark).count() == 12

    def test_compact_refolds_rows_committed_mid_compaction(
        self, spark, tmp_path, monkeypatch
    ):
        # The exact ADVICE scenario: a foreachBatch-style commit lands
        # between compact()'s snapshot read and its snapshot write.  The
        # losing compaction must retry from the fresh snapshot and fold the
        # new rows in — before the fix, last-writer-wins silently dropped
        # them.
        from moira_spark.sources import tableio

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")

        real_write = SnapshotTable._write_snapshot
        fired = {"done": False}

        def racing_write(self_, snap):
            if not fired["done"]:
                fired["done"] = True
                other = SnapshotTable(self_.table_dir)
                other.stage(spark.range(100, 104).toDF("x"), "mid-batch")
                other.commit(spark, "mid-batch")  # claims the version first
            return real_write(self_, snap)

        monkeypatch.setattr(SnapshotTable, "_write_snapshot", racing_write)
        snap = t.compact(spark)
        assert fired["done"]
        # every row survives: 3 original + 4 committed mid-compaction
        assert t.read(spark).count() == 7
        assert sorted(r.x for r in t.read(spark).collect()) == [
            0, 1, 2, 100, 101, 102, 103,
        ]
        # the mid-batch run stays resumable-committed after being folded
        assert t.is_committed("mid-batch")
        assert snap.version == t.latest_snapshot().version

    @pytest.mark.parametrize(
        "writer", ["commit", "compact", "merge_cow", "merge_mor", "rollback"]
    )
    def test_every_writer_builds_on_a_racing_append(
        self, spark, tmp_path, monkeypatch, writer
    ):
        # An append claims the version between the writer's snapshot read
        # and its snapshot write: the writer must lose the CAS, retry on
        # the fresh snapshot and land one version later, on top of it.
        kv = "k long, v string"
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.createDataFrame([(1, "a"), (2, "b")], kv), "r1")
        t.commit(spark, "r1")
        t.stage(spark.createDataFrame([(3, "c")], kv), "r2")
        if writer == "rollback":
            t.commit(spark, "r2")  # the append the rollback undoes
        upd = spark.createDataFrame([(2, "B")], kv)
        run, want = {
            "commit": (lambda: t.commit(spark, "r2"),
                       {1: "a", 2: "b", 3: "c", 7: "g"}),
            "compact": (lambda: t.compact(spark), {1: "a", 2: "b", 7: "g"}),
            "merge_cow": (lambda: t.merge(spark, upd, ["k"], "m1"),
                          {1: "a", 2: "B", 7: "g"}),
            "merge_mor": (lambda: t.merge(spark, upd, ["k"], "m1", mode="mor"),
                          {1: "a", 2: "B", 7: "g"}),
            # rollback restores v1's state: the racing append is undone too
            "rollback": (lambda: t.rollback(1), {1: "a", 2: "b"}),
        }[writer]
        base = t.latest_snapshot().version

        real_write = SnapshotTable._write_snapshot
        calls = []

        def racing_write(self_, snap):
            calls.append(snap.version)
            if len(calls) == 1:
                other = SnapshotTable(self_.table_dir)
                other.stage(spark.createDataFrame([(7, "g")], kv), "mid")
                other.commit(spark, "mid")  # claims base + 1 first
            return real_write(self_, snap)

        monkeypatch.setattr(SnapshotTable, "_write_snapshot", racing_write)
        snap = run()
        # writer's lost attempt, the racing append, the writer's retry
        assert calls == [base + 1, base + 1, base + 2]
        assert snap.version == t.latest_snapshot().version == base + 2
        assert "mid" in t.snapshot(base + 1).run_ids
        rows = t.read(spark).collect()
        assert {r.k: r.v for r in rows} == want and len(rows) == len(want)
        assert t.is_committed("mid") == (writer != "rollback")

    def test_partial_snapshot_file_never_visible(self, spark, tmp_path):
        # latest_snapshot resolves max v<N>.json; files appear via os.link
        # of fully-written temp files, so a reader never parses a partial
        # snapshot.  Simulate a straggler temp file and a stale LATEST.
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(2).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(spark.range(2).toDF("x"), "r2")
        t.commit(spark, "r2")
        # stale LATEST hint must not hide v2
        with open(os.path.join(t.snap_dir, "LATEST"), "w") as f:
            f.write("v1.json")
        assert t.latest_snapshot().version == 2

    def test_racing_compactions_use_distinct_staging_dirs(
        self, spark, tmp_path, monkeypatch
    ):
        # Two compactors racing from the same base version must stage into
        # different directories: with a shared deterministic dir name the
        # loser's mode("overwrite") would delete the winner's committed
        # data files.
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(6).toDF("x"), "r1")
        t.commit(spark, "r1")

        real_write = SnapshotTable._write_snapshot
        fired = {"done": False}

        def racing_write(self_, snap):
            if not fired["done"] and str(snap.run_ids[0]).startswith("compact-"):
                fired["done"] = True
                SnapshotTable(self_.table_dir).compact(spark)  # wins the CAS
            return real_write(self_, snap)

        monkeypatch.setattr(SnapshotTable, "_write_snapshot", racing_write)
        t.compact(spark)
        assert fired["done"]
        latest = t.latest_snapshot()
        assert latest.version == 3  # v1 commit, v2 winner, v3 retried loser
        assert t.read(spark).count() == 6
        assert sorted(r.x for r in t.read(spark).collect()) == list(range(6))
        # both compaction attempts left distinct dirs; winner's is intact
        runs = [
            e for e in sorted(
                __import__("os").listdir(t.data_dir)
            ) if "compact" in e
        ]
        assert len(runs) >= 2 and len(set(runs)) == len(runs)


class TestSchemaEvolution:
    """Iceberg-style additive schema evolution: schema lives in snapshot
    metadata; old runs read back with NULLs in later-added columns."""

    def test_added_column_reads_as_null_for_old_runs(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        import pyspark.sql.functions as F

        t.stage(
            spark.range(3, 5).toDF("x").withColumn("y", F.col("x") * 10), "r2"
        )
        t.commit(spark, "r2")
        out = t.read(spark).orderBy("x").collect()
        assert [r.x for r in out] == [0, 1, 2, 3, 4]
        assert [r.y for r in out] == [None, None, None, 30, 40]
        # time travel: v1 predates the column entirely
        assert t.read(spark, version=1).columns == ["x"]

    def test_type_change_is_refused(self, spark, tmp_path):
        import pyspark.sql.functions as F

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(
            spark.range(2).select(F.col("id").cast("string").alias("x")), "r2"
        )
        with pytest.raises(ValueError, match="schema evolution rejected"):
            t.commit(spark, "r2")

    def test_compact_preserves_evolved_schema(self, spark, tmp_path):
        import pyspark.sql.functions as F

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(
            spark.range(3, 5).toDF("x").withColumn("y", F.lit("v")), "r2"
        )
        t.commit(spark, "r2")
        t.compact(spark)
        out = t.read(spark).orderBy("x").collect()
        assert [r.x for r in out] == [0, 1, 2, 3, 4]
        assert [r.y for r in out] == [None, None, None, "v", "v"]


class TestZoneMapPruning:
    """Iceberg-style column metrics + manifest-level file skipping
    (tableio.py Snapshot.file_stats / SnapshotTable.prune / read(filters)).

    Pruning is an optimization with a proof obligation: read(filters=...)
    must ALWAYS equal read().filter(same predicate), and a run dir may be
    skipped only when the committed min/max/null stats of every one of its
    files prove emptiness."""

    def _three_runs(self, spark, tmp_path):
        import pyspark.sql.functions as F

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(0, 5).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(spark.range(5, 8).toDF("x"), "r2")
        t.commit(spark, "r2")
        t.stage(
            spark.range(8, 10).toDF("x").withColumn("y", F.col("x") * 2), "r3"
        )
        t.commit(spark, "r3")
        return t

    def test_commit_records_exact_stats(self, spark, tmp_path, file_values):
        t = self._three_runs(spark, tmp_path)
        snap = t.latest_snapshot()
        for run, col in [("r1", "x"), ("r2", "x"), ("r3", "x"), ("r3", "y")]:
            got = {fn: st[col] for fn, st in snap.file_stats[run].items()}
            want = {
                fn: _plain(v) for fn, v in file_values(t, run, col).items()
            }
            assert got == want, (run, col)
        assert _fold(snap, "r1", "x") == (0, 4, 0)
        assert _fold(snap, "r2", "x") == (5, 7, 0)
        assert _fold(snap, "r3", "y") == (16, 18, 0)
        # absent = column not in run schema
        assert all("y" not in st for st in snap.file_stats["r1"].values())

    def test_scan_skips_pruned_run_dirs(self, spark, tmp_path):
        t = self._three_runs(spark, tmp_path)
        df = t.read(spark, filters=[("x", ">=", 8)])
        # the plan never references r1/r2 files — skipped at plan-build time
        assert df.inputFiles(), "pruned scan lost its surviving files"
        assert all("run_id=r3" in p for p in df.inputFiles())
        assert sorted(r.x for r in df.collect()) == [8, 9]

    def test_pruned_read_equals_residual_filter(self, spark, tmp_path):
        import pyspark.sql.functions as F

        t = self._three_runs(spark, tmp_path)
        cases = [
            [("x", "<", 3)],
            [("x", "between", (4, 6))],
            [("x", "in", [2, 9])],
            [("x", ">", 100)],             # prunes everything
            [("x", ">=", 5), ("x", "<=", 5)],
            [("y", "is_not_null",)],
            [("y", "is_null",)],
        ]
        full = t.read(spark)
        from moira_spark.sources.tableio import _filters_to_expr

        for filters in cases:
            got = sorted(
                (r.x, r.y) for r in t.read(spark, filters=filters).collect()
            )
            want = sorted(
                (r.x, r.y)
                for r in full.filter(_filters_to_expr(filters)).collect()
            )
            assert got == want, f"pruned read diverged for {filters}"

    def test_all_pruned_returns_empty_frame_in_snapshot_schema(
        self, spark, tmp_path
    ):
        t = self._three_runs(spark, tmp_path)
        df = t.read(spark, filters=[("x", ">", 100)])
        assert df.columns == ["x", "y"]
        assert df.count() == 0

    def test_schema_evolution_prunes_pre_column_runs(self, spark, tmp_path):
        # r1/r2 predate column y: every row reads NULL there, so a
        # non-null-matching filter on y provably excludes them
        t = self._three_runs(spark, tmp_path)
        kept, skipped = t.prune(t.latest_snapshot(), [("y", ">", 0)])
        assert kept == ["r3"] and sorted(skipped) == ["r1", "r2"]
        assert sorted(
            r.x for r in t.read(spark, filters=[("y", ">", 0)]).collect()
        ) == [8, 9]

    def test_all_null_column_prunes_nonnull_ops_not_is_null(
        self, spark, tmp_path, file_values
    ):
        import pyspark.sql.functions as F

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(
            spark.range(3)
            .toDF("x")
            .withColumn("v", F.lit(None).cast("string")),
            "r1",
        )
        t.commit(spark, "r1")
        snap = t.latest_snapshot()
        assert {fn: st["v"] for fn, st in snap.file_stats["r1"].items()} == {
            fn: _plain(v) for fn, v in file_values(t, "r1", "v").items()
        }
        assert _fold(snap, "r1", "v") == (None, None, 3)
        assert t.prune(snap, [("v", "=", "a")]) == ([], ["r1"])
        assert t.prune(snap, [("v", "is_not_null")]) == ([], ["r1"])
        assert t.prune(snap, [("v", "is_null")]) == (["r1"], [])
        assert t.read(spark, filters=[("v", "is_null",)]).count() == 3

    def test_string_stats_prune(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(
            spark.createDataFrame([("apple",), ("fig",)], "s string"), "r1"
        )
        t.commit(spark, "r1")
        t.stage(
            spark.createDataFrame([("kiwi",), ("pear",)], "s string"), "r2"
        )
        t.commit(spark, "r2")
        snap = t.latest_snapshot()
        assert t.prune(snap, [("s", ">=", "melon")]) == (["r2"], ["r1"])
        assert t.prune(snap, [("s", "=", "fig")]) == (["r1"], ["r2"])
        # r1's two rows sit in two files (the session's 4 slices), so
        # "banana" falls in the gap between the files' ranges and no file
        # of r1 may match: per-file zone maps skip the run, which holds no
        # "banana" row
        assert sorted(
            (st["s"]["min"], st["s"]["max"])
            for st in snap.file_stats["r1"].values()
        ) == [("apple", "apple"), ("fig", "fig")]
        assert t.prune(snap, [("s", "=", "banana")]) == ([], ["r1", "r2"])
        assert t.read(spark, filters=[("s", "=", "banana")]).count() == 0
        got = sorted(
            r.s for r in t.read(spark, filters=[("s", "=", "fig")]).collect()
        )
        assert got == ["fig"]

    def test_legacy_snapshot_without_stats_never_prunes(self, spark, tmp_path):
        import json as _json

        from moira_spark.sources.tableio import Snapshot

        # a snapshot serialized before per-file stats existed round-trips
        # with empty stats and keeps every run under any filter
        t = self._three_runs(spark, tmp_path)
        d = _json.loads(t.latest_snapshot().to_json())
        del d["file_stats"]
        legacy = Snapshot.from_json(_json.dumps(d))
        assert legacy.file_stats == {}
        kept, skipped = t.prune(legacy, [("x", ">", 100)])
        assert skipped == [] and kept == ["r1", "r2", "r3"]

    def test_snapshot_with_column_stats_still_reads_resumes_commits(
        self, spark, tmp_path
    ):
        import json as _json

        # tables committed by earlier code also stored run-level
        # "column_stats" in every snapshot record: the key is ignored
        t = self._three_runs(spark, tmp_path)
        for fn in os.listdir(t.snap_dir):
            if not fn.endswith(".json"):
                continue
            p = os.path.join(t.snap_dir, fn)
            with open(p) as fh:
                d = _json.load(fh)
            d["column_stats"] = {r: {"x": {"u": True}} for r in d["run_ids"]}
            os.unlink(p)  # snapshot files are hard-linked; replace whole
            with open(p, "w") as fh:
                _json.dump(d, fh)
        assert sorted(r.x for r in t.read(spark).collect()) == list(range(10))
        assert t.read(spark, filters=[("x", ">=", 8)]).count() == 2
        assert t.is_committed("r2")
        assert t.commit(spark, "r2").version == 3  # resume: no-op
        t.stage(spark.range(10, 12).toDF("x"), "r4")
        snap = t.commit(spark, "r4")
        assert snap.version == 4 and t.read(spark).count() == 12
        with open(os.path.join(t.snap_dir, "v4.json")) as fh:
            assert "column_stats" not in _json.load(fh)

    def test_unknown_filter_op_raises(self, spark, tmp_path):
        t = self._three_runs(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown filter op"):
            t.read(spark, filters=[("x", "like", "%a%")])

    def test_compact_recomputes_stats_for_folded_run(self, spark, tmp_path):
        t = self._three_runs(spark, tmp_path)
        snap = t.compact(spark)
        # target_partitions=1: the folded run is one file
        [st] = snap.file_stats[snap.run_ids[0]].values()
        assert st["x"] == {"min": 0, "max": 9, "nulls": 0}
        assert st["y"] == {"min": 16, "max": 18, "nulls": 8}
        # pruning still sound over the compacted table
        assert t.read(spark, filters=[("x", ">=", 8)]).count() == 2


class TestFileLevelPruning:
    """Per-FILE zone maps (Snapshot.file_stats) + cluster_by sorted writes:
    within a kept run, read(filters=...) plans only the files whose stats
    can match — with a clustered write that is one file of N for a point
    query.  Same proof obligation as run-level pruning: the pruned read
    must ALWAYS equal read().filter(same predicate)."""

    def _clustered(self, spark, tmp_path, parts=4):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(
            spark.range(100).toDF("x"),
            "r1",
            cluster_by=["x"],
            cluster_partitions=parts,
        )
        t.commit(spark, "r1")
        return t

    def test_commit_records_per_file_stats(self, spark, tmp_path, file_values):
        t = self._clustered(spark, tmp_path)
        snap = t.latest_snapshot()
        fstats = snap.file_stats["r1"]
        assert len(fstats) == 4  # one entry per clustered output file
        # each file's entry is exact for its own rows
        assert {fn: st["x"] for fn, st in fstats.items()} == {
            fn: _plain(v) for fn, v in file_values(t, "r1", "x").items()
        }
        # files cover disjoint sorted ranges spanning the run's values
        spans = sorted(
            (st["x"]["min"], st["x"]["max"]) for st in fstats.values()
        )
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi < lo  # disjoint: sorted write-distribution
        assert spans[0][0] == 0 and spans[-1][1] == 99
        assert _fold(snap, "r1", "x") == (0, 99, 0)

    def test_point_read_plans_one_file_of_n(self, spark, tmp_path):
        t = self._clustered(spark, tmp_path)
        df = t.read(spark, filters=[("x", "=", 42)])
        assert len(df.inputFiles()) == 1  # file-level manifest pruning
        assert [r.x for r in df.collect()] == [42]

    def test_range_read_plans_matching_files_only(self, spark, tmp_path):
        t = self._clustered(spark, tmp_path)
        full = len(t.read(spark).inputFiles())
        df = t.read(spark, filters=[("x", "between", (10, 40))])
        assert 1 <= len(df.inputFiles()) < full
        assert sorted(r.x for r in df.collect()) == list(range(10, 41))

    def test_pruned_read_equals_residual_filter(self, spark, tmp_path):
        from moira_spark.sources.tableio import _filters_to_expr

        t = self._clustered(spark, tmp_path)
        t.stage(spark.range(100, 120).toDF("x"), "r2")  # unclustered run
        t.commit(spark, "r2")
        full = t.read(spark)
        for filters in [
            [("x", "<", 7)],
            [("x", ">=", 95), ("x", "<", 110)],
            [("x", "in", [3, 77, 115])],
            [("x", ">", 500)],  # prunes everything
        ]:
            got = sorted(
                r.x for r in t.read(spark, filters=filters).collect()
            )
            want = sorted(
                r.x for r in full.filter(_filters_to_expr(filters)).collect()
            )
            assert got == want, f"file-pruned read diverged for {filters}"

    def test_legacy_snapshot_without_file_stats_reads_whole_runs(
        self, spark, tmp_path
    ):
        import json as _json
        from dataclasses import replace

        from moira_spark.sources.tableio import Snapshot

        t = self._clustered(spark, tmp_path)
        d = _json.loads(t.latest_snapshot().to_json())
        del d["file_stats"]
        legacy = Snapshot.from_json(_json.dumps(d))
        assert legacy.file_stats == {}
        # no stats prove emptiness: the run is kept and read whole
        kept, _ = t.prune(legacy, [("x", "=", 42)])
        assert kept == ["r1"]
        t._write_snapshot(replace(legacy, version=legacy.version + 1))
        df = t.read(spark, filters=[("x", "=", 42)])
        assert sorted(df.inputFiles()) == sorted(t.read(spark).inputFiles())
        assert len(df.inputFiles()) == 4
        assert [r.x for r in df.collect()] == [42]

    def test_merge_carries_file_stats_for_untouched_runs(
        self, spark, tmp_path
    ):
        t = self._clustered(spark, tmp_path)
        t.stage(spark.range(200, 210).toDF("x"), "r2")
        t.commit(spark, "r2")
        src = spark.createDataFrame([(205, False)], "x long, _del boolean")
        t.merge(spark, src, key_cols=["x"], merge_id="m1", delete_col="_del")
        snap = t.latest_snapshot()
        assert "r1" in snap.file_stats  # untouched run keeps its file maps
        assert len(snap.file_stats["r1"]) == 4
        # point read through the merged table still plans one r1 file
        df = t.read(spark, filters=[("x", "=", 42)])
        assert len(df.inputFiles()) == 1

    def test_compact_records_file_stats(self, spark, tmp_path):
        t = self._clustered(spark, tmp_path)
        snap = t.compact(spark)
        assert set(snap.file_stats) == set(snap.run_ids)
        assert t.read(spark, filters=[("x", "=", 42)]).count() == 1


class TestIncrementalRead:
    """Iceberg-style incremental append scan (SnapshotTable.read_changes):
    downstream consumers process only the rows appended in a snapshot
    range — appends contribute, compactions add nothing, merges refuse."""

    def _table(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        for i, (lo, hi) in enumerate([(0, 5), (5, 8), (8, 10)], start=1):
            t.stage(spark.range(lo, hi).toDF("x"), f"r{i}")
            t.commit(spark, f"r{i}")
        return t  # v1=r1, v2=r2, v3=r3

    def test_appends_between_versions(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        got = sorted(r.x for r in t.read_changes(spark, 1, 3).collect())
        assert got == [5, 6, 7, 8, 9]
        assert sorted(
            r.x for r in t.read_changes(spark, 2).collect()
        ) == [8, 9]  # to_version defaults to latest
        empty = t.read_changes(spark, 3, 3)
        assert empty.columns == ["x"] and empty.count() == 0
        # from_version 0 = bootstrap read of everything up to the target
        assert sorted(
            r.x for r in t.read_changes(spark, 0, 1).collect()
        ) == [0, 1, 2, 3, 4]

    def test_compaction_contributes_nothing(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.compact(spark)  # v4
        t.stage(spark.range(10, 12).toDF("x"), "r4")
        t.commit(spark, "r4")  # v5
        # range spanning the compaction: only real appends surface
        assert sorted(
            r.x for r in t.read_changes(spark, 2, 5).collect()
        ) == [8, 9, 10, 11]
        assert t.read_changes(spark, 3, 4).count() == 0

    def test_merge_in_range_raises(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        upd = spark.createDataFrame([(5, 50)], "x long, y long")
        # schema evolution via merge is fine; the INCREMENTAL read refuses
        t.merge(spark, upd.select("x"), ["x"], merge_id="m1")
        with pytest.raises(ValueError, match="merge"):
            t.read_changes(spark, 1)
        # a range that stops before the merge still works
        assert t.read_changes(spark, 1, 3).count() == 5

    def test_schema_evolution_backfills_null(self, spark, tmp_path):
        import pyspark.sql.functions as F

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(
            spark.range(3, 5).toDF("x").withColumn("y", F.col("x") * 2), "r2"
        )
        t.commit(spark, "r2")
        # rows are read under the TO snapshot's schema
        got = sorted(
            (r.x, r.y) for r in t.read_changes(spark, 0, 2).collect()
        )
        assert got == [(0, None), (1, None), (2, None), (3, 6), (4, 8)]
        assert t.read_changes(spark, 0, 1).columns == ["x"]

    def test_legacy_snapshots_classified_conservatively(
        self, spark, tmp_path
    ):
        import json as _json

        t = self._table(spark, tmp_path)
        t.compact(spark)  # v4
        # strip the operation field from every snapshot record on disk,
        # emulating a table written before the field existed
        snap_dir = os.path.join(str(tmp_path / "t"), "_snapshots")
        for fn in os.listdir(snap_dir):
            if not fn.endswith(".json"):
                continue
            p = os.path.join(snap_dir, fn)
            with open(p) as fh:
                d = _json.load(fh)
            d.pop("operation", None)
            os.unlink(p)  # snapshot files are hard-linked; replace whole
            with open(p, "w") as fh:
                _json.dump(d, fh)
        # pure appends still read; retire growth (the compact) raises
        assert t.read_changes(spark, 1, 3).count() == 5
        with pytest.raises(ValueError, match="rewrite"):
            t.read_changes(spark, 1, 4)

    def test_bad_versions_raise(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="beyond"):
            t.read_changes(spark, 9)
        # a hole in the snapshot log is a hard error, never silent data loss
        os.unlink(os.path.join(str(tmp_path / "t"), "_snapshots", "v2.json"))
        with pytest.raises(ValueError, match="missing"):
            t.read_changes(spark, 1, 3)


class TestTemporalZoneMaps:
    """Zone maps over date/timestamp columns — the dominant pruning key of
    a time-partitioned 100 TB table.  Bounds serialize as ISO strings
    (lexicographic = chronological); date-grain values widen to midnight
    on BOTH sides, which is exact because SQL casts date -> midnight ts."""

    def _table(self, spark, tmp_path):
        import datetime as dt

        t = SnapshotTable(str(tmp_path / "t"))
        days = [
            ("r1", [dt.datetime(2024, 1, d, 12, 30) for d in (1, 2, 3)]),
            ("r2", [dt.datetime(2024, 1, d, 8, 0) for d in (4, 5)]),
            ("r3", [dt.datetime(2024, 2, 1, 0, 0)]),
        ]
        for rid, stamps in days:
            t.stage(
                spark.createDataFrame(
                    [(s,) for s in stamps], "ev_ts timestamp_ntz"
                ),
                rid,
            )
            t.commit(spark, rid)
        return t

    def test_commit_records_iso_bounds(self, spark, tmp_path, file_values):
        import datetime as dt

        t = self._table(spark, tmp_path)
        snap = t.latest_snapshot()
        us = lambda d: int(  # noqa: E731
            d.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
        )
        for fn, vals in file_values(t, "r1", "ev_ts").items():
            assert snap.file_stats["r1"][fn]["ev_ts"] == {
                "min": min(vals).isoformat(),
                "max": max(vals).isoformat(),
                "nulls": 0,
                "ts": True,
                # JVM-side epoch-micros twin (UTC session): the z-order
                # probe domain, recorded at commit so no host-tz
                # round-trip exists
                "us": [us(min(vals)), us(max(vals))],
            }
        assert _fold(snap, "r1", "ev_ts") == (
            "2024-01-01T12:30:00", "2024-01-03T12:30:00", 0,
        )
        ents = [st["ev_ts"] for st in snap.file_stats["r1"].values()]
        assert [min(e["us"][0] for e in ents), max(e["us"][1] for e in ents)] == [
            us(dt.datetime(2024, 1, 1, 12, 30)),
            us(dt.datetime(2024, 1, 3, 12, 30)),
        ]

    def test_prune_with_datetime_literals(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        snap = t.latest_snapshot()
        kept, skipped = t.prune(
            snap, [("ev_ts", ">=", dt.datetime(2024, 1, 4))]
        )
        assert kept == ["r2", "r3"] and skipped == ["r1"]
        kept, _ = t.prune(
            snap,
            [("ev_ts", "between",
              (dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3)))],
        )
        assert kept == ["r1"]

    def test_date_literal_widens_to_midnight(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        snap = t.latest_snapshot()
        # date literal 2024-02-01 = midnight, exactly r3's single stamp
        kept, _ = t.prune(snap, [("ev_ts", ">=", dt.date(2024, 2, 1))])
        assert kept == ["r3"]

    def test_datetime_literal_on_date_column_is_exact(
        self, spark, tmp_path, file_values
    ):
        import datetime as dt

        t = SnapshotTable(str(tmp_path / "d"))
        t.stage(
            spark.createDataFrame(
                [(dt.date(2024, 1, 5),), (dt.date(2024, 1, 6),)],
                "d date",
            ),
            "r1",
        )
        t.commit(spark, "r1")
        snap = t.latest_snapshot()
        for fn, vals in file_values(t, "r1", "d").items():
            ent = snap.file_stats["r1"][fn]["d"]
            assert (ent["min"], ent["max"]) == (
                min(vals).isoformat(), max(vals).isoformat()
            )
        assert _fold(snap, "r1", "d")[0] == "2024-01-05"
        # midnight equality MUST keep (date casts to midnight ts)
        kept, _ = t.prune(snap, [("d", "=", dt.datetime(2024, 1, 5, 0, 0))])
        assert kept == ["r1"]
        # d < 10:00 on the min day MUST keep (midnight qualifies)
        kept, _ = t.prune(snap, [("d", "<", dt.datetime(2024, 1, 5, 10, 0))])
        assert kept == ["r1"]
        # strictly-before-midnight-of-min provably empty
        kept, skipped = t.prune(
            snap, [("d", "<", dt.datetime(2024, 1, 5, 0, 0))]
        )
        assert kept == [] and skipped == ["r1"]

    def test_pruned_read_equals_residual_filter(self, spark, tmp_path):
        import datetime as dt

        from moira_spark.sources.tableio import _filters_to_expr

        t = self._table(spark, tmp_path)
        full = t.read(spark)
        for filters in [
            [("ev_ts", "<", dt.datetime(2024, 1, 4))],
            [("ev_ts", ">=", dt.datetime(2024, 1, 5, 9, 0))],
            [("ev_ts", "=", dt.datetime(2024, 2, 1))],
            [("ev_ts", ">", dt.datetime(2030, 1, 1))],  # prunes everything
        ]:
            got = sorted(
                r.ev_ts for r in t.read(spark, filters=filters).collect()
            )
            want = sorted(
                r.ev_ts
                for r in full.filter(_filters_to_expr(filters)).collect()
            )
            assert got == want, f"temporal pruned read diverged: {filters}"

    def test_merge_prunes_on_temporal_key(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        upd = spark.createDataFrame(
            [(dt.datetime(2024, 2, 1, 0, 0),)], "ev_ts timestamp_ntz"
        )
        snap = t.merge(spark, upd, ["ev_ts"], merge_id="m1")
        # only r3's key range matches: r1/r2 stay referenced untouched
        assert "r1" in snap.run_ids and "r2" in snap.run_ids
        assert "r3" in snap.retired_run_ids
        assert t.read(spark).count() == 6


class TestHistory:
    def test_history_metadata_table(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(5).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(spark.range(5, 8).toDF("x"), "r2")
        t.commit(spark, "r2")
        t.compact(spark)
        t.stage(spark.range(8, 10).toDF("x"), "r3")
        t.commit(spark, "r3")
        h = {r.version: r for r in t.history(spark).collect()}
        assert [h[v].operation for v in (1, 2, 3, 4)] == [
            "append", "append", "compact", "append",
        ]
        assert [h[v].rows_added for v in (1, 2, 3, 4)] == [5, 3, 0, 2]
        assert h[3].total_rows == 8 and h[4].total_rows == 10
        assert h[3].n_retired == 2
        assert SnapshotTable(str(tmp_path / "none")).history(spark) is None


class TestSortedCompaction:
    def test_compact_cluster_by_makes_point_reads_plan_one_file(
        self, spark, tmp_path
    ):
        t = SnapshotTable(str(tmp_path / "t"))
        # unsorted micro-batch accumulation: interleaved key ranges
        for i, xs in enumerate(
            [[5, 80, 13], [91, 2, 47], [30, 66, 9], [71, 24, 58]], start=1
        ):
            t.stage(
                spark.createDataFrame([(x,) for x in xs], "x long").coalesce(
                    1
                ),
                f"r{i}",
            )
            t.commit(spark, f"r{i}")
        # before the sorted rewrite every run's (one) file overlaps x=47,
        # so the point read must plan all 4 of them
        assert len(t.read(spark, filters=[("x", "=", 47)]).inputFiles()) == 4
        snap = t.compact(spark, target_partitions=4, cluster_by=["x"])
        fstats = snap.file_stats[snap.run_ids[0]]
        assert len(fstats) == 4
        spans = sorted(
            (st["x"]["min"], st["x"]["max"]) for st in fstats.values()
        )
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi < lo  # sorted rewrite: disjoint file ranges
        df = t.read(spark, filters=[("x", "=", 47)])
        assert len(df.inputFiles()) == 1
        assert [r.x for r in df.collect()] == [47]
        # still data-identical
        assert sorted(r.x for r in t.read(spark).collect()) == sorted(
            [5, 80, 13, 91, 2, 47, 30, 66, 9, 71, 24, 58]
        )


def test_read_changes_over_vacuumed_history_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for i, (lo, hi) in enumerate([(0, 5), (5, 8)], start=1):
        t.stage(spark.range(lo, hi).toDF("x"), f"r{i}")
        t.commit(spark, f"r{i}")
    t.compact(spark)
    t.vacuum(retain_last=1, min_age_seconds=0)  # r1/r2 data dirs deleted
    with pytest.raises(ValueError, match="expired by vacuum"):
        t.read_changes(spark, 0, 2)
    # a full read at the compacted head still works
    assert t.read(spark).count() == 8


class TestRollback:
    """Iceberg rollback_to_snapshot: a metadata-only undo that commits a
    NEW snapshot equal to an older version's state, preserving history."""

    def _table(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        for i, (lo, hi) in enumerate([(0, 5), (5, 8), (8, 10)], start=1):
            t.stage(spark.range(lo, hi).toDF("x"), f"r{i}")
            t.commit(spark, f"r{i}")
        return t  # v1=r1, v2=+r2, v3=+r3

    def test_rollback_restores_state_as_new_version(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        snap = t.rollback(2)
        assert snap.version == 4 and snap.operation == "rollback"
        assert sorted(r.x for r in t.read(spark).collect()) == list(range(8))
        # history preserved: the undone version stays time-travelable
        assert sorted(
            r.x for r in t.read(spark, version=3).collect()
        ) == list(range(10))
        h = {r.version: r.operation for r in t.history(spark).collect()}
        assert h[4] == "rollback"

    def test_rollback_is_a_true_undo_for_replay(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.rollback(2)
        # the undone run is no longer committed -> a checkpoint-replayed
        # micro-batch (or corrected re-ingest) re-appends
        assert not t.is_committed("r3")
        snap = t.commit(spark, "r3")  # staged dir still on disk
        assert snap.operation == "append" and snap.version == 5
        assert sorted(r.x for r in t.read(spark).collect()) == list(range(10))

    def test_rolled_back_runs_become_vacuumable(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.rollback(1)  # v4: only r1 referenced
        removed = t.vacuum(retain_last=1, min_age_seconds=0)
        assert len(removed) == 2  # r2 + r3 orphaned by the rollback
        assert sorted(r.x for r in t.read(spark).collect()) == list(range(5))
        # and rolling back to a vacuumed version now refuses cleanly
        with pytest.raises(ValueError, match="expired by vacuum"):
            t.rollback(3)

    def test_read_changes_refuses_to_cross_a_rollback(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.rollback(2)  # v4
        with pytest.raises(ValueError, match="rollback"):
            t.read_changes(spark, 1)  # range spans the rewrite
        # consuming from the rollback forward works: the re-append of r3
        # (new run vs v4's base set) surfaces as an increment
        t.commit(spark, "r3")  # v5
        assert sorted(
            r.x for r in t.read_changes(spark, 4, 5).collect()
        ) == [8, 9]

    def test_rollback_restores_pre_evolution_schema(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(spark.range(3).toDF("x"), "r1")
        t.commit(spark, "r1")
        t.stage(
            spark.range(3, 5).toDF("x").withColumn("y", F.col("x") * 2), "r2"
        )
        t.commit(spark, "r2")
        assert t.read(spark).columns == ["x", "y"]
        t.rollback(1)
        assert t.read(spark).columns == ["x"]
        # zone-map stats rolled back with the state: pruning still works
        assert t.read(spark, filters=[("x", ">", 100)]).count() == 0

    def test_rollback_to_current_and_missing_versions(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        assert t.rollback(3).version == 3  # no-op
        with pytest.raises(ValueError, match="does not exist"):
            t.rollback(9)


class TestZOrderClustering:
    """stage(zorder=True): Z-curve file clustering — sublinear file pruning
    on EVERY clustered column, vs lexicographic's all-files scan on any
    column but the leading one."""

    def _files(self, spark, t, filters):
        df = t.read(spark, filters=filters)
        return (
            df.select(F.input_file_name()).distinct().count(),
            df.count(),
        )

    def _grid(self, spark):
        return spark.createDataFrame(
            [(x, y, x * 100 + y) for x in range(32) for y in range(32)],
            "x int, y int, v int",
        )

    def test_prunes_both_dims_sublinearly(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "z"))
        t.stage(self._grid(spark), "r1", cluster_by=["x", "y"],
                cluster_partitions=16, zorder=True)
        t.commit(spark, "r1")
        fx, nx = self._files(spark, t, [("x", "==", 7)])
        fy, ny = self._files(spark, t, [("y", "==", 7)])
        # a point slice on either of 2 dims touches ~sqrt(16) files
        assert nx == 32 and ny == 32  # correctness: all matching rows
        assert fx <= 6 and fy <= 6, (fx, fy)

    def test_lexicographic_baseline_cannot_prune_trailing_dim(
        self, spark, tmp_path
    ):
        t = SnapshotTable(str(tmp_path / "lex"))
        t.stage(self._grid(spark), "r1", cluster_by=["x", "y"],
                cluster_partitions=16)
        t.commit(spark, "r1")
        fx, _ = self._files(spark, t, [("x", "==", 7)])
        fy, _ = self._files(spark, t, [("y", "==", 7)])
        assert fx == 1 and fy == 16  # the asymmetry z-order removes

    def test_filtered_read_equals_full_filter(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "z"))
        t.stage(self._grid(spark), "r1", cluster_by=["x", "y"],
                cluster_partitions=16, zorder=True)
        t.commit(spark, "r1")
        got = sorted(
            r.v for r in t.read(spark, filters=[("y", ">", 28)]).collect()
        )
        want = sorted(
            r.v for r in t.read(spark).filter(F.col("y") > 28).collect()
        )
        assert got == want

    def test_constant_and_temporal_columns(self, spark, tmp_path):
        # a constant dim contributes nothing (no crash); timestamps bucket
        # via unix_micros
        df = spark.createDataFrame(
            [(1, f"2024-01-{d:02d} 00:00:00") for d in range(1, 29)],
            "k int, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(df, "r1", cluster_by=["k", "ts"], cluster_partitions=4,
                zorder=True)
        t.commit(spark, "r1")
        assert t.read(spark).count() == 28

    def test_rejects_non_orderable_columns(self, spark, tmp_path):
        df = spark.createDataFrame([(1, [1, 2])], "k int, a array<int>")
        t = SnapshotTable(str(tmp_path / "t"))
        with pytest.raises(ValueError, match="not orderable"):
            t.stage(df, "r1", cluster_by=["k", "a"], zorder=True)

    def test_string_keys_bucket_by_prefix_ordinal(self, spark, tmp_path):
        # strings z-order via their 8-byte-prefix ordinal; a point filter
        # on the string dim must still prune files
        df = spark.createDataFrame(
            [(f"conv-{i:04d}", i % 16, i) for i in range(512)],
            "cid string, part int, v int",
        )
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(df, "r1", cluster_by=["cid", "part"],
                cluster_partitions=8, zorder=True)
        t.commit(spark, "r1")
        got = t.read(spark, filters=[("cid", "==", "conv-0100")])
        assert [r.v for r in got.collect()] == [100]
        assert len(got.inputFiles()) < 8

    def test_zorder_column_never_written(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "z"))
        t.stage(self._grid(spark), "r1", cluster_by=["x", "y"],
                cluster_partitions=4, zorder=True)
        t.commit(spark, "r1")
        assert t.read(spark).columns == ["x", "y", "v"]


class TestZOrderEdgeGuards:
    def test_zorder_without_enough_cluster_columns_raises(
        self, spark, tmp_path
    ):
        df = spark.range(4).toDF("x")
        t = SnapshotTable(str(tmp_path / "t"))
        with pytest.raises(ValueError, match=">= 2 cluster_by"):
            t.stage(df, "r1", cluster_by=["x"], zorder=True)
        with pytest.raises(ValueError, match=">= 2 cluster_by"):
            t.stage(df, "r1", zorder=True)
        t.stage(df, "r1")
        t.commit(spark, "r1")
        with pytest.raises(ValueError, match=">= 2 cluster_by"):
            t.compact(spark, zorder=True)

    def test_zorder_rejects_colliding_temp_column(self, spark, tmp_path):
        df = spark.range(4).toDF("a").withColumn(
            "__zorder_tmp", F.col("a")
        ).withColumn("b", F.col("a"))
        t = SnapshotTable(str(tmp_path / "t"))
        with pytest.raises(ValueError, match="__zorder_tmp"):
            t.stage(df, "r1", cluster_by=["a", "b"], zorder=True)

    def test_eight_dims_never_reach_the_sign_bit(self, spark):
        # at 8 dims the per-dim resolution shrinks so the interleave stays
        # in bits [0, 63): a set sign bit would invert the curve's order
        from moira_spark.sources.tableio import _zvalue

        cols = [f"c{i}" for i in range(8)]
        df = spark.createDataFrame(
            [tuple(range(j, j + 8)) for j in range(64)],
            ", ".join(f"{c} int" for c in cols),
        )
        mn = df.select(_zvalue(df, cols).alias("z")).agg(
            F.min("z").alias("m")
        ).collect()[0]["m"]
        assert mn >= 0


class TestZOrderBoundsFromStats:
    def test_compact_zorder_uses_snapshot_stats_not_a_scan(
        self, spark, tmp_path, monkeypatch
    ):
        """A z-ordered compaction must derive the cell bounds from the
        snapshot's column stats, never a fresh min/max scan of the data."""
        from moira_spark.sources import tableio

        t = SnapshotTable(str(tmp_path / "t"))
        grid = spark.createDataFrame(
            [(x, y) for x in range(16) for y in range(16)], "x int, y int"
        )
        t.stage(grid, "r1")
        t.commit(spark, "r1")

        seen: list = []
        real = tableio._zvalue

        def spy(df, cols, bits=tableio._Z_BITS, bounds=None):
            seen.append(bounds)
            return real(df, cols, bits, bounds)

        monkeypatch.setattr(tableio, "_zvalue", spy)
        t.compact(spark, target_partitions=4, cluster_by=["x", "y"],
                  zorder=True)
        assert seen and set(seen[0]) == {"x", "y"}
        assert seen[0]["x"] == (0.0, 15.0) and seen[0]["y"] == (0.0, 15.0)
        # pruning works off the stats-derived layout
        got = t.read(spark, filters=[("y", "==", 5)])
        assert got.count() == 16 and len(got.inputFiles()) <= 3

    def test_explicit_bounds_match_scanned_bounds_layout(self, spark):
        from moira_spark.sources.tableio import _zvalue

        df = spark.createDataFrame(
            [(x, y) for x in range(32) for y in range(32)], "x int, y int"
        )
        a = df.select("x", "y", _zvalue(df, ["x", "y"]).alias("z"))
        b = df.select(
            "x", "y",
            _zvalue(df, ["x", "y"],
                    bounds={"x": (0.0, 31.0), "y": (0.0, 31.0)}).alias("z"),
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_string_and_ts_bounds_round_trip(self, spark, tmp_path):
        from moira_spark.sources.tableio import _zbounds_from_snapshot

        df = spark.createDataFrame(
            [(f"c{i:03d}", f"2024-01-{(i % 27) + 1:02d} 00:00:00", i)
             for i in range(54)],
            "cid string, ts_s string, v int",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(df, "r1")
        t.commit(spark, "r1")
        bounds = _zbounds_from_snapshot(t.latest_snapshot(), ["cid", "ts"])
        assert set(bounds) == {"cid", "ts"}
        lo, hi = bounds["cid"]
        assert lo == float(int.from_bytes(b"c000".ljust(8, b"\0"), "big"))
        assert hi == float(int.from_bytes(b"c053".ljust(8, b"\0"), "big"))
        tlo, thi = bounds["ts"]
        assert thi - tlo == 26 * 86400 * 1e6  # 27 distinct days
        # and a z-ordered compaction over those columns succeeds
        t.compact(spark, target_partitions=4, cluster_by=["cid", "ts"],
                  zorder=True)
        assert t.read(spark).count() == 54


class TestRollbackInteractions:
    """Rollback composed with the other table rewrites: compaction and
    MERGE.  Both retire run dirs without deleting them, so rolling back
    across either must restore the exact pre-rewrite state."""

    def test_rollback_across_a_compaction(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        for i, (lo, hi) in enumerate([(0, 5), (5, 10)], start=1):
            t.stage(spark.range(lo, hi).toDF("x"), f"r{i}")
            t.commit(spark, f"r{i}")
        t.compact(spark, target_partitions=1)  # v3: r1+r2 -> one run
        assert len(t.latest_snapshot().run_ids) == 1
        snap = t.rollback(2)  # undo the compaction
        assert snap.operation == "rollback"
        assert sorted(t.latest_snapshot().run_ids) == ["r1", "r2"]
        assert sorted(r.x for r in t.read(spark).collect()) == list(range(10))
        # the compacted run dir is now orphaned -> vacuumable
        removed = t.vacuum(retain_last=1, min_age_seconds=0)
        assert len(removed) == 1
        assert t.read(spark).count() == 10

    def test_rollback_across_a_merge_restores_pre_merge_rows(
        self, spark, tmp_path
    ):
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(
            spark.createDataFrame([(i, i * 10) for i in range(6)],
                                  "k long, v long"),
            "r1",
        )
        t.commit(spark, "r1")  # v1
        t.merge(
            spark,
            spark.createDataFrame([(2, 999), (9, 900)], "k long, v long"),
            ["k"],
            "m1",
        )  # v2: k=2 updated, k=9 inserted
        got = {r.k: r.v for r in t.read(spark).collect()}
        assert got[2] == 999 and got[9] == 900
        t.rollback(1)  # v3: the merge undone
        back = {r.k: r.v for r in t.read(spark).collect()}
        assert back == {i: i * 10 for i in range(6)}
        # the merge is no longer applied, so re-merging works (new id)
        t.merge(
            spark,
            spark.createDataFrame([(2, 777)], "k long, v long"),
            ["k"],
            "m2",
        )
        assert {r.k: r.v for r in t.read(spark).collect()}[2] == 777

    def test_incremental_consumer_recovers_after_rollback(
        self, spark, tmp_path
    ):
        """The CDC pattern an operator actually runs: consume increments,
        hit a rollback, bootstrap once at the rollback version, resume
        incremental from there."""
        t = SnapshotTable(str(tmp_path / "t"))
        for i, (lo, hi) in enumerate([(0, 4), (4, 8), (8, 12)], start=1):
            t.stage(spark.range(lo, hi).toDF("x"), f"r{i}")
            t.commit(spark, f"r{i}")
        consumed = {r.x for r in t.read_changes(spark, 0, 2).collect()}
        t.rollback(2)  # v4 drops r3's rows
        with pytest.raises(ValueError, match="rollback"):
            t.read_changes(spark, 2)  # crossing the rewrite refuses
        # bootstrap at the rollback head, then resume incrementally
        consumed = {r.x for r in t.read(spark, version=4).collect()}
        t.stage(spark.range(20, 22).toDF("x"), "r4")
        t.commit(spark, "r4")  # v5
        consumed |= {r.x for r in t.read_changes(spark, 4, 5).collect()}
        assert consumed == set(range(8)) | {20, 21}


class TestZOrderReviewRegressions:
    def test_variable_length_string_ordinal_is_monotone(self, spark, tmp_path):
        """Unpadded prefixes rank 'aa' above 'b'; the zero-padded ordinal
        must rank like the lexicographic order so stats-derived bounds
        cover the data (lo <= probe <= hi)."""
        from moira_spark.sources.tableio import (
            _zbounds_from_snapshot,
            _zvalue,
        )

        ids = ["b", "ab", "aaa", "zz", "a", "yx", "m", "aa"]
        df = spark.createDataFrame(
            [(s, i) for i, s in enumerate(ids)], "cid string, v int"
        )
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(df, "r1")
        t.commit(spark, "r1")
        lo, hi = _zbounds_from_snapshot(t.latest_snapshot(), ["cid"])["cid"]
        assert lo < hi
        # the JVM probe must agree with the Python ordinal on every value
        probe = [
            r.o
            for r in df.orderBy("cid").select(
                F.conv(
                    F.hex(
                        F.rpad(
                            F.substring(F.col("cid").cast("binary"), 1, 8),
                            8,
                            F.lit(bytes(1)),
                        )
                    ),
                    16,
                    10,
                )
                .cast("double")
                .alias("o")
            ).collect()
        ]
        assert probe == sorted(probe)  # monotone wrt lexicographic order
        assert all(lo <= p <= hi for p in probe)
        # and a z-ordered write over the mixed-length ids succeeds
        t2 = SnapshotTable(str(tmp_path / "t2"))
        t2.stage(df, "r1", cluster_by=["cid", "v"], cluster_partitions=2,
                 zorder=True)
        t2.commit(spark, "r1")
        assert t2.read(spark).count() == len(ids)

    def test_all_null_run_does_not_force_a_bounds_scan(self, spark, tmp_path):
        from moira_spark.sources.tableio import _zbounds_from_snapshot

        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(
            spark.createDataFrame([(i, i * 2) for i in range(8)],
                                  "a long, b long"), "r1")
        t.commit(spark, "r1")
        t.stage(
            spark.createDataFrame([(None, 99)], "a long, b long"), "r2")
        t.commit(spark, "r2")
        bounds = _zbounds_from_snapshot(t.latest_snapshot(), ["a", "b"])
        # the all-NULL run contributes nothing but must not drop column a
        assert bounds["a"] == (0.0, 7.0)
        assert bounds["b"] == (0.0, 99.0)

    def test_ts_bounds_land_in_the_probe_domain(
        self, spark, tmp_path, file_values
    ):
        """ts stats carry JVM-computed epoch micros ("us") so z bounds sit
        in EXACTLY the unix_micros probe domain on any host timezone."""
        from moira_spark.sources.tableio import _zbounds_from_snapshot

        df = spark.createDataFrame(
            [("2024-03-05 06:07:08",), ("2024-09-01 00:00:00",)], "s string"
        ).select(F.col("s").cast("timestamp").alias("ts"))
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(df, "r1")
        t.commit(spark, "r1")
        snap = t.latest_snapshot()
        # exact per file, committed JVM-side
        for fn, m in file_values(t, "r1", F.unix_micros("ts")).items():
            assert snap.file_stats["r1"][fn]["ts"]["us"] == [min(m), max(m)]
        got = sorted(
            r.m for r in df.select(F.unix_micros("ts").alias("m")).collect()
        )
        lo, hi = _zbounds_from_snapshot(snap, ["ts"])["ts"]
        assert (lo, hi) == (float(got[0]), float(got[1]))

    def test_ts_bounds_fallback_is_utc_anchored(self, spark, tmp_path):
        """Pre-"us" snapshots (no epoch twin) must interpret the stored
        naive wall clock as UTC — the unix_micros convention under the
        UTC-pinned session — never the compacting host's local timezone
        (ADVICE r5: a tz flip between commit and compact silently shifted
        bucket bounds by the UTC offset)."""
        import datetime as dt

        from moira_spark.sources.tableio import _zbounds_from_snapshot

        df = spark.createDataFrame(
            [("2024-03-05 06:07:08",), ("2024-09-01 00:00:00",)], "s string"
        ).select(F.col("s").cast("timestamp").alias("ts"))
        t = SnapshotTable(str(tmp_path / "t"))
        t.stage(df, "r1")
        t.commit(spark, "r1")
        snap = t.latest_snapshot()
        for st in snap.file_stats["r1"].values():
            st["ts"].pop("us")  # simulate a legacy snapshot
        lo, hi = _zbounds_from_snapshot(snap, ["ts"])["ts"]
        want_lo = dt.datetime(
            2024, 3, 5, 6, 7, 8, tzinfo=dt.timezone.utc
        ).timestamp() * 1e6
        want_hi = dt.datetime(
            2024, 9, 1, tzinfo=dt.timezone.utc
        ).timestamp() * 1e6
        assert (lo, hi) == (want_lo, want_hi)


class TestRollbackCLIGuard:
    def test_rollback_with_ingest_refuses(self, tmp_path):
        import driver

        with pytest.raises(SystemExit, match="requires --maintain-only"):
            driver.main(
                ["--synthetic-turns", "100", "--output", str(tmp_path / "o"),
                 "--run-id", "x", "--rollback-to", "1"]
            )


class TestRedactCLI:
    def test_ingest_then_redact_then_changelog_export(self, spark, tmp_path):
        """driver.py --redact (MOR merge) + --export-changelog end to end:
        ingest synthetic turns, redact one turn's scrubbed_text via a
        parquet update file, export the CDC changelog, and verify the
        table and the export agree (round-6 north-rule CLI surface:
        redaction without a full rewrite, plus the incremental export a
        downstream consumer reads)."""
        import driver

        out = tmp_path / "o"
        assert (
            driver.main(
                ["--synthetic-turns", "300", "--output", str(out),
                 "--run-id", "j1", "--buckets", "2"]
            )
            == 0
        )
        table = SnapshotTable(str(out / "labels"))
        victim = table.read(spark).limit(1).collect()[0]
        upd = spark.createDataFrame(
            [(victim["conv_id"], victim["turn_idx"], "[GONE]")],
            "conv_id string, turn_idx int, scrubbed_text string",
        )
        upd.write.mode("overwrite").parquet(str(tmp_path / "upd"))
        pre_version = table.latest_snapshot().version

        export = tmp_path / "cdc"
        assert (
            driver.main(
                ["--maintain-only", "--output", str(out), "--run-id", "j2",
                 "--redact", str(tmp_path / "upd"),
                 "--export-changelog", str(export),
                 "--changes-from", str(pre_version)]
            )
            == 0
        )
        snap = table.latest_snapshot()
        assert len(snap.delete_files) == 1  # mor default: no rewrite
        got = table.read(spark).filter(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        ).collect()
        assert [r["scrubbed_text"] for r in got] == ["[GONE]"]
        log = spark.read.parquet(str(export)).collect()
        kinds = sorted(r["_change_type"] for r in log)
        assert kinds == ["delete", "insert"]
        # idempotent re-run: same default merge-id -> metadata no-op
        assert (
            driver.main(
                ["--maintain-only", "--output", str(out), "--run-id", "j2",
                 "--redact", str(tmp_path / "upd")]
            )
            == 0
        )
        assert table.latest_snapshot().version == snap.version
        # and a compaction folds the equality delete away
        assert (
            driver.main(
                ["--maintain-only", "--output", str(out), "--run-id", "j3",
                 "--compact"]
            )
            == 0
        )
        assert table.latest_snapshot().delete_files == []


class TestSnapshotTags:
    """Named refs (Iceberg tags): the write-audit-publish pointer.
    Readers address a tag; flipping it is atomic; vacuum retains tagged
    versions beyond retain_last until the tag is dropped."""

    def _table(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        for i, (lo, hi) in enumerate([(0, 5), (5, 8), (8, 10)], start=1):
            t.stage(spark.range(lo, hi).toDF("x"), f"r{i}")
            t.commit(spark, f"r{i}")
        return t

    def test_tag_pins_a_version_for_readers(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        assert t.tag("published", 2) == 2
        assert t.read(spark, tag="published").count() == 8
        # writers keep committing; the tag does not move
        t.stage(spark.range(10, 20).toDF("x"), "r4")
        t.commit(spark, "r4")
        assert t.read(spark).count() == 20
        assert t.read(spark, tag="published").count() == 8
        # atomic flip to the new state
        assert t.tag("published") == 4  # default: latest
        assert t.read(spark, tag="published").count() == 20
        assert t.tags() == {"published": 4}

    def test_vacuum_retains_tagged_versions(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.tag("release-1", 1)  # pin v1 (run r1 only)
        t.compact(spark, target_partitions=1)  # v4 retires r1-r3
        removed = t.vacuum(retain_last=1, min_age_seconds=0)
        # r1 is pinned by the tag; only r2+r3 are collectable
        assert sorted(os.path.basename(p) for p in removed) == [
            "run_id=r2", "run_id=r3"
        ]
        assert t.read(spark, tag="release-1").count() == 5
        # dropping the tag releases the pin
        assert t.drop_tag("release-1")
        removed = t.vacuum(retain_last=1, min_age_seconds=0)
        assert [os.path.basename(p) for p in removed] == ["run_id=r1"]

    def test_tag_validation(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="does not exist"):
            t.tag("x", 99)
        with pytest.raises(ValueError, match="invalid tag name"):
            t.tag("a/b")
        with pytest.raises(ValueError, match="unknown tag"):
            t.read(spark, tag="nope")
        t.tag("a", 1)
        with pytest.raises(ValueError, match="not both"):
            t.read(spark, version=1, tag="a")
        assert not t.drop_tag("never-existed")

    def test_tagging_a_vacuumed_version_refuses(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.vacuum(retain_last=1, min_age_seconds=0)  # v1/v2-only data stays?
        # v3 retains r1-r3; nothing removed. Compact then vacuum to expire.
        t.compact(spark, target_partitions=1)
        t.vacuum(retain_last=1, min_age_seconds=0)
        with pytest.raises(ValueError, match="expired by vacuum"):
            t.tag("late", 1)
