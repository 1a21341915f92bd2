"""Streaming incremental dedup: foreachBatch + snapshot-committed state.

The production shape for deduplicating an INGEST: each micro-batch is
flagged against the signature state accumulated from every PREVIOUS
batch's survivors, then the batch's own survivors are appended to that
state — so a document is kept exactly once across the whole stream, no
matter which batch it arrives in.  State is a SnapshotTable of
(doc_id, text, fingerprint, MinHash signature) rows: the same CAS-committed
snapshot protocol the batch job uses, which gives the stream replay
idempotence for free (a checkpoint-replayed micro-batch sees its run_id
already committed and skips — the same guard as streaming/stream_filter).

Flag semantics per batch (harness/dedup.py ``incremental_flags``, whose
flag assembly dedup_incremental shares):
- dup_exact: fingerprint present in committed state, OR an earlier
  (smaller doc_id) twin within this batch;
- dup_near:  word-3-gram Jaccard >= 0.5 against a committed doc OR against
  a smaller-id doc in the same batch (round 5), with history candidates
  read from the state's OWN persisted bands table — a sibling SnapshotTable
  of (doc_id, band, sig) rows committed alongside each batch's survivors —
  so per-batch candidate generation is one band-partitioned equi-join:
  history is never re-shingled OR re-banded; shingles are recomputed only
  for the semi-join-restricted candidate verify;
- survives = neither -> appended to state (and its band rows to bands).

At 10^12 documents the state table is the full corpus-so-far; the per-batch
cost is one signature pass over the BATCH plus equi-joins whose width is
the batch's collision footprint — never a rescan of history.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def make_batch_handler(spark: SparkSession, state_dir: str, out_dir: str):
    """The foreachBatch handler, exposed so tests can drive it directly
    (including replaying a batch id, which foreachBatch's at-least-once
    contract allows at any time)."""
    from moira_spark.harness.dedup import (
        _with_signatures,
        incremental_flags,
        lsh_band_rows,
    )
    from moira_spark.operators.components import _free_checkpoint
    from moira_spark.sources.tableio import SnapshotTable

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        state = SnapshotTable(state_dir)
        bands = SnapshotTable(f"{state_dir}_bands")
        out = SnapshotTable(out_dir)
        run_id = f"batch-{batch_id}"
        if state.is_committed(run_id):
            return  # replayed micro-batch: the whole sequence landed
        enriched = _with_signatures(batch_df).select(
            "doc_id", "text", "s", "fingerprint", "mh"
        ).localCheckpoint(eager=True)  # one signature pass feeds flag+state
        committed = state.read(spark)
        # The bands table is only trusted when it COVERS every committed
        # state run (its committed_keys record which state run_ids it holds
        # band rows for).  A stream resumed from pre-bands state would
        # otherwise read a bands table holding only post-upgrade batches and
        # silently stop near-matching older history (round-5 self-review).
        # Uncovered -> backfill the missing docs' band rows ONCE (anti-join
        # on doc_id, so re-banding cost is the uncovered slice, never docs
        # already banded) and mark the whole state covered; idempotent under
        # replay via the backfill run_id guard.
        committed_bands = None
        if committed is not None:
            ssnap = state.latest_snapshot()
            state_runs = set(ssnap.run_ids) | set(ssnap.retired_run_ids)
            bsnap = bands.latest_snapshot()
            covered = bsnap is not None and state_runs <= set(
                bsnap.committed_keys
            )
            if not covered:
                backfill_id = f"backfill-{run_id}"
                if not bands.is_committed(backfill_id):
                    existing = bands.read(spark)
                    missing = (
                        committed
                        if existing is None
                        else committed.join(
                            existing.select("doc_id").distinct(),
                            "doc_id",
                            "left_anti",
                        )
                    )
                    bands.stage(lsh_band_rows(missing), backfill_id)
                bands.commit(spark, backfill_id, committed_keys=sorted(state_runs))
            committed_bands = bands.read(spark)
        flags = incremental_flags(enriched, committed, committed_bands)
        flags = flags.withColumn("batch_id", F.lit(batch_id).cast("long"))
        flags = flags.localCheckpoint(eager=True)  # pin before state advances
        survivors = enriched.join(
            flags.filter(F.col("survives")).select("doc_id"), "doc_id"
        ).select("doc_id", "text", "fingerprint", "mh")
        # Commit ORDER is load-bearing for torn-crash replay: the flags
        # derive from the PRE-batch state, so the state commit must be the
        # LAST step and the replay guard must key on it.  If the guard sat
        # on the OUTPUT commit and a crash landed between the two commits,
        # the replay would read a state that already contains this batch's
        # survivors and flag them as duplicates of themselves (pinned by
        # tests/test_streaming.py's torn-replay test).  With output-first:
        # a crash after out.commit -> replay recomputes identical flags
        # from the unchanged state, skips the output (already committed —
        # never overwrite a data dir a committed snapshot references, even
        # with identical bytes: a crash mid-rewrite would leave the
        # committed table truncated), and commits state once.
        #
        # The bands table sits BETWEEN output and state in that order: a
        # crash after bands.commit but before state.commit leaves band rows
        # one batch ahead of state, which is harmless — the replay's flags
        # read state (pre-batch) for the verify, and incremental_flags
        # anchors the exact verify on state, so orphan band rows find no
        # verify partner and change nothing (then both commits land).
        if not out.is_committed(run_id):
            out.stage(flags, run_id)
            out.commit(spark, run_id)
        if not bands.is_committed(run_id):
            # survivors' band rows only — the bands table tracks exactly the
            # docs the state table holds, so the next batch's candidate join
            # reads persisted (doc_id, band, sig) instead of re-banding
            # history (per-batch cost: one band-partitioned equi-join).
            # committed_keys records which STATE run this covers, feeding
            # the coverage check above.
            bands.stage(lsh_band_rows(survivors), run_id)
        bands.commit(spark, run_id, committed_keys=[run_id])
        state.stage(survivors, run_id)
        state.commit(spark, run_id)
        # release the per-batch localCheckpoints: their blocks are pinned
        # outside the CacheManager and would otherwise accumulate for the
        # stream's lifetime — executor storage stays bounded per batch
        # (ADVICE r4; the leak _free_checkpoint exists to fix)
        _free_checkpoint(enriched)
        _free_checkpoint(flags)

    return handle


def stream_incremental_dedup(
    spark: SparkSession,
    in_dir: str,
    state_dir: str,
    out_dir: str,
    ck_dir: str,
    max_files_per_trigger: int = 1,
):
    """Start the availableNow foreachBatch query; returns the query handle.

    State and output are both SnapshotTables keyed by micro-batch run_id, so
    a checkpoint-replayed batch (foreachBatch is at-least-once) is a no-op
    on both tables — commit happens exactly once per batch id.
    """
    handle = make_batch_handler(spark, state_dir, out_dir)
    schema = "doc_id long, text string"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
