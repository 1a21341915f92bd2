"""spark-submit entry point for the transcript quality-filter job.

Cluster usage (north rule, BASELINE.json:6/14):

    zip -r pipeline.zip moira_spark
    spark-submit --py-files pipeline.zip driver.py \\
        --input  /data/transcripts_table \\
        --output /data/filtered          \\
        --run-id nightly-2026-08-16      \\
        --buckets 64

Local smoke (no cluster):

    python driver.py --synthetic-turns 20000 --output /tmp/out --run-id t1

Every bucket's labels are already written sorted on (conv_id, turn_idx)
(``pipeline.LABEL_SORT``), so a conversation point read plans one file per
run from the first commit.  Nightly sorted compaction folds the many small
runs into few large files; it is no longer what makes point reads prune.

Nightly maintenance (sorted compaction + snapshot expiry, no job re-run):

    spark-submit --py-files pipeline.zip driver.py \\
        --maintain-only --output /data/filtered --run-id maint-2026-08-17 \\
        --compact --compact-cluster-by conv_id --compact-partitions 64 \\
        --vacuum-retain 3

The job is resumable: re-running with the same --run-id and --output skips
every committed bucket (see moira_spark/job.py and sources/tableio.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="input transcripts table (parquet dir)")
    p.add_argument(
        "--synthetic-turns",
        type=int,
        default=0,
        help="generate a deterministic synthetic table instead of --input",
    )
    p.add_argument("--output", required=True, help="output table root dir")
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--buckets",
        type=_positive_int,
        default=16,
        help="conv_id hash buckets (>= 1), each filtered and committed as "
        "one snapshot; the next bucket stages while the current one "
        "commits, yet one bucket is still cached at a time; more buckets "
        "also shrink each bucket's broadcast conversation-verdict table",
    )
    p.add_argument("--cores", type=int, default=None, help="local[N] (local runs only)")
    p.add_argument(
        "--export-good-jsonl",
        help="also export the good sink (kept turns of kept conversations, "
        "scrubbed text) as gzip JSONL shards into this directory",
    )
    p.add_argument(
        "--export-shards",
        type=int,
        default=None,
        help="shard count for --export-good-jsonl (default: upstream partitioning)",
    )
    # table maintenance (nightly pass on the labels SnapshotTable; combine
    # with --maintain-only to run maintenance without re-running the job)
    m = p.add_argument_group("table maintenance")
    m.add_argument(
        "--compact",
        action="store_true",
        help="compact the labels table after the job",
    )
    m.add_argument(
        "--compact-cluster-by",
        help="comma-separated sort keys for a SORTED compaction rewrite "
        "that consolidates the per-bucket runs into --compact-partitions "
        "files with disjoint key ranges (the job already writes each run "
        "sorted on conv_id, turn_idx, so point reads prune before "
        "compaction too: one file per run, one file after it)",
    )
    m.add_argument("--compact-partitions", type=int, default=16)
    m.add_argument(
        "--compact-zorder",
        action="store_true",
        help="sort the compaction on the Z-curve interleave of the "
        "--compact-cluster-by columns (sublinear file pruning on every "
        "clustered column, not just the leading one)",
    )
    m.add_argument(
        "--rollback-to",
        type=int,
        default=None,
        help="metadata-only undo: commit a new snapshot equal to this "
        "version's state (bad-ingest recovery; requires --maintain-only "
        "— rolling back in the same invocation as an ingest would "
        "silently discard the run the job just committed; runs before "
        "--compact/--vacuum so they operate on the restored state)",
    )
    m.add_argument(
        "--redact",
        help="parquet dir of update rows keyed (conv_id, turn_idx): "
        "matching turns are replaced (or dropped where a _delete column "
        "is true), applied as an Iceberg-style MERGE on the labels table; "
        "runs after --rollback-to and before --compact, so a compaction "
        "in the same invocation folds the merge's equality deletes",
    )
    m.add_argument(
        "--redact-mode",
        choices=["mor", "cow"],
        default="mor",
        help="mor (default) writes one equality-delete keys file + one "
        "insert run — O(update keys), no data-file rewrite; cow rewrites "
        "only the run dirs containing a matched key",
    )
    m.add_argument(
        "--merge-id",
        default=None,
        help="idempotency key for --redact (default: redact-<run-id>; a "
        "crash-and-rerun with the same id is a metadata no-op)",
    )
    m.add_argument(
        "--export-changelog",
        help="write the row-level CDC changelog (rows tagged "
        "_change_type insert|delete and _change_version) for the range "
        "(--changes-from, --changes-to] to this parquet dir; runs before "
        "--vacuum so the range's data dirs still exist",
    )
    m.add_argument("--changes-from", type=int, default=0)
    m.add_argument("--changes-to", type=int, default=None)
    m.add_argument(
        "--tag",
        dest="publish_tag",
        help="after the job (and any --compact), atomically point this "
        "named ref at the latest snapshot — the publish pointer readers "
        "address via read(tag=...); vacuum retains tagged versions",
    )
    m.add_argument(
        "--vacuum-retain",
        type=int,
        default=None,
        help="expire all but the last N snapshots and delete data dirs "
        "no retained snapshot references",
    )
    m.add_argument(
        "--vacuum-min-age",
        type=float,
        default=3 * 86400,
        help="never delete a dir younger than this many seconds "
        "(in-flight-writer guard; default 3 days)",
    )
    m.add_argument(
        "--maintain-only",
        action="store_true",
        help="skip the filter job; run only the requested maintenance "
        "against the existing --output table",
    )
    # moira-style threshold surface (maps onto moira_spark.config via
    # apply_overrides — the pandas oracle reads the same module, so the
    # F1/byte-exact acceptance gates hold under any setting):
    #   --min-chars/--max-chars/--min-words/--max-words <- moira --truncate
    #     and the length gate; --ppl-max <- --maxerrors/--uncert (expected
    #     errors re-expressed as a perplexity ceiling); --max-bad-turns <-
    #     paired-read whole-pair discard, lifted to conversations.
    t = p.add_argument_group("filter thresholds (defaults: moira_spark/config.py)")
    t.add_argument("--min-chars", type=int, dest="MIN_CHARS")
    t.add_argument("--max-chars", type=int, dest="MAX_CHARS")
    t.add_argument("--min-words", type=int, dest="MIN_WORDS")
    t.add_argument("--max-words", type=int, dest="MAX_WORDS")
    t.add_argument(
        "--max-symbol-ratio", type=float, dest="MAX_SYMBOL_WORD_RATIO"
    )
    t.add_argument("--ppl-max", type=float, dest="PPL_MAX")
    t.add_argument("--ppl-min-chars", type=int, dest="PPL_MIN_CHARS")
    t.add_argument("--lang-min-conf", type=float, dest="LANG_MIN_CONF")
    t.add_argument(
        "--langs",
        dest="LANG_ALLOWLIST",
        help="comma-separated language allowlist (default: en)",
    )
    t.add_argument("--max-bad-turns", type=int, dest="CONV_MAX_BAD_TURNS")
    t.add_argument(
        "--salt-buckets",
        type=int,
        dest="CONV_AGG_SALT_BUCKETS",
        help="salt buckets for the hot-conversation two-phase aggregation",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if args.rollback_to is not None and not args.maintain_only:
        # validate BEFORE the job: rolling back in the same invocation as
        # an ingest would discard the run the job just committed
        raise SystemExit(
            "--rollback-to requires --maintain-only: rolling back in "
            "the same invocation as an ingest would discard the run "
            "this job just committed"
        )
    from moira_spark import config
    from moira_spark.job import run_filter_job
    from moira_spark.session import build_session

    overrides = {
        k: getattr(args, k, None) for k in config._OVERRIDABLE
    }
    if overrides.get("LANG_ALLOWLIST") is not None:
        langs = tuple(
            s.strip() for s in overrides["LANG_ALLOWLIST"].split(",") if s.strip()
        )
        if not langs:
            # an empty allowlist would silently drop 100% of turns
            raise SystemExit("--langs must name at least one language code")
        overrides["LANG_ALLOWLIST"] = langs
    changed = config.apply_overrides(**overrides)
    if changed:
        print(json.dumps({"threshold_overrides": changed}), file=sys.stderr)

    spark = build_session(app_name=f"moira-spark-{args.run_id}", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    if args.maintain_only:
        from moira_spark.sources.tableio import SnapshotTable

        table = SnapshotTable(f"{args.output}/labels")
        if table.latest_snapshot() is None:
            raise SystemExit(
                f"--maintain-only: no committed table at {args.output}/labels"
            )
        summary = {"run_id": args.run_id}
    else:
        if args.synthetic_turns:
            from moira_spark.datagen import transcripts as tg

            source = tg.gen_spark(spark, args.synthetic_turns, seed=42)
        elif args.input:
            source = spark.read.parquet(args.input)
        else:
            raise SystemExit("need --input or --synthetic-turns")

        table = run_filter_job(
            spark, source, args.output, args.run_id, n_buckets=args.buckets
        )
        final = table.read(spark)
        n = final.count()
        kept = final.filter("keep AND conv_keep").count()
        summary = {"run_id": args.run_id, "turns": n, "kept": kept}
        if args.export_good_jsonl:
            from moira_spark.pipeline import filtered_output
            from moira_spark.sources.jsonl import write_jsonl

            good = filtered_output(final, source)
            write_jsonl(
                good,
                args.export_good_jsonl,
                shards=args.export_shards,
                sort_within_shards="conv_id",
                mode="overwrite",
            )
            summary["exported_jsonl"] = kept

    if args.rollback_to is not None:
        snap = table.rollback(args.rollback_to)
        summary["rolled_back_to"] = args.rollback_to
        summary["rollback_version"] = snap.version
    if args.redact:
        upd = spark.read.parquet(args.redact)
        snap = table.merge(
            spark,
            upd,
            ["conv_id", "turn_idx"],
            merge_id=args.merge_id or f"redact-{args.run_id}",
            delete_col="_delete" if "_delete" in upd.columns else None,
            mode=args.redact_mode,
        )
        summary["redacted_version"] = snap.version
        summary["redact_mode"] = args.redact_mode
    if args.compact:
        cluster_by = (
            [s.strip() for s in args.compact_cluster_by.split(",") if s.strip()]
            if args.compact_cluster_by
            else None
        )
        snap = table.compact(
            spark,
            target_partitions=args.compact_partitions,
            cluster_by=cluster_by,
            zorder=args.compact_zorder,
        )
        summary["compacted_version"] = snap.version
        summary["runs_folded"] = len(snap.retired_run_ids)
    if args.publish_tag:
        # after the job and any compaction, before vacuum — the tag pin
        # is what makes the following vacuum safe for pinned readers
        summary["tagged"] = args.publish_tag
        summary["tagged_version"] = table.tag(args.publish_tag)
    if args.export_changelog:
        log = table.read_changelog(
            spark, args.changes_from, args.changes_to
        )
        log.write.mode("overwrite").parquet(args.export_changelog)
        summary["changelog_rows"] = spark.read.parquet(
            args.export_changelog
        ).count()
    if args.vacuum_retain is not None:
        removed = table.vacuum(
            retain_last=args.vacuum_retain,
            min_age_seconds=args.vacuum_min_age,
        )
        summary["dirs_vacuumed"] = len(removed)

    summary["wall_sec"] = round(time.time() - t0, 1)
    summary["snapshot_version"] = table.latest_snapshot().version
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
