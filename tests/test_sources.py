"""JSONL source/sink round-trips and corrupt-record surfacing
(moira_spark/sources/jsonl.py), plus driver.py's export and maintenance
paths."""

from __future__ import annotations

import glob
import gzip
import os

import pytest

from moira_spark.sources.jsonl import (
    CORRUPT_COL,
    corrupt_line_count,
    read_jsonl,
    write_jsonl,
)


class TestJsonl:
    SCHEMA = "conv_id string, turn_idx int, text string"

    def test_round_trip_gzip_shards(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"c{i}", i, f"text {i}") for i in range(10)], self.SCHEMA
        )
        path = str(tmp_path / "shards")
        write_jsonl(df, path, shards=2, sort_within_shards="conv_id")
        parts = glob.glob(os.path.join(path, "part-*.json.gz"))
        assert len(parts) == 2
        with gzip.open(parts[0], "rt") as f:
            assert f.readline().startswith("{")
        back = read_jsonl(spark, path, self.SCHEMA)
        assert corrupt_line_count(back) == 0
        got = {(r["conv_id"], r["turn_idx"], r["text"]) for r in back.collect()}
        assert got == {(f"c{i}", i, f"text {i}") for i in range(10)}

    def test_corrupt_lines_surface_permissively(self, spark, tmp_path):
        p = tmp_path / "mixed.jsonl"
        with open(p, "w") as f:
            f.write('{"conv_id": "a", "turn_idx": 0, "text": "hi"}\n')
            f.write('{"conv_id": "b", "turn_idx": 1, "text": "torn...\n')
            f.write('{"conv_id": "c", "turn_idx": 2, "text": "ok"}\n')
        df = read_jsonl(spark, str(p), self.SCHEMA)
        assert corrupt_line_count(df) == 1
        clean = df.filter(df[CORRUPT_COL].isNull()).collect()
        assert {r["conv_id"] for r in clean} == {"a", "c"}

    def test_failfast_raises(self, spark, tmp_path):
        p = tmp_path / "bad.jsonl"
        with open(p, "w") as f:
            f.write("not json at all\n")
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        with pytest.raises((Py4JJavaError, PySparkException)):
            read_jsonl(spark, str(p), self.SCHEMA, mode="FAILFAST").collect()

    def test_writer_drops_corrupt_column(self, spark, tmp_path):
        p = tmp_path / "src.jsonl"
        with open(p, "w") as f:
            f.write('{"conv_id": "a", "turn_idx": 0, "text": "hi"}\n')
            f.write("{torn\n")
        df = read_jsonl(spark, str(p), self.SCHEMA)
        out = str(tmp_path / "reexport")
        write_jsonl(df.filter(df[CORRUPT_COL].isNull()), out, compression=None)
        back = read_jsonl(spark, out, self.SCHEMA)
        assert corrupt_line_count(back) == 0
        assert back.drop(CORRUPT_COL).columns == ["conv_id", "turn_idx", "text"]


class TestDriverJsonlExport:
    def test_job_exports_good_sink_as_jsonl(self, spark, tmp_path, capsys):
        import json as _json

        import driver

        out = str(tmp_path / "job")
        good_dir = str(tmp_path / "good")
        rc = driver.main(
            [
                "--synthetic-turns",
                "2000",
                "--output",
                out,
                "--run-id",
                "exp1",
                "--buckets",
                "2",
                "--export-good-jsonl",
                good_dir,
                "--export-shards",
                "2",
            ]
        )
        assert rc == 0
        summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["exported_jsonl"] == summary["kept"] > 0
        back = read_jsonl(
            spark,
            good_dir,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        assert corrupt_line_count(back) == 0
        rows = back.collect()
        assert len(rows) == summary["kept"]
        assert all(r["conv_id"] is not None and r["text"] is not None for r in rows)


class TestDriverMaintenance:
    def test_job_then_maintain_only_compact_vacuum(self, spark, tmp_path, capsys):
        import json as _json

        import driver
        from moira_spark.sources.tableio import SnapshotTable

        out = str(tmp_path / "job")
        # nightly job: several buckets -> several run dirs
        rc = driver.main(
            ["--synthetic-turns", "2000", "--output", out,
             "--run-id", "n1", "--buckets", "4"]
        )
        assert rc == 0
        job = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        t = SnapshotTable(f"{out}/labels")
        assert len(t.latest_snapshot().run_ids) == 4

        # separate maintenance invocation: sorted compaction + vacuum
        rc = driver.main(
            ["--maintain-only", "--output", out, "--run-id", "maint",
             "--compact", "--compact-cluster-by", "conv_id",
             "--compact-partitions", "2",
             "--vacuum-retain", "1", "--vacuum-min-age", "0"]
        )
        assert rc == 0
        m = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert m["runs_folded"] == 4 and m["dirs_vacuumed"] >= 4
        snap = t.latest_snapshot()
        assert snap.version == m["snapshot_version"] > job["snapshot_version"]
        assert len(snap.run_ids) == 1
        # data identical after the maintenance pass
        assert t.read(spark).count() == job["turns"]
        # sorted rewrite: the compacted run carries per-file zone maps
        assert len(snap.file_stats[snap.run_ids[0]]) == 2

    def test_maintain_only_without_table_errors(self, tmp_path):
        import driver
        import pytest as _pytest

        with _pytest.raises(SystemExit, match="no committed table"):
            driver.main(
                ["--maintain-only", "--output", str(tmp_path / "none"),
                 "--run-id", "x", "--compact"]
            )

    def test_maintain_only_rollback_undoes_a_bad_ingest(
        self, spark, tmp_path, capsys
    ):
        import json as _json

        import driver
        from moira_spark.sources.tableio import SnapshotTable

        out = str(tmp_path / "job")
        rc = driver.main(
            ["--synthetic-turns", "1000", "--output", out,
             "--run-id", "good", "--buckets", "2"]
        )
        assert rc == 0
        good = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        t = SnapshotTable(f"{out}/labels")
        good_v = t.latest_snapshot().version

        # a second (bad) ingest appends more runs...
        rc = driver.main(
            ["--synthetic-turns", "500", "--output", out,
             "--run-id", "bad", "--buckets", "2"]
        )
        assert rc == 0
        capsys.readouterr()
        assert t.read(spark).count() > good["turns"]

        # ...and the operator undoes it from the maintenance CLI
        rc = driver.main(
            ["--maintain-only", "--output", out, "--run-id", "undo",
             "--rollback-to", str(good_v)]
        )
        assert rc == 0
        m = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert m["rolled_back_to"] == good_v
        assert m["snapshot_version"] == m["rollback_version"] > good_v
        assert t.read(spark).count() == good["turns"]

    def test_job_tags_the_published_snapshot(self, spark, tmp_path, capsys):
        import json as _json

        import driver
        from moira_spark.sources.tableio import SnapshotTable

        out = str(tmp_path / "job")
        rc = driver.main(
            ["--synthetic-turns", "1000", "--output", out,
             "--run-id", "n1", "--buckets", "2", "--compact",
             "--compact-partitions", "1", "--tag", "published"]
        )
        assert rc == 0
        m = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        t = SnapshotTable(f"{out}/labels")
        assert m["tagged"] == "published"
        assert m["tagged_version"] == m["snapshot_version"]
        assert t.read(spark, tag="published").count() == m["turns"]
