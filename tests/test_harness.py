"""Fast in-pytest guard over the driver-contract harness.

Runs every DuckDB-oracled query at sf0.001 against DuckDB with the same
row-count/columns/value-hash compare the driver uses
(scripts/check_correctness.py runs the same sweep as a standalone script).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from scripts.check_correctness import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_duckdb(spark, duck, name):
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    try:
        sdf = qs[name](spark, SF_DIR).toPandas()
    finally:
        # several queries persist at plan branch points; drop those cache
        # entries so they do not pile up across the sweep
        spark.catalog.clearCache()
    ddf = duck.execute(osql[name]).df()
    assert len(sdf) == len(ddf), (len(sdf), len(ddf))
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert value_hash(sdf) == value_hash(ddf)


def test_every_query_has_unique_columns():
    """Column aliases must be unambiguous for the driver's sorted compare."""
    qs = entrymod.queries()
    assert len(qs) >= 40
    osql = entrymod.oracle_sql()
    assert set(osql) <= set(qs)


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields][:3] == ["conv_id", "turn_idx", "keep"]


class TestHotShingleCap:
    def test_cap_drops_only_hot_shingles(self, spark):
        import pyspark.sql.functions as F

        from moira_spark.harness.dedup import cap_hot_shingles

        rows = [(d, s) for d in range(10) for s in ("boilerplate everywhere",)]
        rows += [(d, f"rare {d}") for d in range(10)]
        sh = spark.createDataFrame(rows, "doc_id int, shingle string")
        capped = cap_hot_shingles(sh, max_df=5).toPandas()
        assert (capped.shingle.str.startswith("rare")).all()
        assert len(capped) == 10

    def test_capped_jaccard_still_finds_planted_dups(self, spark):
        # planted near-dups share nearly all shingles, each of which occurs
        # in exactly 2 docs -> a df cap far above 2 must not change results
        from moira_spark.harness.dedup import dedup_jaccard_3gram

        base = dedup_jaccard_3gram(spark, "/root/testdata/sf0.001")
        capped = dedup_jaccard_3gram(
            spark, "/root/testdata/sf0.001", max_shingle_df=50
        )
        b = base.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
        c = capped.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
        assert b.equals(c)


def test_minhash_lsh_rows_equal_exact_jaccard(spark):
    """dedup_minhash_lsh (band candidates, then exact verify) returns the
    same pairs and rounded Jaccard as the shingle equi-join of
    dedup_jaccard_3gram at sf0.001 (44 rows): every near-dup pair there
    shares a band.  A df cap far above 2 leaves the result unchanged, as
    for the shingle join above."""
    from moira_spark.harness.dedup import dedup_jaccard_3gram, dedup_minhash_lsh

    def rows(df):
        out = sorted(tuple(r) for r in df.collect())
        spark.catalog.clearCache()
        return out

    exact = rows(dedup_jaccard_3gram(spark, "/root/testdata/sf0.001"))
    assert len(exact) == 44
    assert rows(dedup_minhash_lsh(spark, "/root/testdata/sf0.001")) == exact
    capped = dedup_minhash_lsh(spark, "/root/testdata/sf0.001", max_shingle_df=50)
    assert rows(capped) == exact


class TestConnectedComponents:
    def test_chain_needs_multiple_rounds(self, spark):
        """A path graph 1-2-3-4-5 has diameter 4: propagation must iterate,
        not just take the one-hop neighbor min."""
        from moira_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src bigint, dst bigint"
        )
        got = {
            r.id: r.comp for r in connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
        spark.catalog.clearCache()

    def test_nonconvergence_raises(self, spark):
        from moira_spark.operators.components import connected_components

        edges = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
        try:
            connected_components(edges, max_iter=1)
            raise AssertionError("expected RuntimeError")
        except RuntimeError:
            pass
        spark.catalog.clearCache()


def test_shingle_set_total_over_short_docs(spark):
    """_with_shingle_set/_with_signatures must be total over docs with < 3
    words (empty shingle array, NULL signature) — the testdata never
    exercises this, so pin it on a hand-built frame."""
    import pyspark.sql.functions as F

    from moira_spark.harness.dedup import _with_shingle_set, _with_signatures

    df = spark.createDataFrame(
        [
            (1, ""),
            (2, "one"),
            (3, "two words"),
            (4, "exactly three words"),
            (5, "  spaced   out   tokens here  "),
        ],
        "doc_id long, text string",
    )
    s = {r["doc_id"]: r["s"] for r in _with_shingle_set(df).collect()}
    assert s[1] == [] and s[2] == [] and s[3] == []
    assert s[4] == ["exactly three words"]
    assert s[5] == ["spaced out tokens", "out tokens here"]

    signed = {r["doc_id"]: r["mh"] for r in _with_signatures(df).collect()}
    assert signed[1] is None and signed[2] is None and signed[3] is None
    assert len(signed[4]) == 64 and len(signed[5]) == 64
    # identical shingle sets -> identical signatures (determinism)
    again = {r["doc_id"]: r["mh"] for r in _with_signatures(df).collect()}
    assert again == signed


def test_span_dedup_rebuild_roundtrip(spark):
    """doc_span_dedup on a corpus with NO repeated spans must reassemble
    every document byte-identically (split -> keep-all -> join is the
    identity), and repeated spans must survive only in the first doc."""
    import pyspark.sql.functions as F

    from moira_spark.harness.dedup import doc_span_dedup

    # build a tiny parquet corpus in the harness table layout
    import os
    import tempfile

    work = tempfile.mkdtemp(prefix="moira_span_test_")
    rows = [
        (0, "alpha beta. gamma delta. unique zero"),
        (1, "epsilon zeta. alpha beta. unique one"),  # repeats doc0 span
        (2, "totally distinct content. another span"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(work, "documents.parquet")
    )
    out = {r["doc_id"]: r for r in doc_span_dedup(spark, work).collect()}
    # doc 0 planted footer (doc_id % 4 == 0) keeps first occurrence of all
    assert out[0]["n_spans"] == 5  # 3 original + 2 footer spans
    assert out[0]["n_kept_spans"] == 5
    # doc 1: loses the repeated "alpha beta" span
    assert out[1]["n_spans"] == 3 and out[1]["n_kept_spans"] == 2
    assert out[1]["deduped_text"] == "epsilon zeta. unique one"
    # doc 2: untouched, byte-identical rebuild
    assert out[2]["deduped_text"] == rows[2][1]
    import shutil

    shutil.rmtree(work, ignore_errors=True)
