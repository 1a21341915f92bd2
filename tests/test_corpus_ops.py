"""Edge-case semantics of the round-5 corpus operators, on hand-built
frames — the planted harness fixtures exercise the happy path against
DuckDB; these pin the boundary behaviors a fixture refresh would never
reach (sub-shingle docs, exact twins, containment chains, 7-vs-8-word
overlaps, singleton strata)."""

from __future__ import annotations

import pyspark.sql.functions as F

from moira_spark.harness.dedup import containment_flags, decontaminate_flags
from moira_spark.harness.text import percentile_gate


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestContainment:
    def test_wrapped_doc_contains_source(self, spark):
        rows = {
            r["doc_id"]: r
            for r in containment_flags(
                _docs(
                    spark,
                    [
                        (1, "alpha bravo charlie delta echo foxtrot golf"),
                        (
                            2,
                            "header one two "
                            "alpha bravo charlie delta echo foxtrot golf"
                            " footer three four",
                        ),
                        (3, "completely unrelated words about nothing here"),
                    ],
                )
            ).collect()
        }
        # every shingle of 1 appears in 2; 2 is strictly larger -> 1 dropped
        assert rows[1]["is_contained"] and rows[1]["n_containers"] == 1
        assert not rows[2]["is_contained"]  # the superset survives
        assert not rows[3]["is_contained"]

    def test_exact_twins_resolve_min_id(self, spark):
        rows = {
            r["doc_id"]: r
            for r in containment_flags(
                _docs(
                    spark,
                    [
                        (5, "same exact text in both documents here"),
                        (9, "same exact text in both documents here"),
                    ],
                )
            ).collect()
        }
        # equal shingle sets: containment 1.0 both ways; the SMALLER id wins
        assert not rows[5]["is_contained"]
        assert rows[9]["is_contained"]

    def test_sub_shingle_docs_never_participate(self, spark):
        rows = {
            r["doc_id"]: r
            for r in containment_flags(
                _docs(
                    spark,
                    [
                        (1, "two words"),
                        (2, "two words"),  # exact twin but NO shingles
                        (3, "two words padded into a real document"),
                    ],
                )
            ).collect()
        }
        # < 3 words -> empty shingle set -> never contained, never container
        assert not rows[1]["is_contained"] and not rows[2]["is_contained"]
        assert not rows[3]["is_contained"]

    def test_chain_keeps_only_the_largest(self, spark):
        inner = "alpha bravo charlie delta echo"
        mid = f"pre one {inner} post two"
        outer = f"wrap three four {mid} wrap five six"
        rows = {
            r["doc_id"]: r
            for r in containment_flags(
                _docs(spark, [(1, inner), (2, mid), (3, outer)])
            ).collect()
        }
        # A ⊂ B ⊂ C: A contained by both, B by C, C survives
        assert rows[1]["is_contained"] and rows[1]["n_containers"] == 2
        assert rows[2]["is_contained"] and rows[2]["n_containers"] == 1
        assert not rows[3]["is_contained"]


class TestDecontaminate:
    EVAL = "the quick brown fox jumps over the lazy dog tonight"

    def _flags(self, spark, corpus_rows):
        return {
            r["doc_id"]: r
            for r in decontaminate_flags(
                _docs(spark, corpus_rows),
                spark.createDataFrame([(self.EVAL,)], "text string"),
            ).collect()
        }

    def test_eight_shared_words_contaminate(self, spark):
        rows = self._flags(
            spark,
            [
                # contains the eval 8-gram "quick brown fox jumps over the
                # lazy dog" verbatim inside other text
                (
                    1,
                    "story begins quick brown fox jumps over the lazy dog"
                    " and then ends",
                ),
                (2, "a clean document with entirely different content words"),
            ],
        )
        assert rows[1]["contaminated"] and rows[1]["n_hit_ngrams"] >= 1
        assert not rows[2]["contaminated"] and rows[2]["n_hit_ngrams"] == 0

    def test_seven_shared_words_are_clean(self, spark):
        rows = self._flags(
            spark,
            [
                # shares only the 7 consecutive words "quick brown fox jumps
                # over the lazy" (then diverges) — no 8-gram overlap
                (1, "quick brown fox jumps over the lazy CAT today instead"),
            ],
        )
        assert not rows[1]["contaminated"]

    def test_eval_member_is_a_planted_positive(self, spark):
        rows = self._flags(spark, [(1, self.EVAL)])
        # the doc IS an eval item: every one of its 8-grams hits
        assert rows[1]["contaminated"] and rows[1]["n_hit_ngrams"] == 3

    def test_short_docs_cannot_be_flagged(self, spark):
        rows = self._flags(
            spark, [(1, "the quick brown fox jumps over the")]  # 7 words
        )
        assert not rows[1]["contaminated"]


class TestPercentileGate:
    def _gate(self, spark, rows, min_pr=0.75):
        df = spark.createDataFrame(
            rows, "doc_id long, source string, score long"
        )
        return {
            r["doc_id"]: r for r in percentile_gate(df, min_pr).collect()
        }

    def test_top_quarter_kept_per_source(self, spark):
        rows = self._gate(
            spark,
            [(i, "a", i * 10) for i in range(1, 5)]
            + [(10 + i, "b", 100 - i) for i in range(1, 5)],
        )
        # 4 docs/source, pr = (rank-1)/3 -> only the top-scoring doc
        # clears 0.75 in each source
        assert sorted(d for d, r in rows.items() if r["kept"]) == [4, 11]

    def test_ties_break_by_doc_id(self, spark):
        rows = self._gate(
            spark, [(1, "a", 7), (2, "a", 7), (3, "a", 7), (4, "a", 7)]
        )
        # all scores equal: rank is by doc_id, so the LARGEST id is kept
        assert sorted(d for d, r in rows.items() if r["kept"]) == [4]
        assert rows[1]["pr"] == 0.0 and rows[4]["pr"] == 1.0

    def test_singleton_source_keeps_nothing(self, spark):
        # documented edge: percent_rank of a single row is 0.0, so a
        # singleton stratum keeps nothing under min_pr > 0 — callers
        # pre-filter tiny strata (see percentile_gate docstring)
        rows = self._gate(spark, [(1, "only", 999)])
        assert rows[1]["pr"] == 0.0 and not rows[1]["kept"]


class TestRepetitionStats:
    def _stats(self, spark, rows, **kw):
        from moira_spark.harness.text import repetition_stats

        out = repetition_stats(_docs(spark, rows), **kw).collect()
        return {r.doc_id: r.asDict() for r in out}

    def test_repeated_phrase_flagged(self, spark):
        rows = self._stats(
            spark,
            [
                (1, " ".join(["click here"] * 10)),  # one bigram, 10x
                # all-unique words, long enough that no single bigram can
                # reach 0.2 of the chars (short docs trivially cross it)
                (2, "alpha beta gamma delta epsilon zeta theta iota "
                    "kappa lambda sigma omega mu nu xi omicron"),
            ],
        )
        # doc 1: every bigram is a repeat of "here click"/"click here";
        # "click here" covers 10 occurrences * 9 chars = 90 of 90 chars
        assert rows[1]["repetitious"] and rows[1]["top_bigram_frac"] == 1.0
        assert rows[1]["dup_word_frac"] == 1.0
        assert not rows[2]["repetitious"]
        assert rows[2]["dup_word_frac"] == 0.0

    def test_single_word_doc_has_no_bigrams(self, spark):
        rows = self._stats(spark, [(1, "solo")])
        assert rows[1]["n_words"] == 1
        assert rows[1]["top_bigram_frac"] == 0.0
        assert rows[1]["dup_word_frac"] == 0.0
        assert not rows[1]["repetitious"]

    def test_empty_text_defined(self, spark):
        # zero words: the GREATEST(total_chars, 1) clamp keeps the
        # fractions defined (0.0), not NULL/NaN
        rows = self._stats(spark, [(1, "")])
        assert rows[1]["n_words"] == 0 and rows[1]["total_chars"] == 0
        assert rows[1]["top_bigram_frac"] == 0.0
        assert not rows[1]["repetitious"]

    def test_flag_threshold_is_on_rounded_value(self, spark):
        # 'aa bb aa bb aa' -> top bigram 'aa bb' (2x, 4 chars) over 10
        # chars = 0.8 -> flagged at default 0.2, clean at flag_at > 0.8
        rows = self._stats(spark, [(1, "aa bb aa bb aa")], flag_at=0.81)
        assert rows[1]["top_bigram_frac"] == 0.8
        assert not rows[1]["repetitious"]

    def test_dup5gram_coverage_is_interval_union(self, spark):
        # six identical words -> two overlapping duplicated 5-grams; the
        # COVERAGE semantic counts each position once (frac = 1.0), where
        # occurrence-weighted counting would give 10/6 > 1
        rows = self._stats(spark, [(1, "z z z z z z")])
        assert rows[1]["dup_5gram_frac"] == 1.0

    def test_dup5gram_short_doc_zero(self, spark):
        rows = self._stats(spark, [(1, "only four words here")])
        assert rows[1]["dup_5gram_frac"] == 0.0

    def test_dup5gram_gap_position_excluded(self, spark):
        # 'a b c d e X a b c d e': the 5-gram 'a b c d e' duplicates at
        # positions 1 and 7; position 6 (X) is never covered -> 10/11
        rows = self._stats(spark, [(1, "a b c d e X a b c d e")])
        assert rows[1]["dup_5gram_frac"] == round(10 / 11, 6)

    def test_counts_batch_kernel_direct(self):
        # r7.2: the per-doc integer counts moved into one Arrow batch
        # kernel; pin the pure-Python function directly, including the
        # split-on-single-space parity (double space -> empty token
        # dropped, exactly like F.split(text, ' ') + filter)
        from moira_spark.kernels.text import gopher_counts

        (a, b, c) = gopher_counts(
            ["x  y x", "", "q w q w q w q w q w"]
        )
        # 'x  y x': words [x, y, x]; no repeated bigram ('x y' != 'y x'),
        # top bigram cov = 1+1 = 2; dup word x: 2*1 = 2; no 5-grams
        assert a == (3, 3, 2, 2, 0)
        assert b == (0, 0, 0, 0, 0)
        # 10 words of 1 char; top bigram 'q w' 5x * 2 chars = 10; all
        # words dup (10 chars); every position covered by a dup 5-gram
        assert c == (10, 10, 10, 10, 10)


class TestTokenBudget:
    def _select(self, spark, rows, **kw):
        from moira_spark.harness.text import token_budget_select

        df = spark.createDataFrame(
            rows, "doc_id long, n_tokens long, q_score long"
        )
        out = token_budget_select(df, **kw).collect()
        return {r.doc_id: r.asDict() for r in out}

    def test_budget_boundary_is_inclusive(self, spark):
        # equal scores -> doc_id order; four 10-token docs, half budget =
        # 20 tokens: doc 2 lands EXACTLY on the budget and is kept
        rows = self._select(
            spark, [(1, 10, 5), (2, 10, 5), (3, 10, 5), (4, 10, 5)]
        )
        assert sorted(rows) == [1, 2]
        assert rows[2]["cum_tokens"] == 20

    def test_high_score_wins_regardless_of_id(self, spark):
        rows = self._select(
            spark, [(1, 10, 1), (2, 10, 9), (3, 10, 5), (4, 10, 9)]
        )
        # order: 2, 4 (score 9), then 3 (5), then 1; budget 20 -> {2, 4}
        assert sorted(rows) == [2, 4]

    def test_custom_budget_fraction(self, spark):
        rows = self._select(
            spark,
            [(1, 10, 5), (2, 10, 4), (3, 10, 3), (4, 10, 2)],
            budget_num=3,
            budget_den=4,
        )
        assert sorted(rows) == [1, 2, 3]


class TestSemanticDedup:
    def _flags(self, spark, rows, **kw):
        from moira_spark.harness.dedup import semantic_dedup_flags

        df = spark.createDataFrame(
            rows, "vec_id long, label long, v array<double>"
        )
        out = semantic_dedup_flags(df, **kw).collect()
        return {r.vec_id: r.asDict() for r in out}

    def test_exact_copy_in_same_cluster_flagged(self, spark):
        rows = self._flags(
            spark,
            [
                (1, 0, [1.0, 0.0]),
                (2, 1, [0.0, 1.0]),
                (3, 0, [1.0, 0.0]),  # copy of 1 -> same cluster, later id
            ],
        )
        assert rows[1]["cluster"] == rows[3]["cluster"]
        assert not rows[1]["is_dup"] and rows[3]["is_dup"]
        assert not rows[2]["is_dup"]

    def test_near_pair_across_clusters_survives(self, spark):
        # two similar vectors pulled into DIFFERENT clusters are never
        # compared — the SemDeDup trade-off this operator documents
        rows = self._flags(
            spark,
            [
                (1, 0, [1.0, 0.04]),
                (2, 1, [0.0, 1.0]),
                (3, 1, [0.04, 1.0]),
                (4, 0, [1.0, 0.0]),
                (5, 1, [0.96, 0.18]),  # cos vs 4 ~= 0.983 but cluster 1?
            ],
        )
        # vec 5 leans to cluster 0's centroid or 1's depending on the
        # fixture; the invariant under test: flags only ever arise within
        # one cluster
        flagged = [v for v, r in rows.items() if r["is_dup"]]
        for v in flagged:
            earlier = [
                u
                for u in rows
                if u < v and rows[u]["cluster"] == rows[v]["cluster"]
            ]
            assert earlier, f"vec {v} flagged without same-cluster earlier"

    def test_assignment_tie_breaks_to_smaller_label(self, spark):
        # a vector equidistant from two identical centroids goes to the
        # smaller label
        rows = self._flags(
            spark,
            [
                (1, 3, [1.0, 0.0]),
                (2, 7, [1.0, 0.0]),
            ],
        )
        assert rows[1]["cluster"] == 3 and rows[2]["cluster"] == 3


class TestTemperatureMix:
    def test_low_resource_upweighted(self, spark):
        # temperature alpha=0.5 must give the tail language a LARGER share
        # of the sample than its corpus share: 90/10 corpus -> weights
        # 9.49/3.16 -> tail sample share ~25%
        rows = [(i, "en") for i in range(90)] + [
            (1000 + i, "yo") for i in range(10)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        counts = df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lang")
        )
        w = F.floor(F.sqrt(F.col("n_lang")) * 1000000).cast("bigint")
        tot = counts.agg(
            F.sum(w).alias("sw"),
            F.ceil(F.sum("n_lang") * 0.4).cast("bigint").alias("m"),
        )
        targets = {
            r["lang"]: r["t"]
            for r in counts.crossJoin(F.broadcast(tot))
            .select(
                "lang",
                F.ceil(F.col("m") * w * 1.0 / F.col("sw"))
                .cast("bigint")
                .alias("t"),
            )
            .collect()
        }
        # corpus shares: en 90%, yo 10%; sample m=40
        assert targets["yo"] / 40 > 0.10 * 2  # at least 2x up-weighted
        assert targets["en"] < 40 * 0.9
        # per-stratum ceil overshoot is bounded by the stratum count
        assert sum(targets.values()) <= 40 + 2


class TestKmeans:
    def _vecs(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, v array<double>")

    def test_two_obvious_clusters(self, spark):
        from moira_spark.harness.similarity import kmeans_fit

        rows = [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [0.1, 0.0]),
            (3, [10.0, 10.1]),
            (4, [0.0, 0.1]),
            (5, [9.9, 10.0]),
        ]
        out = kmeans_fit(self._vecs(spark, rows), k=2, iters=3).collect()
        rows_by = {(r.iteration, r.cluster): r for r in out}
        final_total = rows_by[(3, -1)]
        assert final_total.n_members == 6
        # converged: the two tight blobs -> near-zero inertia
        assert final_total.inertia < 0.2
        # monotone descent across iterations (the in-query hard floor)
        totals = [rows_by[(i, -1)].inertia for i in (1, 2, 3)]
        assert totals[0] >= totals[1] >= totals[2] - 1e-6

    def test_inertia_increase_raises(self):
        # the hard floor itself: an increasing total sequence must raise,
        # a non-increasing one (within float tolerance) must not
        import pytest

        from moira_spark.harness.similarity import _assert_monotone_inertia

        _assert_monotone_inertia([10.0, 4.0, 4.0 + 5e-7])
        with pytest.raises(AssertionError, match="inertia increased"):
            _assert_monotone_inertia([10.0, 4.0, 4.1])

    def test_member_counts_conserved_each_iteration(self, spark):
        from moira_spark.harness.similarity import kmeans_fit

        rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
        out = kmeans_fit(self._vecs(spark, rows), k=3, iters=2).collect()
        for it in (1, 2):
            per = [r for r in out if r.iteration == it and r.cluster >= 0]
            tot = [r for r in out if r.iteration == it and r.cluster == -1]
            assert sum(r.n_members for r in per) == 40
            assert tot[0].n_members == 40

    def test_assignments_out_contract(self, spark):
        # assignments_out must expose the FINAL iteration's (vec_id,
        # cluster) frame, usable after fit returns (materialized before
        # the centroid blocks are freed)
        from moira_spark.harness.similarity import kmeans_fit

        rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
        out: dict = {}
        stats = kmeans_fit(self._vecs(spark, rows), k=3, iters=2,
                           assignments_out=out)
        a = out["df"].collect()
        assert len(a) == 40
        assert {r.vec_id for r in a} == set(range(40))
        # per-cluster member counts agree with the final stats rows
        from collections import Counter
        counts = Counter(r.cluster for r in a)
        final = {r.cluster: r.n_members for r in stats.collect()
                 if r.iteration == 2 and r.cluster >= 0}
        assert dict(counts) == final


class TestUnigramEntropy:
    def _run(self, spark, tmp_path, docs):
        import moira_spark.harness as h

        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            f"{tmp_path}/documents.parquet"
        )
        out = h.queries()["doc_unigram_entropy"](spark, str(tmp_path))
        return {r.doc_id: r for r in out.collect()}

    def test_known_entropies(self, spark, tmp_path):
        import math

        out = self._run(
            spark,
            tmp_path,
            [
                (1, "a a b b"),  # H = ln 2, TTR 0.5
                (2, "w x y z"),  # uniform 4 -> H = ln 4
                (3, "spam"),     # single word -> H = 0
            ],
        )
        assert abs(out[1].entropy - math.log(2)) < 1e-5
        assert out[1].type_token_ratio == 0.5
        assert abs(out[2].entropy - math.log(4)) < 1e-5
        assert out[3].entropy == 0.0 and out[3].low_entropy

    def test_looped_doc_scores_below_diverse_doc(self, spark, tmp_path):
        # the 3.05-nat bar is calibrated to the harness fixture's ~30-word
        # vocabulary (max H = ln(vocab) ~ 3.4); here pin the absolute flag
        # on both sides of it AND the relative ordering
        out = self._run(
            spark,
            tmp_path,
            [
                (1, " ".join(["buy now"] * 20)),              # H = ln 2
                (2, " ".join(f"w{i}" for i in range(40))),    # H = ln 40
            ],
        )
        assert out[1].entropy < out[2].entropy
        assert out[1].low_entropy
        assert not out[2].low_entropy  # ln 40 = 3.689 > 3.05

    def test_zero_iterations_rejected(self, spark):
        import pytest

        from moira_spark.harness.similarity import kmeans_fit

        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, v array<double>"
        )
        with pytest.raises(ValueError, match="iters >= 1"):
            kmeans_fit(vecs, k=1, iters=0)


class TestDsirWeights:
    def _run(self, spark, rows):
        from moira_spark.harness.text import dsir_weights

        df = spark.createDataFrame(
            rows, "doc_id long, is_target boolean, words array<string>"
        )
        return {r["doc_id"]: r for r in dsir_weights(df).collect()}

    def test_weight_matches_closed_form(self, spark):
        # two target docs of 'aaa', one raw doc of 'bbb', one raw doc of
        # 'aaa' — replicate the add-1 smoothed log-ratio exactly
        import math

        out = self._run(
            spark,
            [
                (1, True, ["aaa", "aaa"]),
                (2, True, ["aaa", "aaa"]),
                (3, False, ["bbb", "bbb"]),
                (4, False, ["aaa", "aaa"]),
            ],
        )
        B, r, t = 128, 8, 4
        # lam = ln((ct+1)(r+B) / ((cr+1)(t+B))): aaa has cr=6, ct=4; bbb
        # has cr=2, ct=0 (no bucket collision: aaa -> 71, bbb -> 38)
        lam_aaa = round(math.log(((4 + 1) * (r + B)) / ((6 + 1) * (t + B))) * 1e6)
        lam_bbb = round(math.log(((0 + 1) * (r + B)) / ((2 + 1) * (t + B))) * 1e6)
        assert out[4]["weight_fp"] == 2 * lam_aaa
        assert out[3]["weight_fp"] == 2 * lam_bbb
        # the raw doc written in target vocabulary outranks the off-target one
        assert out[4]["weight_fp"] > out[3]["weight_fp"]
        assert out[1]["weight_fp"] == out[4]["weight_fp"]

    def test_empty_doc_retained_with_zero_weight(self, spark):
        out = self._run(spark, [(1, True, ["aaa"]), (2, False, [])])
        assert out[2]["n_tokens"] == 0
        assert out[2]["weight_fp"] == 0
        assert out[2]["weight"] == 0.0
        assert not out[2]["selected"]


class TestStructureLint:
    def _run(self, spark, rows):
        import datetime as dt

        from moira_spark.harness.transcripts import structure_lint

        base = dt.datetime(2026, 1, 1)

        def ts(sec):
            return base + dt.timedelta(seconds=sec)

        df = spark.createDataFrame(
            [(c, i, r, "text", None, ts(s)) for (c, i, r, s) in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        return {r["conv_id"]: r for r in structure_lint(df).collect()}

    def test_clean_conversation_is_ok(self, spark):
        out = self._run(
            spark,
            [
                ("c", 0, "system", 0),
                ("c", 1, "user", 7),
                ("c", 2, "assistant", 14),
                ("c", 3, "tool", 21),
                ("c", 4, "tool", 28),
                ("c", 5, "assistant", 35),
            ],
        )
        r = out["c"]
        assert r["structure_ok"]
        assert r["n_turns"] == 6
        # tool-after-tool is a legal chain: neither orphan nor repeat
        assert r["n_orphan_tools"] == 0
        assert r["n_role_repeats"] == 0

    def test_retry_duplicate_is_slot_dup_and_inversion(self, spark):
        out = self._run(
            spark,
            [
                ("c", 0, "user", 0),
                ("c", 0, "user", 3600),  # retry: same slot, ts +1h
                ("c", 1, "assistant", 7),
            ],
        )
        r = out["c"]
        assert r["n_dup_turn_idx"] == 1
        assert r["n_ts_inversions"] == 1  # 1h-later dup precedes turn 1
        assert r["n_role_repeats"] == 1
        assert not r["structure_ok"]

    def test_orphan_tool_after_user(self, spark):
        out = self._run(
            spark,
            [("c", 0, "user", 0), ("c", 1, "tool", 7), ("c", 2, "assistant", 14)],
        )
        assert out["c"]["n_orphan_tools"] == 1

    def test_tool_opening_a_conversation_is_orphan(self, spark):
        out = self._run(spark, [("c", 0, "tool", 0), ("c", 1, "assistant", 7)])
        assert out["c"]["n_orphan_tools"] == 1

    def test_misplaced_system_detected(self, spark):
        out = self._run(
            spark,
            [("c", 0, "user", 0), ("c", 1, "system", 7), ("c", 2, "user", 14)],
        )
        assert out["c"]["n_misplaced_system"] == 1
        assert not out["c"]["structure_ok"]

    def test_conversations_isolated(self, spark):
        out = self._run(
            spark,
            [
                ("a", 0, "user", 0),
                ("a", 1, "assistant", 7),
                # b starts with an earlier ts than a ended — NOT an inversion,
                # adjacency never crosses a conversation boundary
                ("b", 0, "user", 1),
                ("b", 1, "user", 8),
            ],
        )
        assert out["a"]["structure_ok"]
        assert out["b"]["n_role_repeats"] == 1
        assert out["b"]["n_ts_inversions"] == 0


class TestHotClusterCap:
    """intra_cluster_prune(max_cluster=...): the SemDeDup fan-out guard.
    Clusters above the cap sub-split by a sign-LSH signature sized so an
    even split lands under the cap; exact copies share the signature by
    construction, so planted duplicates are still always caught."""

    def _frame(self, spark, rows):
        import pyspark.sql.functions as F

        from moira_spark.harness.similarity import _dot

        df = spark.createDataFrame(
            rows, "vec_id long, cluster long, v array<double>"
        )
        return df.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))

    def test_cap_preserves_exact_copy_recall(self, spark):
        from moira_spark.harness.dedup import intra_cluster_prune

        def e(i):  # 64-dim basis vector
            v = [0.0] * 64
            v[i] = 1.0
            return v

        rows = []
        vid = 0
        # hot cluster 0: 6 families x (original + exact copy) = 12 > cap 4
        for fam in range(6):
            rows.append((vid, 0, e(fam))); vid += 1
            rows.append((vid, 0, e(fam))); vid += 1
        # cold cluster 1: one pair, stays on the unsplit (-1) path
        rows.append((vid, 1, e(60))); vid += 1
        rows.append((vid, 1, e(60))); vid += 1
        out = {
            r.vec_id: r.is_dup
            for r in intra_cluster_prune(
                self._frame(spark, rows), max_cluster=4
            ).collect()
        }
        # every family's LATER exact copy is flagged, originals survive
        for fam in range(6):
            assert not out[2 * fam], f"family {fam} original was flagged"
            assert out[2 * fam + 1], f"family {fam} copy escaped the cap"
        assert not out[12] and out[13]  # cold-cluster pair unaffected
        # distinct basis vectors (cosine 0) never false-flag
        assert sum(out.values()) == 7

    def test_cap_off_is_unchanged(self, spark):
        from moira_spark.harness.dedup import intra_cluster_prune

        rows = [
            (1, 0, [1.0] + [0.0] * 63),
            (2, 0, [1.0] + [0.0] * 63),
            (3, 0, [0.0, 1.0] + [0.0] * 62),
        ]
        out = {
            r.vec_id: r.is_dup
            for r in intra_cluster_prune(self._frame(spark, rows)).collect()
        }
        assert out == {1: False, 2: True, 3: False}


# --------------------------------------------------------------------------
# round-6 fourth-session corpus-governance operators
# --------------------------------------------------------------------------
from moira_spark.harness.text import (  # noqa: E402
    boilerplate_prefixes,
    ks_drift,
    overlap_matrix,
)


def _vals(spark, rows):
    return spark.createDataFrame(rows, "source string, v long")


def _brute_ks(rows, c_alpha=1.628):
    """Independent two-sample KS per group vs pooled rest, float brute
    force over the pooled support."""
    out = {}
    groups = sorted({s for s, _ in rows})
    support = sorted({v for _, v in rows})
    for g in groups:
        mine = [v for s, v in rows if s == g]
        rest = [v for s, v in rows if s != g]
        d = max(
            abs(
                sum(v <= x for v in mine) / len(mine)
                - sum(v <= x for v in rest) / len(rest)
            )
            for x in support
        )
        crit = c_alpha * (
            (len(mine) + len(rest)) / (len(mine) * len(rest))
        ) ** 0.5
        out[g] = (d, d > crit)
    return out


class TestKsDrift:
    def test_identical_distributions_zero_stat(self, spark):
        rows = [(s, v) for s in ("a", "b") for v in (3, 5, 5, 9)]
        got = {r["source"]: r for r in ks_drift(_vals(spark, rows)).collect()}
        assert got["a"]["ks_d"] == 0.0 and not got["a"]["drift"]
        assert got["b"]["ks_d"] == 0.0 and not got["b"]["drift"]

    def test_disjoint_needs_sample_size_to_reject(self, spark):
        # D = 1.0 both ways; at n=5 per side the alpha=0.01 bound
        # (1.628*sqrt(10/25) ~ 1.03) still exceeds 1.0 -> NOT significant;
        # at n=20 per side (crit ~ 0.515) it is.  Pins that the critical
        # value scales with sample size, not just the statistic.
        small = [("a", 1)] * 5 + [("b", 10)] * 5
        got = {r["source"]: r for r in ks_drift(_vals(spark, small)).collect()}
        assert got["a"]["ks_d"] == 1.0 and not got["a"]["drift"]
        big = [("a", 1)] * 20 + [("b", 10)] * 20
        got = {r["source"]: r for r in ks_drift(_vals(spark, big)).collect()}
        assert got["a"]["ks_d"] == 1.0 and got["a"]["drift"]

    def test_matches_float_brute_force(self, spark):
        # deterministic pseudo-random mix over 3 groups, uneven sizes
        rows = []
        for i in range(120):
            g = "abc"[(i * i) % 3]
            v = (i * 7919) % 23 + (13 if g == "c" and i % 2 else 0)
            rows.append((g, v))
        got = {r["source"]: r for r in ks_drift(_vals(spark, rows)).collect()}
        want = _brute_ks(rows)
        for g, (d, flag) in want.items():
            assert abs(got[g]["ks_d"] - d) < 1e-9, g
            assert got[g]["drift"] == flag, g
            assert got[g]["n_docs"] == sum(1 for s, _ in rows if s == g)


def _docs_txt(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBoilerplatePrefixes:
    def test_case_folds_into_one_cluster(self, spark):
        d = _docs_txt(
            spark,
            [
                (1, "Dear Sir please find attached"),
                (2, "dear sir PLEASE ignore this"),
                (3, "DEAR SIR Please respond soon"),
                (4, "totally organic writing here"),
            ],
        )
        got = {r["doc_id"]: r for r in boilerplate_prefixes(d).collect()}
        assert got[1]["prefix"] == "dear sir please"
        assert got[1]["prefix_count"] == 3 and got[1]["is_boilerplate"]
        assert got[3]["is_boilerplate"]
        assert not got[4]["is_boilerplate"] and got[4]["prefix_count"] == 1

    def test_short_docs_use_available_words(self, spark):
        d = _docs_txt(spark, [(1, "hi there"), (2, "hi there"), (3, "hi")])
        got = {r["doc_id"]: r for r in boilerplate_prefixes(d).collect()}
        # two-word docs cluster on their full text; the 1-word doc alone
        assert got[1]["prefix"] == "hi there" and got[1]["prefix_count"] == 2
        assert got[3]["prefix"] == "hi" and got[3]["prefix_count"] == 1

    def test_min_count_boundary_inclusive(self, spark):
        d = _docs_txt(
            spark, [(i, "exact same opening words vary %d" % i) for i in range(3)]
        )
        got = boilerplate_prefixes(d, min_count=3).collect()
        assert all(r["is_boilerplate"] for r in got)
        got = boilerplate_prefixes(d, min_count=4).collect()
        assert not any(r["is_boilerplate"] for r in got)

    def test_null_texts_are_never_boilerplate(self, spark):
        d = _docs_txt(
            spark,
            [(i, "dear sir please reply %d" % i) for i in range(3)]
            + [(i, None) for i in range(10, 14)],
        )
        got = {r["doc_id"]: r for r in boilerplate_prefixes(d).collect()}
        assert all(got[i]["is_boilerplate"] for i in range(3))
        for i in range(10, 14):
            assert got[i]["prefix"] is None and got[i]["prefix_count"] == 4
            assert not got[i]["is_boilerplate"]


def _srcdocs(spark, rows):
    return spark.createDataFrame(rows, "source string, text string")


class TestOverlapMatrix:
    def test_shared_grams_and_jaccard(self, spark):
        # A and B share exactly the two 5-grams of the 6-word sentence;
        # C is disjoint -> one matrix row.
        sent = "alpha bravo charlie delta echo foxtrot"
        d = _srcdocs(
            spark,
            [
                ("A", sent + " unique tail words for aaa"),
                ("B", "other opening before " + sent),
                ("C", "nothing like the others at all seven words"),
            ],
        )
        rows = overlap_matrix(d, w=5, cap=99).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["src_a"], r["src_b"]) == ("A", "B")
        assert r["shared"] == 2
        # sizes: A has 7 grams, B has 5 grams -> jacc = 2/(7+5-2)
        assert abs(r["jacc"] - 2 / 10) < 1e-9

    def test_cap_removes_universal_grams(self, spark):
        sent = "one two three four five"  # exactly one 5-gram, everywhere
        d = _srcdocs(
            spark,
            [
                ("A", sent),
                ("B", sent),
                ("C", sent),
                ("A", "alpha bravo charlie delta echo private"),
                ("B", "alpha bravo charlie delta echo private"),
            ],
        )
        # cap=3: the universal gram (3 sources) is dropped; A-B keep their
        # 2 shared private grams
        rows = overlap_matrix(d, w=5, cap=3).collect()
        assert len(rows) == 1
        assert rows[0]["shared"] == 2 and rows[0]["src_a"] == "A"
        # cap high enough keeps it -> all three pairs appear
        rows = overlap_matrix(d, w=5, cap=99).collect()
        assert len(rows) == 3


def _documents_dir(tmp_path, rows):
    """An sf dir holding only documents.parquet, from (doc_id, source,
    text) rows."""
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "source", "text"]).to_parquet(
        tmp_path / "documents.parquet", index=False
    )
    return str(tmp_path)


def _matches_oracle(spark, sf_dir, name):
    import duckdb

    import moira_spark.harness as harness
    from scripts.check_correctness import value_hash

    sdf = harness.queries()[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    ddf = con.execute(harness.oracle_sql()[name]).df()
    assert len(sdf) == len(ddf), (len(sdf), len(ddf))
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert value_hash(sdf) == value_hash(ddf)
    return sdf


class TestNullTextOracleParity:
    """The fixtures carry no NULL text; these pin both engines on a tiny
    documents table that does."""

    def test_boilerplate_prefix(self, spark, tmp_path):
        words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
        rows = [
            (i, "s", None if i % 7 == 3 else " ".join(words[i % 8 :] + words))
            for i in range(40)
        ]
        out = _matches_oracle(
            spark, _documents_dir(tmp_path, rows), "doc_boilerplate_prefix"
        )
        nulls = out[out["prefix"].isna()]
        assert len(nulls) == 6 and not nulls["is_boilerplate"].any()

    def test_overlap_gate_skips_null_planted_doc(self, spark, tmp_path):
        # src C's only doc_id % 6 == 0 doc has NULL text, so it cannot
        # carry the planted gram: the gate must expect 2 sources, not 3.
        rows = [
            (0, "A", "alpha bravo charlie delta echo foxtrot"),
            (1, "C", "mike november oscar papa quebec romeo"),
            (2, "A", "mike november oscar papa quebec sierra"),
            (3, "B", "tango uniform victor whiskey xray yankee"),
            (6, "B", "golf hotel india juliet kilo lima"),
            (12, "C", None),
        ]
        out = _matches_oracle(
            spark, _documents_dir(tmp_path, rows), "source_overlap_matrix"
        )
        got = {(r.src_a, r.src_b): r.shared for r in out.itertuples()}
        assert got == {("A", "B"): 2, ("A", "C"): 1}

    def test_ks_drift(self, spark, tmp_path):
        # a NULL text has no length, so it is no sample of its source's
        # distribution: counted, it would cap src1's ECDF at 1/2, a drift
        # alarm on lengths identical to src0's
        rows = [
            (100 * s + i, src, " ".join(["w"] * (1 + i % 10)) if i < 30 else None)
            for s, src in enumerate(("src0", "src1", "src7"))
            for i in range(60 if src == "src1" else 32)
        ]
        out = _matches_oracle(
            spark, _documents_dir(tmp_path, rows), "source_drift_ks"
        )
        got = {r.source: (r.n_docs, r.drift) for r in out.itertuples()}
        assert got == {"src0": (30, False), "src1": (30, False), "src7": (30, True)}


class TestGovernanceEdgeCases:
    def test_ks_singleton_group_never_drifts(self, spark):
        # one doc in a group: D can be large but crit (1.628*sqrt(n/(1*(n-1))))
        # exceeds any D for small n -> no rejection from one sample
        rows = [("solo", 99)] + [("big", v) for v in range(1, 30)]
        got = {r["source"]: r for r in ks_drift(_vals(spark, rows)).collect()}
        assert got["solo"]["n_docs"] == 1
        assert got["solo"]["ks_d"] == 1.0  # 99 sits past every big value
        assert not got["solo"]["drift"]

    def test_ks_constant_metric_zero_everywhere(self, spark):
        rows = [(s, 7) for s in ("a", "b", "c") for _ in range(10)]
        for r in ks_drift(_vals(spark, rows)).collect():
            assert r["ks_d"] == 0.0 and not r["drift"]

    def test_overlap_single_gram_docs(self, spark):
        # docs with exactly w words contribute exactly one gram
        d = _srcdocs(
            spark,
            [("A", "one two three four five"), ("B", "one two three four five")],
        )
        rows = overlap_matrix(d, w=5, cap=99).collect()
        assert len(rows) == 1
        assert rows[0]["shared"] == 1 and rows[0]["jacc"] == 1.0

    def test_overlap_cap_one_drops_everything(self, spark):
        # cap=1 removes every gram (each gram is in >= 1 source) -> empty
        d = _srcdocs(
            spark,
            [("A", "one two three four five"), ("B", "one two three four five")],
        )
        assert overlap_matrix(d, w=5, cap=1).count() == 0

    def test_boilerplate_empty_texts_cluster_on_empty_prefix(self, spark):
        d = _docs_txt(spark, [(1, ""), (2, "   "), (3, ""), (4, "real text here")])
        got = {r["doc_id"]: r for r in boilerplate_prefixes(d).collect()}
        # empty/whitespace docs share the "" prefix and cluster together —
        # pinned as the defined behavior (an empty doc IS degenerate
        # boilerplate; upstream length rules drop them anyway)
        assert got[1]["prefix"] == "" and got[1]["prefix_count"] == 3
        assert got[1]["is_boilerplate"] and got[3]["is_boilerplate"]
        assert not got[4]["is_boilerplate"]
