"""Deterministic property-based tests (hypothesis, derandomize=True).

SURVEY.md §5.2 forbids randomized testing in the gate path; hypothesis in
derandomized mode is seed-free and reproducible, so these are enumerated
cases in disguise — broad input coverage without nondeterminism.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from moira_spark.kernels import bernoulli, scrub, sketch, text as textk

DET = settings(derandomize=True, max_examples=150, deadline=None)

any_text = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x10FFFF,
                           blacklist_categories=("Cs",)),
    max_size=400,
)


class TestScrubProperties:
    @DET
    @given(any_text)
    def test_idempotent(self, t):
        once, _, _ = scrub.scrub_text(t)
        twice, _, _ = scrub.scrub_text(once)
        assert once == twice

    @DET
    @given(any_text)
    def test_no_pii_patterns_survive(self, t):
        out, _, _ = scrub.scrub_text(t)
        assert scrub._PII_PATTERN.search(out) is None

    @DET
    @given(st.lists(any_text, max_size=20))
    def test_batch_equals_scalar(self, texts):
        b_text, b_pii, b_tox = scrub.scrub_batch(texts)
        for i, t in enumerate(texts):
            s_text, s_pii, s_tox = scrub.scrub_text(t)
            assert b_text[i] == s_text
            assert bool(b_pii[i]) == s_pii and bool(b_tox[i]) == s_tox


class TestBernoulliProperties:
    quals = st.lists(
        st.floats(min_value=0.5, max_value=45.0, allow_nan=False), max_size=80
    )

    @DET
    @given(st.lists(quals, max_size=12))
    def test_batch_equals_scalar(self, reads):
        batch = bernoulli.expected_errors_pb_batch(reads)
        scalar = [bernoulli.expected_errors_pb(q) for q in reads]
        assert batch.tolist() == scalar

    @DET
    @given(quals)
    def test_bound_within_read_length(self, q):
        ee = bernoulli.expected_errors_pb(q)
        assert 0.0 <= ee <= len(q)

    @DET
    @given(quals)
    def test_monotone_in_alpha(self, q):
        # smaller alpha -> higher-confidence (never smaller) bound
        loose = bernoulli.expected_errors_pb(q, alpha=0.2)
        tight = bernoulli.expected_errors_pb(q, alpha=0.001)
        assert tight >= loose


class TestTextProperties:
    @DET
    @given(any_text)
    def test_words_never_empty_tokens(self, t):
        assert all(w != "" for w in textk.words(t))

    @DET
    @given(any_text)
    def test_length_rule_consistent_with_len(self, t):
        from moira_spark import config

        if len(t) > config.MAX_CHARS:
            assert textk.length_rule_fails(t)


class TestSketchProperties:
    hashes = st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=40
    )

    @DET
    @given(st.lists(hashes, min_size=1, max_size=10))
    def test_simhash_permutation_invariant(self, lists):
        # simhash is a sum over tokens -> order must not matter
        a = sketch.simhash_batch([np.array(h, dtype=np.int64) for h in lists])
        b = sketch.simhash_batch(
            [np.array(list(reversed(h)), dtype=np.int64) for h in lists]
        )
        assert a.tolist() == b.tolist()

    @DET
    @given(hashes)
    def test_minhash_subset_dominates(self, hs):
        # adding elements can only lower (or keep) each minhash
        a, b = sketch.minhash_params(16)
        hs_mod = [h % sketch.MERSENNE31 for h in hs]
        full = sketch.minhash_batch([np.array(hs_mod, dtype=np.int64)], a, b)[0]
        half = sketch.minhash_batch(
            [np.array(hs_mod[: max(1, len(hs_mod) // 2)], dtype=np.int64)], a, b
        )[0]
        assert all(f <= h for f, h in zip(full, half))


class TestQualityFeatureProperties:
    @DET
    @given(st.lists(any_text, max_size=16))
    def test_feature_ranges_and_determinism(self, texts):
        from moira_spark.kernels import quality

        X = quality.features(texts)
        assert X.shape == (len(texts), len(quality.FEATURE_NAMES))
        assert np.array_equal(X, quality.features(texts))
        if len(texts):
            # ratio features live in [0, 1]
            for j in (2, 3, 4, 5, 6, 7):
                assert (X[:, j] >= 0.0).all() and (X[:, j] <= 1.0).all(), j
            assert (X[:, 0] >= 0.0).all()  # log1p(len)

    @DET
    @given(st.lists(any_text, min_size=1, max_size=8))
    def test_scores_are_probabilities(self, texts):
        from moira_spark.kernels import quality

        m = quality.train(seed=42, n_per_class=60, iters=50)
        s = m.score(texts)
        assert ((s >= 0.0) & (s <= 1.0)).all()


class TestLshProbeProperties:
    @DET
    @given(
        st.integers(min_value=0, max_value=2**31 - 1),
        st.integers(min_value=0, max_value=4),
    )
    def test_probes_are_base_plus_single_flips(self, seed, nflip):
        from moira_spark.kernels import ann

        rng = np.random.RandomState(seed)
        planes = rng.standard_normal((3, 6, 8))
        q = rng.standard_normal(8)
        probes = ann.lsh_probe_sigs(q, planes, nflip)
        assert len(probes) == 3
        for sigs in probes:
            assert len(sigs) == 1 + nflip
            assert len(set(sigs)) == len(sigs)  # distinct buckets
            base = sigs[0]
            for s in sigs[1:]:
                x = base ^ s
                assert x and (x & (x - 1)) == 0  # exactly one bit flipped


def _drawn(strategy, n):
    """The values a derandomized hypothesis run of ``n`` examples draws
    from ``strategy`` — harvested so one Spark frame can check them all."""
    out = []

    @settings(derandomize=True, max_examples=n, deadline=None, database=None)
    @given(strategy)
    def draw(x):
        out.append(x)

    draw()
    return out


class TestHalfUpParity:
    def test_spark_round6_matches_jvm_round(self, spark):
        # intra_cluster_prune's pandas UDF flags cos >= threshold on
        # spark_round6(cos), standing in for Spark's ROUND(cos, 6).  The
        # JVM rounds Double.toString(x) HALF_UP; before JDK 19 that string
        # is not always Python's shortest repr, so pin the two on doubles
        # in [-1, 1] and on k/1e6 + 5e-7 ties (and their neighbouring
        # doubles), where one differing digit would flip the rounding.
        import math

        import pyspark.sql.functions as F

        from moira_spark.harness.dedup import spark_round6

        ties = [k / 1e6 + 5e-7 for k in range(-1000, 1000)] + _drawn(
            st.integers(-(10**6), 10**6 - 1).map(lambda k: k / 1e6 + 5e-7),
            1000,
        )
        xs = _drawn(st.floats(-1.0, 1.0), 1000) + [
            y
            for t in ties
            for y in (t, math.nextafter(t, -2.0), math.nextafter(t, 2.0))
        ]
        frame = spark.createDataFrame(list(enumerate(xs)), "i long, x double")
        got = frame.select("i", F.round("x", 6).alias("r")).collect()
        assert len(got) == len(xs)
        bad = {
            xs[r["i"]]: r["r"]
            for r in got
            if spark_round6(xs[r["i"]]) != r["r"]
        }
        assert not bad, f"Spark ROUND(x, 6) differs from spark_round6: {bad}"
