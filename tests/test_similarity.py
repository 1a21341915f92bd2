"""ANN kernels + recall-gate tests (round-3 multiprobe/ADC rebuild)."""

from __future__ import annotations

import numpy as np
import pytest

from moira_spark.kernels import ann

SF = "/root/testdata/sf0.001"


def test_lsh_probe_sigs_contains_base_and_flips():
    rng = np.random.RandomState(0)
    planes = rng.standard_normal((4, 6, 16))
    q = rng.standard_normal(16)
    probes = ann.lsh_probe_sigs(q, planes, nflip=2)
    assert len(probes) == 4
    for sigs in probes:
        assert len(sigs) == 3  # base + 2 flips
        base = sigs[0]
        for s in sigs[1:]:
            x = base ^ s
            assert x and (x & (x - 1)) == 0  # exactly one bit differs
    # nflip=0 degenerates to the plain signature
    plain = ann.lsh_probe_sigs(q, planes, nflip=0)
    assert [s[0] for s in plain] == [s[0] for s in probes]


def test_assign_cells_multi_consistent_with_single():
    rng = np.random.RandomState(1)
    X = rng.standard_normal((40, 16))
    C = ann.kmeans_fit(X, k=8, iters=5, seed=3)
    single = ann.assign_cells(X, C)
    multi = ann.assign_cells_multi(X, C, a=2)
    for s, m in zip(single, multi):
        assert int(s) in m
        assert len(m) == 2 and len(set(m)) == 2


def test_probe_cells_are_best_by_margin():
    rng = np.random.RandomState(2)
    C = ann.normalize(rng.standard_normal((8, 16)))
    q = rng.standard_normal(16)
    got = set(ann.probe_cells(q, C, nprobe=3))
    qn = ann.normalize(q.reshape(1, -1))[0]
    want = set(np.argsort(-(C @ qn))[:3].tolist())
    assert got == want


def test_ann_recall_gate_passes_and_is_deterministic(spark):
    # embedding_ann_recall RAISES below the 0.6 macro floor; two runs must
    # produce identical rows (seeded kmeans, seeded planes, stable ties).
    from moira_spark.harness.similarity import embedding_ann_recall

    a = sorted(map(tuple, embedding_ann_recall(spark, SF).collect()))
    spark.catalog.clearCache()
    b = sorted(map(tuple, embedding_ann_recall(spark, SF).collect()))
    spark.catalog.clearCache()
    assert a == b
    macro = {r[0]: r[4] for r in a if r[1] == "ALL"}
    assert macro["lsh"] >= 0.6 and macro["ivf"] >= 0.6, macro


def test_ivf_adc_shortlist_bounds_exact_work(spark):
    from moira_spark.harness.similarity import embedding_ann_ivf

    stats: dict = {}
    embedding_ann_ivf(spark, SF, rerank=25, stats_out=stats).collect()
    spark.catalog.clearCache()
    # 10 queries x at most 25 exact-scored rows each
    assert stats["n_exact"] <= 250
    assert stats["n_candidates"] >= stats["n_exact"]


def test_kmeans_nan_embedding_raises(spark):
    # a NaN init vector makes a NaN centroid: its literal must raise on the
    # driver, not make every distance NaN inside the Lloyd iterations
    from moira_spark.harness.similarity import kmeans_fit

    rows = [(i, [float(i), 1.0, -float(i)]) for i in range(6)]
    schema = "vec_id long, v array<double>"
    fit = kmeans_fit(spark.createDataFrame(rows, schema), k=2, iters=1)
    assert fit.filter("cluster >= 0").count() == 2  # finite input fits
    rows[1] = (1, [float("nan"), 1.0, -1.0])
    with pytest.raises(ValueError, match="JSON compliant"):
        kmeans_fit(spark.createDataFrame(rows, schema), k=2, iters=1)
