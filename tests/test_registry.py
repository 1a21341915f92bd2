"""Registry invariants: presentation order and oracle rendering.

``queries()`` lists the transcript quality filter's own queries
(``harness._FLAGSHIP``) first, then every other query in registration
order.  A consumer that reads only the head of ``queries()`` (a former
external driver kept the first 50 entries) therefore sees the product's
queries before any corpus operator.  These tests pin that order, that
reordering never drops or duplicates a query, and that oracle SQL is
rendered at call time.
"""

from __future__ import annotations

import moira_spark.harness as harness

DRIVER_WINDOW = 50

# The flagship pipeline, the F1 acceptance gate, the audit sink, the
# model-quality gates, the moira read tier and the resume identity check:
# all in harness._FLAGSHIP, so all lead queries().
MUST_BE_IN_WINDOW = [
    "transcripts_pipeline",
    "pipeline_f1_vs_reference",
    "transcripts_audit",
    "doc_langid",
    "doc_langid_separable",
    "doc_perplexity",
    "doc_perplexity_separation",
    "read_pair_assembly",
    "read_expected_errors",
    "read_expected_errors_bootstrap",
    "job_resume_identity",
]


def test_flagship_queries_inside_driver_window():
    order = list(harness.queries())
    pos = {n: i for i, n in enumerate(order)}
    missing = [n for n in MUST_BE_IN_WINDOW if n not in pos]
    assert not missing, f"queries vanished from the registry: {missing}"
    late = {n: pos[n] for n in MUST_BE_IN_WINDOW if pos[n] >= DRIVER_WINDOW}
    assert not late, f"flagship queries past the driver's 50-query cut: {late}"


def test_flagship_leads():
    order = list(harness.queries())
    assert order[0] == "transcripts_pipeline"
    assert order[1] == "pipeline_f1_vs_reference"


def test_order_is_flagship_then_registration():
    order = list(harness.queries())
    head = list(harness._FLAGSHIP)
    assert order[: len(head)] == head
    assert order[len(head):] == [n for n in harness.REGISTRY if n not in head]


def test_no_query_dropped_by_reordering():
    # _ordered() must be a permutation of REGISTRY — nothing lost, nothing
    # duplicated, including names not in the priority list.
    ordered = list(harness.queries())
    assert sorted(ordered) == sorted(harness.REGISTRY)
    assert len(ordered) == len(set(ordered))


def test_oracle_sql_keys_subset_of_queries():
    qs = harness.queries()
    for name in harness.oracle_sql():
        assert name in qs


def test_priority_names_exist():
    # A typo in _FLAGSHIP would silently demote a query to the tail.
    unknown = [n for n in harness._FLAGSHIP if n not in harness.REGISTRY]
    assert not unknown, f"_FLAGSHIP names not in REGISTRY: {unknown}"


def test_oracle_sql_tracks_config_overrides():
    """Config-dependent oracle SQL must be rendered at oracle_sql() CALL
    time: after a CLI apply_overrides(), the DuckDB side has to read the
    same thresholds the call-time Spark side does, or the checked pair
    silently diverges (ADVICE r4)."""
    from moira_spark import config

    old = config.MIN_CHARS
    assert f"BETWEEN {old} AND" in harness.oracle_sql()["doc_length_rule"]
    try:
        config.apply_overrides(MIN_CHARS=77)
        assert "BETWEEN 77 AND" in harness.oracle_sql()["doc_length_rule"]
        assert "BETWEEN 77 AND" in harness.oracle_sql()["corpus_to_shards"]
    finally:
        config.apply_overrides(MIN_CHARS=old)
    assert f"BETWEEN {old} AND" in harness.oracle_sql()["doc_length_rule"]


def test_bench_names_are_registered():
    # bench.py looks each name up in queries(); a name that left the
    # registry would raise KeyError only at bench time.
    import bench

    qs = harness.queries()
    missing = [n for n in bench.HEADLINE + [bench.WARMUP] if n not in qs]
    assert not missing, f"bench names not in queries(): {missing}"


def test_bench_final_line_fits_driver_tail_capture():
    """The driver keeps only the LAST 2,000 characters of bench.py's stdout
    and parses the final line as JSON.  Round 4 broke this silently: the
    line grew past 2,000 bytes (per-query runs arrays), the head was
    truncated, and BENCH_r04.json recorded "parsed": null — a full round of
    speedups invisible to the driver.  Pin the worst-case compact line
    under 1,900 bytes so headline growth trips a TEST, not the driver."""
    import json

    import bench

    worst = {
        "metric": "headline_queries_total_wall",
        "value": 99999.999,
        "unit": "sec",
        # every headline query + the pipeline entry at max realistic width
        "queries": {
            name: 99999.999 for name in bench.HEADLINE + ["transcripts_pipeline"]
        },
        "sf": "0.001",  # longest sf label
        "cpus": 32,
        "pipeline_turns": 200000,
        "turns_per_sec": 999999.9,
        "pipeline_median_sec": 99999.999,
        "turns_per_sec_median": 999999.9,
        "host_steal_frac": 0.9999,
        "detail": ".bench_cache/bench_runs_latest.json",
    }
    line = json.dumps(worst)
    assert len(line) < 1900, (
        f"compact bench line would be {len(line)} bytes — trim the headline "
        "set or move more fields into .bench_cache/bench_runs_latest.json"
    )
