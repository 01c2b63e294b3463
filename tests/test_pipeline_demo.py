"""End-to-end pipeline demo smoke: the composed curation run (clean ->
dedup -> Bloom decontam -> quality cut -> DSIR quotas -> split ->
shards) completes on the test corpus, stages only ever shrink the
pool, and the whole run is deterministic across invocations."""

from __future__ import annotations


def test_pipeline_demo_runs_and_is_deterministic(spark, sf_dir):
    import os
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    sys.path.insert(0, tools)
    from pipeline_demo import run_pipeline

    out = run_pipeline(spark, sf_dir, k_per_source=5)
    assert (
        out["n_ingested"]
        >= out["n_after_dedup"]
        >= out["n_after_decontam"]
        >= out["n_after_quality_cut"]
        >= out["n_selected"]
        > 0
    )
    # per-source quota bounds the selection
    assert out["n_selected"] <= 5 * 20
    assert sum(out["splits"].values()) == out["n_selected"]
    assert out["n_shards"] <= 8
    # hash-derived determinism: an identical rerun reproduces exactly
    assert run_pipeline(spark, sf_dir, k_per_source=5) == out
