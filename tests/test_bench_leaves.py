"""The bench leaf registry: its names are the ``queries`` keys of
``bench.py``'s stdout line, and every leaf builds on sf0.001 inputs with
a pinned count of Spark jobs."""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame

import bench_leaves as bl
from tests.conftest import SF_DIR

# bench.py's stdout contract: the `queries` keys, in order
PINNED = [
    "pipeline_end_to_end",
    "pipeline_write_readback",
    "parse_dispatch",
    "enrich_broadcast_join",
    "rate_limit_window",
    "shardhash_repartition",
    "grok_jvm_wide",
    "grok_python_dispatch",
    "multiline_fsm",
    "multiline_fsm_skew_chunked",
    "sessionize_rollup_2m",
    "context_window_stats_2m",
    "conversation_stats_audit_quality",
    "conversation_fingerprint_serialize",
    "conversation_fingerprint_xor",
    "turn_repetition_2m",
    "pii_scan_2m",
    "exact_dedup_documents",
    "lm_bigram_ppl_docs",
    "tfidf_topk_docs",
    "token_chunks_docs",
    "hash_sample_2m",
    "pack_sequences_2m",
    "sf_transcripts_pipeline",
    "minhash_lsh_candidates",
    "minhash_stage_signature",
    "minhash_stage_banded_capped",
    "minhash_stage_pairs",
    "lsh_ann_topk_bucketed",
    "ann_brute_float",
    "ann_quantized_int8",
    "dedup_clusters_cc",
]


# Spark jobs a leaf runs while its frames are built, before any is
# written; every other leaf runs none. The real parquet write; the
# bigram LM's vocabulary checkpoint under adaptive execution; the ANN
# query-side collect; the connected-components rounds.
PLAN_JOBS = dict.fromkeys(PINNED, 0) | {
    "pipeline_write_readback": 2,
    "lm_bigram_ppl_docs": 1,
    "ann_brute_float": 1,
    "ann_quantized_int8": 1,
    "dedup_clusters_cc": 12,
}


def test_leaf_names_are_the_pinned_stdout_keys():
    assert list(bl.LEAVES) == PINNED


def test_every_leaf_builds_on_sf0001_inputs(spark, tmp_path):
    inp = bl.load_inputs(spark, SF_DIR, rows=2000, cpus=2, cache_dir=str(tmp_path))
    sc = spark.sparkContext
    try:
        for name, build in bl.LEAVES.items():
            sc.setJobGroup(f"leaf_build_{name}", name)
            frames = list(build(inp))
            assert frames and all(isinstance(df, DataFrame) for df in frames), name
            for df in frames:
                assert df.schema.fields, name
        # the listener bus is ordered: once this marker job is visible,
        # every job started above is too
        sc.setJobGroup("leaf_build_marker", "marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("leaf_build_marker") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("leaf_build_marker")
    jobs = {n: len(tracker.getJobIdsForGroup(f"leaf_build_{n}")) for n in bl.LEAVES}
    assert jobs == PLAN_JOBS
    # the cached inputs live under cache_dir; the real write's snapshot is gone
    assert sorted(os.listdir(tmp_path)) == ["corpus_2000", "pairs_v2_0.001"]
