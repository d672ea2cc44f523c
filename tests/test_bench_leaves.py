"""The bench leaf registry: its names are the ``queries`` keys of
``bench.py``'s stdout line, and every leaf builds on sf0.001 inputs."""

from __future__ import annotations

import os

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


def test_leaf_names_are_the_pinned_stdout_keys():
    assert list(bl.LEAVES) == PINNED


def test_every_leaf_builds_on_sf0001_inputs(spark, tmp_path):
    inp = bl.load_inputs(spark, SF_DIR, rows=2000, cpus=2, cache_dir=str(tmp_path))
    for name, build in bl.LEAVES.items():
        frames = list(build(inp))
        assert frames and all(isinstance(df, DataFrame) for df in frames), name
        for df in frames:
            assert df.schema.fields, name
    # the cached inputs live under cache_dir; the real write's snapshot is gone
    assert sorted(os.listdir(tmp_path)) == ["corpus_2000", "pairs_v2_0.001"]
