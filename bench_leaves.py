"""The bench leaf registry: every leaf that ``bench.py`` times, built once,
by name, from the inputs passed in.

A leaf is a generator over :class:`Inputs`. It yields, in order, each
frame the leaf writes, and the caller writes every frame it is given: a
``noop`` sink when ``bench.py`` times the leaf, ``explain("formatted")``
when it prints plans. ``pipeline_write_readback`` is the one leaf that
also makes a real parquet write, before it yields.
``scripts/audit_plans.py`` audits the plans of the leaves it covers over
the sf0.001 inputs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark import aggregators
from loongcollector_spark.functions import (
    convstats,
    dedup,
    lm,
    packing,
    sampling,
    sessions,
    similarity,
    textstats,
)
from loongcollector_spark.operators.filters import RateLimit
from loongcollector_spark.operators.grok import Grok
from loongcollector_spark.operators.splits import MergeMultilineLog
from loongcollector_spark.plans.transcript_pipeline import TranscriptPipeline
from loongcollector_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_from_events,
)

PIPE = TranscriptPipeline()
LEAVES: dict[str, Callable[[Inputs], Iterator[DataFrame]]] = {}
# multi-stage leaves and the row-by-row grok deadline path: min-of-2 reps
# plus the sweep keeps wall time sane
MAX_REPS = dict.fromkeys(
    ["minhash_lsh_candidates", "grok_python_dispatch"]
    + [f"minhash_stage_{s}" for s in ("signature", "banded_capped", "pairs")],
    2,
)


@dataclass(frozen=True)
class Inputs:
    """What the leaves read. ``corpus`` is the generated turn corpus of
    ``rows`` turns and ``trans`` the transcripts derived from the sf events
    table (the plan audit passes the sf transcripts as both). ``pairs`` is
    the cached MinHash candidate-pair table that ``dedup_clusters_cc``
    clusters; a real write's scratch goes under ``cache_dir``."""

    corpus: DataFrame
    trans: DataFrame
    docs: DataFrame
    emb: DataFrame
    pairs: DataFrame | None = None
    cpus: int = 1
    rows: int = 0
    cache_dir: str | None = None


def sf_tag(sf_dir: str) -> str:
    return sf_dir.rstrip("/").split("sf")[-1]


def load_inputs(spark, sf_dir: str, rows: int, cpus: int,
                cache_dir: str = "/tmp/lc_bench") -> Inputs:
    """The bench inputs over ``sf_dir``. The ``rows``-turn corpus and the
    MinHash pairs of the sf documents are generated once and cached as
    parquet under ``cache_dir``."""
    corpus_path = f"{cache_dir}/corpus_{rows}"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        gen = generate_transcripts(spark, rows, partitions=cpus * 4)
        gen.write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # _v2: the r5 single-string-hash minhash family changed pair contents
    pairs_path = f"{cache_dir}/pairs_v2_{sf_tag(sf_dir)}"
    if not os.path.exists(pairs_path + "/_SUCCESS"):
        dedup.minhash_lsh_candidates(docs.repartition(cpus * 2)).write.mode(
            "overwrite"
        ).parquet(pairs_path)
    return Inputs(
        corpus=spark.read.parquet(corpus_path),
        trans=transcripts_from_events(spark, sf_dir),
        docs=docs,
        emb=spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        pairs=spark.read.parquet(pairs_path),
        cpus=cpus,
        rows=rows,
        cache_dir=cache_dir,
    )


def plan_of(df: DataFrame) -> str:
    """The ``explain("formatted")`` text of ``df``."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def leaf(fn):
    LEAVES[fn.__name__] = fn
    return fn


# --- headline: the full pipeline over the generated corpus -----------------


@leaf
def pipeline_end_to_end(i):
    # the routed frame (exploded multicast), then the per-sink metrics:
    # one scan each
    yield PIPE.run_single_pass(i.corpus)
    yield PIPE.metrics(PIPE.run_single_pass(i.corpus))


@leaf
def pipeline_write_readback(i):
    # the 10^12-turn strategy: a REAL partitioned parquet write of the
    # routed frame, metrics from the committed snapshot (pruned columnar
    # read-back; never re-parses raw text)
    snap = tempfile.mkdtemp(prefix="lc_bench_snapshot_", dir=i.cache_dir)
    try:
        PIPE.write_routed(PIPE.run_single_pass(i.corpus), snap)
        yield PIPE.metrics_from_snapshot(i.corpus.sparkSession, snap)
    finally:
        shutil.rmtree(snap, ignore_errors=True)


# --- stage level over the generated corpus ---------------------------------


@leaf
def parse_dispatch(i):
    yield PIPE.parse(i.corpus)


@leaf
def enrich_broadcast_join(i):
    yield PIPE.enrich(PIPE.parse(i.corpus))


@leaf
def rate_limit_window(i):
    yield RateLimit(
        Fields=["role"], Limit=1000, BucketSeconds=3600,
        OrderBy=["ts", "conv_id", "turn_idx"],
    )(i.corpus)


@leaf
def shardhash_repartition(i):
    yield aggregators.shardhash_repartition(i.corpus, ["conv_id"], 32)


# wide grok: a 7-alias full-match pattern over the apsara-style grammar;
# the JVM path's replace+split single extract vs the per-log deadline
# path, grok's one Python path (the regex module, row by row)
WIDE_MATCH = [
    "\\[%{INT:ts}\\]\t\\[%{LOGLEVEL:lvl}\\]\t\\[%{INT:n}\\]\t"
    "\\[%{UNIXPATH:src}:%{INT:line}\\]\tuser:%{USERNAME:usr}\t"
    "etype:%{WORD:etype}"
]


@leaf
def grok_jvm_wide(i):
    yield Grok(SourceKey="text", Match=WIDE_MATCH, IgnoreParseFailure=True)(i.corpus)


@leaf
def grok_python_dispatch(i):
    # a deadline far above any row's match time: it only selects the path
    yield Grok(
        SourceKey="text", Match=WIDE_MATCH, TimeoutMilliSeconds=1000,
        IgnoreParseFailure=True,
    )(i.corpus)


@leaf
def multiline_fsm(i):
    # Continue/End multiline: the pandas FSM (flags JVM-side,
    # Arrow-batched numpy scan)
    yield MergeMultilineLog(
        SourceKey="text", GroupKey="conv_id", OrderKey="turn_idx",
        StartPattern=r"^\{", EndPattern=r"\|",
    )(i.corpus)


@leaf
def multiline_fsm_skew_chunked(i):
    # the 20%-hot conversation takes the chunk-parallel transfer-function
    # path; wall clock is bounded by ChunkRows, not the hot group
    yield MergeMultilineLog(
        SourceKey="text", GroupKey="conv_id", OrderKey="turn_idx",
        StartPattern=r"^\{", EndPattern=r"\|", ChunkRows=262_144,
    )(i.corpus)


# transcript windows: one conversation-keyed Exchange each; a window over
# the hot conversation is inherently one core (the documented skew bound)


@leaf
def sessionize_rollup_2m(i):
    yield sessions.sessionize(i.corpus, gap_seconds=86400).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"), F.max("session_idx").alias("max_s")
    )


@leaf
def context_window_stats_2m(i):
    yield packing.context_window_stats(
        i.corpus.withColumn(
            "n_tokens", textstats.bpe_ish_token_count(F.col("text"))
        ),
        budget=128,
    )


# conversation stats: the ingestion-gate audit and the quality filter; the
# fingerprint pair pins serialize vs XOR fold (the hot conversation
# materializes in ONE reducer on the serialize path but partial-aggregates
# map-side on the XOR path)


@leaf
def conversation_stats_audit_quality(i):
    yield convstats.turn_order_audit(i.corpus)
    yield convstats.conversation_quality_signals(i.corpus)


@leaf
def conversation_fingerprint_serialize(i):
    yield convstats.conversation_fingerprint(i.corpus)


@leaf
def conversation_fingerprint_xor(i):
    yield convstats.conversation_fingerprint_xor(i.corpus)


@leaf
def turn_repetition_2m(i):
    yield convstats.turn_repetition_signals(i.corpus)


@leaf
def pii_scan_2m(i):
    yield convstats.pii_scan_stats(i.corpus)


# --- operators over the sf documents -------------------------------------


@leaf
def exact_dedup_documents(i):
    yield i.docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n")
    )


@leaf
def lm_bigram_ppl_docs(i):
    # the CCNet filter topology: three token-stream-sized shuffles, all
    # partial-aggregated map-side
    yield lm.bigram_lm_score(i.docs)


@leaf
def tfidf_topk_docs(i):
    yield textstats.tfidf_topk(i.docs, k=5)


@leaf
def token_chunks_docs(i):
    yield packing.token_window_chunks(i.docs, 128, 16)


# --- sampling and packing at corpus scale ----------------------------------


def _keyed(i):
    return i.corpus.withColumn(
        "k", F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
    )


@leaf
def hash_sample_2m(i):
    yield sampling.hash_sample(_keyed(i), 0.1, key_col="k")


@leaf
def pack_sequences_2m(i):
    # shard by the UNIQUE key, count ∝ rows (~31k rows/shard): a group key
    # would serialize the hot conversation's shard, and a fixed shard
    # count pays the O(n log n) window-sort factor at 10x
    n_shards = max(i.rows // 31_250, 1)
    packable = _keyed(i).withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    ).withColumn("shard", F.pmod(F.xxhash64("k"), F.lit(n_shards)))
    yield packing.pack_sequences(
        packable, budget=8192, shard_cols=["shard"], key_col="k"
    )


@leaf
def sf_transcripts_pipeline(i):
    yield PIPE.metrics(PIPE.run_single_pass(i.trans))


# --- LLM ops: near-dup, ANN and clustering ---------------------------------


def _docs_par(i):
    # the sf documents table is ONE parquet split: rebalance to the cores
    # first, or the signature projection runs on one core
    return i.docs.repartition(i.cpus * 2)


@leaf
def minhash_lsh_candidates(i):
    yield dedup.minhash_lsh_candidates(_docs_par(i))


def _minhash_stage(stage):
    # each stage is CUMULATIVE from the scan; deltas between consecutive
    # stages attribute the wall clock
    def build(i):
        yield dedup.minhash_lsh_stages(_docs_par(i))[stage]

    return build


for _stage in ("signature", "banded_capped", "pairs"):
    LEAVES[f"minhash_stage_{_stage}"] = _minhash_stage(_stage)


def _ann_queries(i):
    return i.emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


@leaf
def lsh_ann_topk_bucketed(i):
    yield similarity.lsh_ann_topk(i.emb, _ann_queries(i), dim=64, k=10, n_planes=8)


@leaf
def ann_brute_float(i):
    yield similarity.brute_force_topk(i.emb, _ann_queries(i), k=10)


@leaf
def ann_quantized_int8(i):
    # the int8 scan reads 4x fewer bytes per vector; the exact re-rank
    # touches only the candidates
    yield similarity.quantized_topk(i.emb, _ann_queries(i), k=10, candidates=30)


@leaf
def dedup_clusters_cc(i):
    # the pairs were materialized once, so this times the label-propagation
    # rounds alone
    yield dedup.dedup_clusters(i.pairs)
