"""Benchmark: headline queries, one JSON line to stdout.

Headline metric: transcript turns parsed+routed per second through the
full flagship pipeline (parse → enrich → route → per-sink aggregates),
run over a deterministic generated corpus of SPARK_GRAFT_BENCH_ROWS turns
(default 2,000,000 — FIXTURES.md §6 bench scale) plus operator-level
queries over $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Each timed query runs SPARK_GRAFT_BENCH_REPS times (default 3) and the
MINIMUM is reported: this JVM shows multi-second variance from whole-stage
-codegen JIT races (a task that starts before HotSpot compiles the
generated class runs interpreted to completion), so min-of-N reflects
sustained throughput. Sinks are `noop`-format writes — full execution,
no disk cost.

Output shape (driver contract):
  {"metric": "...", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...}
plus informational extras (rows/sec, parallelism).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- host canary (VERDICT r4 #1) -----------------------------------------
# Fixed pure-compute workloads whose timing depends only on host health.
# The PRIMARY quiet signal is the single-core Python loop: it is JIT-free
# and hypervisor-steal-sensitive, so it reads the same in any process
# state. The JVM range-sum is recorded as context but does NOT gate
# quietness — it reads ~0.10 s in a mature JVM and ~0.18-0.33 s in a
# fresh one (tiered-compilation maturity, not host health). Best-known
# values measured in a verified-quiet window on this sandbox (BENCH.md
# §canary); a run whose Python canary is >1.3x best-known is in a
# degraded host phase and its absolute timings should not be compared
# across rounds.
CANARY_JVM_BEST = 0.10   # spark.range(5e8).sum(), warm JVM (context only)
CANARY_PY_BEST = 0.49    # 1-core 10^7-iteration arithmetic loop, seconds
CANARY_DEGRADED_RATIO = 1.3
# Parallel canary (r5): on an overcommitted VM 1-core loops read normal
# while N-wide stages see far fewer effective cores, and the width
# VARIES by phase. That is exactly the "JVM-internal slow phase" that
# made grok_jvm_wide read 0.63 s in a py-canary-quiet window (r4/r5):
# the py canary gates single-core speed, not parallel capacity. The
# parallel canary = wall-clock of `width` concurrent copies of the same
# loop in worker PROCESSES (JIT-free, JVM-free), width =
# SPARK_GRAFT_CPUS (default: the cores this process may run on);
# effective_cores = width * PY_BEST / par. Multi-core JVM rows
# (grok_jvm_wide, parse_dispatch, pipeline_*) are cross-round comparable
# only between artifacts whose effective_cores are close. (The JSON keys
# keep their historical `par32` name whatever the width.)
CANARY_PARALLEL_EFFECTIVE_MIN_FRAC = 0.5


def canary_width() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _canary_loop(_):
    acc = 0
    for i in range(10_000_000):
        acc += i * i
    return acc


def run_canary(spark) -> dict:
    import time as _t

    # JVM: whole-stage-codegen sum over a range — no shuffle, no Python.
    # One discarded warmup rep: on a cold JVM the first executions run
    # interpreted/tier-1 and would bias even a min-of-3.
    spark.range(500_000_000).agg(F.sum("id")).collect()
    jvm_best = float("inf")
    for _ in range(3):
        t0 = _t.time()
        spark.range(500_000_000).agg(F.sum("id")).collect()
        jvm_best = min(jvm_best, _t.time() - t0)
    # Python: single-core arithmetic loop (hypervisor steal shows here)
    py_best = float("inf")
    for _ in range(3):
        t0 = _t.time()
        acc = 0
        for i in range(10_000_000):
            acc += i * i
        py_best = min(py_best, _t.time() - t0)
    # parallel capacity: `width` concurrent copies of the same loop in
    # processes (fork pool; warm rep discarded — pool spin-up)
    from concurrent.futures import ProcessPoolExecutor

    width = canary_width()
    with ProcessPoolExecutor(width) as ex:
        list(ex.map(_canary_loop, range(width)))
        par_best = float("inf")
        for _ in range(2):
            t0 = _t.time()
            list(ex.map(_canary_loop, range(width)))
            par_best = min(par_best, _t.time() - t0)
    effective_cores = width * CANARY_PY_BEST / par_best
    import os as _os

    py_ratio = py_best / CANARY_PY_BEST
    return {
        "canary_jvm_sec": round(jvm_best, 3),
        "canary_python_sec": round(py_best, 3),
        "canary_jvm_ratio": round(jvm_best / CANARY_JVM_BEST, 3),
        "canary_ratio_vs_best": round(py_ratio, 3),
        # co-tenant background load the single-core canary can't see
        # (multithreaded JVM stages slow when the box carries external
        # load even while 1-core loops read normal)
        "canary_loadavg_1m": round(_os.getloadavg()[0], 2),
        "canary_par32_sec": round(par_best, 3),
        "canary_effective_cores": round(effective_cores, 1),
        "canary_quiet": bool(py_ratio <= CANARY_DEGRADED_RATIO),
        # multi-core JVM rows comparable across artifacts only when True
        "canary_parallel_quiet": bool(
            effective_cores >= CANARY_PARALLEL_EFFECTIVE_MIN_FRAC * width
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    bench_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "2000000"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from loongcollector_spark.session import get_spark
    from loongcollector_spark.plans import transcript_pipeline as tp
    from loongcollector_spark.sources.transcripts import (
        generate_transcripts,
        transcripts_from_events,
    )
    from loongcollector_spark.operators.filters import RateLimit
    from loongcollector_spark.aggregators import shardhash_repartition

    spark = get_spark(app_name="lc_bench", master=f"local[{cpus}]")

    # --- corpus: generated once, cached as parquet, reused across runs ----
    corpus_path = f"/tmp/lc_bench/corpus_{bench_rows}"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        gen = generate_transcripts(spark, bench_rows, partitions=int(cpus) * 4)
        gen.write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_corpus = corpus.count()

    pipe = tp.TranscriptPipeline()
    timings: dict[str, float] = {}
    extras: dict[str, object] = {}

    # host canary before the battery (and again after — see end)
    extras["canary_pre"] = run_canary(spark)

    benched: list = []  # (name, fn) for the straggler-recovery sweep

    # SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts to named queries (used for
    # the big-corpus linearity passes where the full battery would take
    # tens of minutes)
    only = {
        q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q
    }

    def timed(name, fn, n=reps):
        if only and name not in only:
            return
        fn()  # warmup: drives codegen + HotSpot compilation of the plan
        best = float("inf")
        for _ in range(n):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        benched.append((name, fn))

    # --- headline: full pipeline over the generated corpus ---------------
    # the routed frame (exploded multicast): one scan -> routed write; one
    # scan -> per-sink metrics
    def run_pipeline():
        noop_write(pipe.run_single_pass(corpus))
        noop_write(pipe.metrics(pipe.run_single_pass(corpus)))

    timed("pipeline_end_to_end", run_pipeline)

    # secondary: the 10^12-turn strategy — REAL partitioned parquet write
    # of the routed frame, metrics from the committed snapshot (pruned
    # columnar read-back; the metrics pass never re-parses raw text and
    # can never disagree with what was durably written)
    snap_dir = tempfile.mkdtemp(prefix="lc_bench_snapshot_")

    def run_pipeline_snapshot():
        pipe.write_routed(pipe.run_single_pass(corpus), snap_dir)
        noop_write(pipe.metrics_from_snapshot(spark, snap_dir))

    timed("pipeline_write_readback", run_pipeline_snapshot)
    shutil.rmtree(snap_dir, ignore_errors=True)

    total_routed = pipe.run_single_pass(corpus).count()
    extras["corpus_rows"] = n_corpus
    extras["routed_rows_multicast"] = total_routed

    # --- stage-level over the generated corpus ---------------------------
    timed("parse_dispatch", lambda: noop_write(pipe.parse(corpus)))
    timed(
        "enrich_broadcast_join",
        lambda: noop_write(pipe.enrich(pipe.parse(corpus))),
    )
    timed(
        "rate_limit_window",
        lambda: noop_write(
            RateLimit(
                Fields=["role"], Limit=1000, BucketSeconds=3600,
                OrderBy=["ts", "conv_id", "turn_idx"],
            )(corpus)
        ),
    )
    timed(
        "shardhash_repartition",
        lambda: noop_write(shardhash_repartition(corpus, ["conv_id"], 32)),
    )

    # --- pandas-UDF + wide-regex hot paths (VERDICT r2 #8) ----------------
    # wide grok: 7-alias full-match pattern over the apsara-style grammar;
    # the JVM engine's replace+split single-extract vs the python engine's
    # Arrow-batched Series.str.extract (the applyInPandas-adjacent path)
    from loongcollector_spark.operators.grok import Grok
    from loongcollector_spark.operators.splits import MergeMultilineLog

    wide_match = [
        "\\[%{INT:ts}\\]\t\\[%{LOGLEVEL:lvl}\\]\t\\[%{INT:n}\\]\t"
        "\\[%{UNIXPATH:src}:%{INT:line}\\]\tuser:%{USERNAME:usr}\t"
        "etype:%{WORD:etype}"
    ]
    timed(
        "grok_jvm_wide",
        lambda: noop_write(
            Grok(SourceKey="text", Match=wide_match, IgnoreParseFailure=True)(corpus)
        ),
    )
    timed(
        "grok_python_dispatch",
        lambda: noop_write(
            Grok(
                SourceKey="text", Match=wide_match, Engine="python",
                IgnoreParseFailure=True,
            )(corpus)
        ),
    )
    # Continue/End multiline: the pandas FSM (flags JVM-side,
    # Arrow-batched numpy scan)
    timed(
        "multiline_fsm",
        lambda: noop_write(
            MergeMultilineLog(
                SourceKey="text", GroupKey="conv_id", OrderKey="turn_idx",
                StartPattern=r"^\{", EndPattern=r"\|",
            )(corpus)
        ),
    )
    # skew-routed variant: the 20%-hot conversation takes the
    # chunk-parallel transfer-function path; wall-clock is bounded by
    # ChunkRows, not the hot group (at 20M rows: 28.5 s vs 53 s plain)
    timed(
        "multiline_fsm_skew_chunked",
        lambda: noop_write(
            MergeMultilineLog(
                SourceKey="text", GroupKey="conv_id", OrderKey="turn_idx",
                StartPattern=r"^\{", EndPattern=r"\|", ChunkRows=262_144,
            )(corpus)
        ),
    )

    # transcript-window family (r5): sessionize → rollup and the
    # context-assembly RANGE frame — both one conversation-keyed
    # Exchange over the 2M corpus; the rows pin the per-turn window
    # cost the flagship's training-data consumers pay
    # (r5 continuation: split into two rows — the bundled
    # transcript_window_ops row hid which half paid the hot-conversation
    # serial window; per-conversation windows over the 400k-turn hot
    # group are inherently one-core, the documented skew bound)
    from loongcollector_spark.functions import textstats
    from loongcollector_spark.functions.packing import context_window_stats
    from loongcollector_spark.functions.sessions import sessionize

    def run_sessionize_rollup():
        s = sessionize(corpus, gap_seconds=86400)
        noop_write(
            s.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.max("session_idx").alias("max_s"),
            )
        )

    def run_context_stats():
        noop_write(
            context_window_stats(
                corpus.withColumn(
                    "n_tokens",
                    textstats.bpe_ish_token_count(F.col("text")),
                ),
                budget=128,
            )
        )

    timed("sessionize_rollup_2m", run_sessionize_rollup)
    timed("context_window_stats_2m", run_context_stats)

    # conversation-stats family (r5): the ingestion-gate audit + the
    # quality filter share one conversation-keyed Exchange each; the
    # fingerprint pair pins serialize-vs-XOR-fold — the 20%-hot
    # conversation (400k turns) materializes in ONE reducer on the
    # serialize path but partial-aggregates map-side on the XOR path
    from loongcollector_spark.functions.convstats import (
        conversation_fingerprint,
        conversation_fingerprint_xor,
        conversation_quality_signals,
        turn_order_audit,
    )

    def run_conv_stats():
        noop_write(turn_order_audit(corpus))
        noop_write(conversation_quality_signals(corpus))

    timed("conversation_stats_audit_quality", run_conv_stats)
    timed(
        "conversation_fingerprint_serialize",
        lambda: noop_write(conversation_fingerprint(corpus)),
    )
    timed(
        "conversation_fingerprint_xor",
        lambda: noop_write(conversation_fingerprint_xor(corpus)),
    )
    from loongcollector_spark.functions.convstats import (
        turn_repetition_signals,
    )

    timed(
        "turn_repetition_2m",
        lambda: noop_write(turn_repetition_signals(corpus)),
    )
    from loongcollector_spark.functions.convstats import pii_scan_stats

    timed(
        "pii_scan_2m", lambda: noop_write(pii_scan_stats(corpus))
    )

    # --- operator queries over the sf-dir tables -------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(
        "exact_dedup_documents",
        lambda: noop_write(
            docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
                F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n")
            )
        ),
    )
    # corpus-self-trained bigram LM pseudo-perplexity (r5): the CCNet
    # filter topology — three token-stream-sized shuffles (unigram,
    # vocab map, bigram+score), all map-side partial-aggregated
    from loongcollector_spark.functions.lm import bigram_lm_score

    timed("lm_bigram_ppl_docs", lambda: noop_write(bigram_lm_score(docs)))

    # tf-idf top-k (one corpus pass, df via window over the tf table)
    # and the zero-shuffle token-window chunker
    from loongcollector_spark.functions.packing import token_window_chunks
    from loongcollector_spark.functions.textstats import tfidf_topk

    timed("tfidf_topk_docs", lambda: noop_write(tfidf_topk(docs, k=5)))
    timed(
        "token_chunks_docs",
        lambda: noop_write(token_window_chunks(docs, 128, 16)),
    )

    # deterministic sampling + sequence packing at corpus scale (r5):
    # hash_sample is the narrow md5-filter floor; pack_sequences is one
    # shard-window cumsum + spanned-bin explode over all 2M turns
    from loongcollector_spark.functions.packing import pack_sequences
    from loongcollector_spark.functions.sampling import hash_sample

    keyed = corpus.withColumn(
        "k", F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
    )
    timed(
        "hash_sample_2m",
        lambda: noop_write(hash_sample(keyed, 0.1, key_col="k")),
    )
    # shard by the UNIQUE key, count ∝ rows (~31k rows/shard): a group
    # key would serialize the hot conversation's shard, and a fixed
    # shard count pays the O(n log n) window-sort factor at 10x
    # (BENCH.md §sampling+packing linearity)
    n_shards = max(bench_rows // 31_250, 1)
    packable = keyed.withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    ).withColumn("shard", F.pmod(F.xxhash64("k"), F.lit(n_shards)))
    timed(
        "pack_sequences_2m",
        lambda: noop_write(
            pack_sequences(
                packable, budget=8192, shard_cols=["shard"], key_col="k"
            )
        ),
    )

    trans = transcripts_from_events(spark, sf_dir)
    timed(
        "sf_transcripts_pipeline",
        lambda: noop_write(pipe.metrics(pipe.run_single_pass(trans))),
    )

    # --- LLM-ops suite (VERDICT r3 #2): near-dup + ANN + clustering -------
    from loongcollector_spark.functions.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
        minhash_lsh_stages,
    )
    from loongcollector_spark.functions.similarity import lsh_ann_topk

    # the sf documents table is ONE parquet split (5k docs, ~2 MB) — a
    # 1-split input serializes the whole shingle/signature projection on
    # one core and measures Amdahl, not the operator. Production inputs
    # arrive in thousands of splits; rebalance to cores first (the
    # stage decomposition at sf0.1 showed 5.7 s of 6.5 s was the serial
    # signature projection).
    docs_par = docs.repartition(int(cpus) * 2)
    timed(
        "minhash_lsh_candidates",
        lambda: noop_write(minhash_lsh_candidates(docs_par)),
        n=min(reps, 2),  # multi-stage — min-of-2 + sweep keeps wall-time sane
    )
    # per-stage decomposition (VERDICT r4 #2): each row is CUMULATIVE from
    # the scan; deltas between consecutive rows attribute the wall-clock
    for stage_name in ("signature", "banded_capped", "pairs"):
        timed(
            f"minhash_stage_{stage_name}",
            (lambda sn: lambda: noop_write(minhash_lsh_stages(docs_par)[sn]))(
                stage_name
            ),
            n=min(reps, 2),
        )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ann_queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    timed(
        "lsh_ann_topk_bucketed",
        lambda: noop_write(
            lsh_ann_topk(emb, ann_queries, dim=64, k=10, n_planes=8)
        ),
    )
    # int8-quantized two-stage ANN vs the float paths above: the scan
    # stage reads 4x fewer bytes per vector; exact re-rank only touches
    # the candidate set
    from loongcollector_spark.functions.similarity import quantized_topk

    from loongcollector_spark.functions.similarity import brute_force_topk

    timed(
        "ann_brute_float",
        lambda: noop_write(brute_force_topk(emb, ann_queries, k=10)),
    )
    timed(
        "ann_quantized_int8",
        lambda: noop_write(
            quantized_topk(emb, ann_queries, k=10, candidates=30)
        ),
    )

    # iterative CC: pairs materialized once (pair generation is the
    # minhash_lsh_candidates row above); the timing isolates the
    # label-propagation rounds, dedup_clusters' real cost
    # _v2: the r5 single-string-hash minhash family changed pair contents
    pairs_path = f"/tmp/lc_bench/pairs_v2_{sf}"
    if not os.path.exists(pairs_path + "/_SUCCESS"):
        minhash_lsh_candidates(docs_par).write.mode("overwrite").parquet(pairs_path)
    cc_pairs = spark.read.parquet(pairs_path)
    timed(
        "dedup_clusters_cc",
        lambda: noop_write(dedup_clusters(cc_pairs)),
    )

    # --- straggler-recovery sweep ---------------------------------------
    # This host has JIT/hypervisor straggler PHASES that can swallow a
    # query's whole min-of-reps window (documented in BENCH.md). A second
    # temporally-separated pass re-times every query with 2 reps and
    # keeps the per-query MIN, so one bad phase cannot poison the
    # recorded artifact. Disable with SPARK_GRAFT_BENCH_PASSES=1.
    if int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")) > 1:
        for name, fn in benched:
            best = timings[name]
            for _ in range(2):
                t0 = time.time()
                fn()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)

    # post-battery canary: a degraded phase that began mid-run shows here
    extras["canary_post"] = run_canary(spark)
    extras["canary_quiet"] = bool(
        extras["canary_pre"]["canary_quiet"]
        and extras["canary_post"]["canary_quiet"]
    )
    extras["canary_parallel_quiet"] = bool(
        extras["canary_pre"]["canary_parallel_quiet"]
        and extras["canary_post"]["canary_parallel_quiet"]
    )

    # throughput from the FINAL (post-sweep) pipeline timing
    if "pipeline_end_to_end" in timings:
        extras["turns_parsed_routed_per_sec"] = round(
            n_corpus / timings["pipeline_end_to_end"], 1
        )
        extras["routed_rows_per_sec"] = round(
            extras["routed_rows_multicast"] / timings["pipeline_end_to_end"], 1
        )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "parallelism": int(cpus),
                "reps_min_of": reps,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
