"""Round-6 optimization harness (bench.py is FROZEN — extras live here).

Modes (argv[1]):
  plans <tag> [names...]  — write .explain("formatted") for each bench
                            query to plans/r06/<name>_<tag>.txt
  time <names...>         — noop-sink min-of-N timing for named queries
                            (same constructions as bench.py, guide §1.4)
  stages                  — per-stage decomposition of context_window_stats
                            (VERDICT r5 #2) and other composites

Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_BENCH_ROWS
like bench.py.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_queries(spark, sf_dir: str, cpus: int, bench_rows: int):
    """Reconstruct the exact DataFrames bench.py times, keyed by name."""
    from loongcollector_spark.plans import transcript_pipeline as tp
    from loongcollector_spark.sources.transcripts import (
        generate_transcripts,
        transcripts_from_events,
    )
    from loongcollector_spark.operators.filters import RateLimit
    from loongcollector_spark.aggregators import shardhash_repartition
    from loongcollector_spark.operators.grok import Grok
    from loongcollector_spark.operators.splits import MergeMultilineLog
    from loongcollector_spark.functions import textstats
    from loongcollector_spark.functions.packing import (
        context_window_stats,
        pack_sequences,
        token_window_chunks,
    )
    from loongcollector_spark.functions.sessions import sessionize
    from loongcollector_spark.functions.convstats import (
        conversation_fingerprint,
        conversation_fingerprint_xor,
        conversation_quality_signals,
        pii_scan_stats,
        turn_order_audit,
        turn_repetition_signals,
    )
    from loongcollector_spark.functions.lm import bigram_lm_score
    from loongcollector_spark.functions.textstats import tfidf_topk
    from loongcollector_spark.functions.sampling import hash_sample
    from loongcollector_spark.functions.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
        minhash_lsh_stages,
    )
    from loongcollector_spark.functions.similarity import (
        brute_force_topk,
        lsh_ann_topk,
        quantized_topk,
    )

    corpus_path = f"/tmp/lc_bench/corpus_{bench_rows}"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        gen = generate_transcripts(spark, bench_rows, partitions=cpus * 4)
        gen.write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    pipe = tp.TranscriptPipeline()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs_par = docs.repartition(cpus * 2)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ann_queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    trans = transcripts_from_events(spark, sf_dir)

    wide_match = [
        "\\[%{INT:ts}\\]\t\\[%{LOGLEVEL:lvl}\\]\t\\[%{INT:n}\\]\t"
        "\\[%{UNIXPATH:src}:%{INT:line}\\]\tuser:%{USERNAME:usr}\t"
        "etype:%{WORD:etype}"
    ]
    keyed = corpus.withColumn(
        "k", F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
    )
    n_shards = max(bench_rows // 31_250, 1)
    packable = keyed.withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    ).withColumn("shard", F.pmod(F.xxhash64("k"), F.lit(n_shards)))

    sf = sf_dir.rstrip("/").split("sf")[-1]
    pairs_path = f"/tmp/lc_bench/pairs_v2_{sf}"
    if not os.path.exists(pairs_path + "/_SUCCESS"):
        minhash_lsh_candidates(docs_par).write.mode("overwrite").parquet(
            pairs_path
        )
    cc_pairs = spark.read.parquet(pairs_path)

    q = {
        "pipeline_end_to_end": lambda: pipe.run_single_pass(corpus),
        "pipeline_metrics": lambda: pipe.metrics(pipe.run_single_pass(corpus)),
        "parse_dispatch": lambda: pipe.parse(corpus),
        "enrich_broadcast_join": lambda: pipe.enrich(pipe.parse(corpus)),
        "rate_limit_window": lambda: RateLimit(
            Fields=["role"], Limit=1000, BucketSeconds=3600,
            OrderBy=["ts", "conv_id", "turn_idx"],
        )(corpus),
        "shardhash_repartition": lambda: shardhash_repartition(
            corpus, ["conv_id"], 32
        ),
        "grok_jvm_wide": lambda: Grok(
            SourceKey="text", Match=wide_match, IgnoreParseFailure=True
        )(corpus),
        "grok_python_dispatch": lambda: Grok(
            SourceKey="text", Match=wide_match, Engine="python",
            IgnoreParseFailure=True,
        )(corpus),
        "multiline_fsm": lambda: MergeMultilineLog(
            SourceKey="text", GroupKey="conv_id", OrderKey="turn_idx",
            StartPattern=r"^\{", EndPattern=r"\|",
        )(corpus),
        "multiline_fsm_skew_chunked": lambda: MergeMultilineLog(
            SourceKey="text", GroupKey="conv_id", OrderKey="turn_idx",
            StartPattern=r"^\{", EndPattern=r"\|", ChunkRows=262_144,
        )(corpus),
        "sessionize_rollup_2m": lambda: sessionize(corpus, gap_seconds=86400)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("session_idx").alias("max_s"),
        ),
        "context_window_stats_2m": lambda: context_window_stats(
            corpus.withColumn(
                "n_tokens", textstats.bpe_ish_token_count(F.col("text"))
            ),
            budget=128,
        ),
        "turn_order_audit": lambda: turn_order_audit(corpus),
        "conversation_quality": lambda: conversation_quality_signals(corpus),
        "conversation_fingerprint_serialize": lambda: conversation_fingerprint(
            corpus
        ),
        "conversation_fingerprint_xor": lambda: conversation_fingerprint_xor(
            corpus
        ),
        "turn_repetition_2m": lambda: turn_repetition_signals(corpus),
        "pii_scan_2m": lambda: pii_scan_stats(corpus),
        "exact_dedup_documents": lambda: docs.groupBy(
            F.md5(F.col("text").cast("binary")).alias("h")
        ).agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n")),
        "lm_bigram_ppl_docs": lambda: bigram_lm_score(docs),
        "tfidf_topk_docs": lambda: tfidf_topk(docs, k=5),
        "token_chunks_docs": lambda: token_window_chunks(docs, 128, 16),
        "hash_sample_2m": lambda: hash_sample(keyed, 0.1, key_col="k"),
        "pack_sequences_2m": lambda: pack_sequences(
            packable, budget=8192, shard_cols=["shard"], key_col="k"
        ),
        "sf_transcripts_pipeline": lambda: pipe.metrics(
            pipe.run_single_pass(trans)
        ),
        "minhash_lsh_candidates": lambda: minhash_lsh_candidates(docs_par),
        "minhash_stage_signature": lambda: minhash_lsh_stages(docs_par)[
            "signature"
        ],
        "minhash_stage_banded_capped": lambda: minhash_lsh_stages(docs_par)[
            "banded_capped"
        ],
        "minhash_stage_pairs": lambda: minhash_lsh_stages(docs_par)["pairs"],
        "lsh_ann_topk_bucketed": lambda: lsh_ann_topk(
            emb, ann_queries, dim=64, k=10, n_planes=8
        ),
        "ann_brute_float": lambda: brute_force_topk(emb, ann_queries, k=10),
        "ann_quantized_int8": lambda: quantized_topk(
            emb, ann_queries, k=10, candidates=30
        ),
        "dedup_clusters_cc": lambda: dedup_clusters(cc_pairs),
    }
    return q, corpus, pipe


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    bench_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "2000000"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from loongcollector_spark.session import get_spark

    spark = get_spark(app_name="lc_bench_extra", master=f"local[{cpus}]")
    mode = sys.argv[1]
    queries, corpus, pipe = build_queries(spark, sf_dir, cpus, bench_rows)

    if mode == "plans":
        tag = sys.argv[2]
        names = sys.argv[3:] or list(queries)
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = queries[name]()
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
                f.write(p)
            print(f"wrote plans/r06/{name}_{tag}.txt")
        return

    if mode == "time":
        names = sys.argv[2:] or list(queries)
        out = {}
        for name in names:
            fn = queries[name]
            spark.sparkContext.setJobDescription(name)
            noop_write(fn())  # warmup
            best = float("inf")
            for _ in range(reps):
                t0 = time.time()
                noop_write(fn())
                best = min(best, time.time() - t0)
            out[name] = round(best, 3)
            print(f"{name}: {out[name]}")
        print(out)
        return

    if mode == "stages":
        # context_window_stats decomposition (VERDICT r5 #2): cumulative
        # stages from the scan — deltas attribute wall-clock.
        from loongcollector_spark.functions import textstats
        from pyspark.sql import Window

        budget = 128
        with_tok = corpus.withColumn(
            "n_tokens", textstats.bpe_ish_token_count(F.col("text"))
        )
        cost = F.col("n_tokens").cast("long") + F.lit(1)
        w_cum = (
            Window.partitionBy("conv_id")
            .orderBy("turn_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        staged = with_tok.withColumn("__cost__", cost).withColumn(
            "__cum__", F.sum("__cost__").over(w_cum)
        )
        w_rng = (
            Window.partitionBy("conv_id")
            .orderBy("__cum__")
            .rangeBetween(-budget, Window.currentRow)
        )
        full = staged.withColumn(
            "m", F.count(F.lit(1)).over(w_rng)
        ).withColumn("mincum", F.min("__cum__").over(w_rng))
        stages = {
            "cws_tokenize": lambda: with_tok,
            "cws_cumsum": lambda: staged,
            "cws_rangeframe": lambda: full,
        }
        for name, fn in stages.items():
            spark.sparkContext.setJobDescription(name)
            noop_write(fn())
            best = float("inf")
            for _ in range(reps):
                t0 = time.time()
                noop_write(fn())
                best = min(best, time.time() - t0)
            print(f"{name}: {round(best, 3)}")
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
