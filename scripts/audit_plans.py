"""Dump the physical plans of the headline queries with shape assertions
→ PLANS.md. The artifact the 100TB review reads: where filters pushed,
what broadcast, where the (few) exchanges are.

A section titled ``[leaf <name>]`` audits a frame of that bench leaf,
built by ``bench_leaves.py`` over the sf0.001 inputs (the sf transcripts
stand in for the generated corpus). The other sections audit operators
that no leaf writes as such. The Spark master is ``get_spark``'s default,
``local[SPARK_GRAFT_CPUS]`` (default: the cores this process may run on).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench_leaves import LEAVES, Inputs, plan_of  # noqa: E402
from loongcollector_spark.operators.splits import (  # noqa: E402
    MergeMultilineLog,
)
from loongcollector_spark.session import get_spark  # noqa: E402
from loongcollector_spark.sources.transcripts import (  # noqa: E402
    transcripts_from_events,
)

SF = "/root/testdata/sf0.001"


def n_nodes(plan: str, pattern: str) -> int:
    return len(re.findall(pattern, plan.split("== Initial Plan ==")[0]))


def main() -> None:
    spark = get_spark()
    t = transcripts_from_events(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    inp = Inputs(
        corpus=t, trans=t, docs=docs,
        emb=spark.read.parquet(f"{SF}/embeddings.parquet"),
    )

    def leaf(name: str, frame: int = 0) -> str:
        return plan_of(list(LEAVES[name](inp))[frame])

    sections = []

    p = leaf("parse_dispatch")
    sections.append((
        "parse (anchored 5-grammar dispatch) [leaf parse_dispatch]",
        p,
        [
            ("single Exchange (only the turn_idx window of the transcript "
             "derivation; parse itself is narrow)",
             n_nodes(p, r"\(\d+\) Exchange") <= 1),
            # AQE plans hide codegen ids pre-execution; assert no
            # interpreted-mode fallback instead
            ("no codegen fallback", "CodegenFallback" not in p),
        ],
    ))

    p = leaf("enrich_broadcast_join")
    sections.append((
        "enrich (dict-map lookups) [leaf enrich_broadcast_join]",
        p,
        [
            ("tiny enum dicts fold to literal-map projections — NO join "
             "node at all (round 3; ≤64-entry dicts inline, larger ones "
             "stay BroadcastHashJoin)", "Join" not in p),
            ("no SortMergeJoin", "SortMergeJoin" not in p),
            ("no codegen fallback", "CodegenFallback" not in p),
        ],
    ))

    p = leaf("pipeline_end_to_end", 0)
    sections.append((
        "single-pass multicast route (exploded) [leaf pipeline_end_to_end]",
        p,
        [
            ("Generate/explode present", "Generate explode" in p or "Generate" in p),
            ("no extra Exchange beyond derivation",
             n_nodes(p, r"\(\d+\) Exchange") <= 1),
        ],
    ))

    p = leaf("pipeline_end_to_end", 1)
    sections.append((
        "per-sink metrics (bounded-key aggregation) [leaf pipeline_end_to_end]",
        p,
        [
            ("partial aggregation before the exchange (map-side combine)",
             "HashAggregate" in p),
        ],
    ))

    p = leaf("grok_jvm_wide")
    sections.append((
        "wide grok (7-alias, single-execution replace+split path) "
        "[leaf grok_jvm_wide]",
        p,
        [
            ("regexp_replace single-extract present (not per-alias "
             "regexp_extract in the hot path)", "regexp_replace" in p),
            ("narrow: no Exchange beyond transcript derivation",
             n_nodes(p, r"\(\d+\) Exchange") <= 1),
            ("no codegen fallback", "CodegenFallback" not in p),
        ],
    ))

    p = leaf("multiline_fsm")
    sections.append((
        "multiline merge (vectorized scan FSM, partition-level pandas) "
        "[leaf multiline_fsm]",
        p,
        [
            ("exactly one Exchange for the group-key repartition "
             "(+ derivation)", n_nodes(p, r"\(\d+\) Exchange") <= 2),
            ("partition-level MapInPandas (one Python call per Arrow "
             "batch, NOT one per group)", "MapInPandas" in p),
            ("regex flags (rlike) evaluated JVM-side below the shuffle",
             "rlike" in p.lower() or "RLIKE" in p),
            ("in-partition sort, no global sort",
             "Sort" in p),
        ],
    ))

    # Adaptive execution reuses the stats broadcast at run time; the
    # static plan shows the same reuse before execution.
    def static_plan(frame) -> str:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return plan_of(frame)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    def stats_broadcast_once(p: str) -> tuple[str, bool]:
        return (
            "one broadcast of the big-group stats; the plain path and both "
            "chunk passes join it (two ReusedExchange), no pruned copy",
            len(re.findall(r"\) BroadcastExchange\nInput \[\d+\]: "
                           r"\[[^\]]*__st__", p)) == 1
            and len(re.findall(r"\) ReusedExchange \[Reuses operator id: "
                               r"\d+\]\nOutput \[\d+\]: \[[^\]]*__st__",
                               p)) == 2
            and "_extract_" not in p,
        )

    def chunk_flags_below_exchanges(p: str) -> tuple[str, bool]:
        chunk_exchanges = re.findall(
            r"\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
            r"Arguments: hashpartitioning\(conv_id#\d+, __chunk__#", p
        )
        return (
            "regex flags (rlike) evaluated below both (group, chunk) "
            "exchanges", len(chunk_exchanges) == 2
            and all("__s__" in cols for cols in chunk_exchanges),
        )

    p = static_plan(list(LEAVES["multiline_fsm_skew_chunked"](inp))[0])
    sections.append((
        "chunked multiline merge (routed inside the plan, static plan) "
        "[leaf multiline_fsm_skew_chunked]",
        p,
        [
            stats_broadcast_once(p),
            chunk_flags_below_exchanges(p),
            ("numeric OrderKey: chunk ids from the group's key range, no "
             "Window over (conv_id, turn_idx)",
             not re.search(r"windowspecdefinition\(conv_id#\d+, turn_idx#",
                           p)),
        ],
    ))

    p = static_plan(MergeMultilineLog(
        SourceKey="text", GroupKey="conv_id", OrderKey="turn_key",
        StartPattern=r"^\{", EndPattern=r"\|", ChunkRows=262_144,
    )(t.withColumn("turn_key", F.format_string("%08d", "turn_idx"))))
    sections.append((
        "chunked multiline merge, string OrderKey (static plan)",
        p,
        [
            stats_broadcast_once(p),
            chunk_flags_below_exchanges(p),
            ("string OrderKey: chunk ids from a row_number ordinal (a "
             "Window over (conv_id, turn_key))",
             re.search(r"windowspecdefinition\(conv_id#\d+, turn_key#", p)
             is not None),
        ],
    ))

    from loongcollector_spark.functions.sampling import (  # noqa: E402
        hash_sample,
        stratified_quota_sample,
    )
    from loongcollector_spark.functions.packing import (  # noqa: E402
        pack_sequences,
    )

    p = plan_of(hash_sample(docs, 0.25))
    sections.append((
        "deterministic hash sample (md5 hex-prefix threshold)",
        p,
        [
            ("pure narrow filter: zero Exchange", "Exchange" not in p),
            ("no codegen fallback", "CodegenFallback" not in p),
        ],
    ))
    p = plan_of(stratified_quota_sample(docs, ["lang"], quota=100))
    sections.append((
        "stratified quota sample (per-stratum top-k by hash rank)",
        p,
        [
            ("one hash-partitioning Exchange (the stratum window)",
             n_nodes(p, r"\(\d+\) Exchange") == 1),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    p = plan_of(
        pack_sequences(
            docs.withColumn(
                "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
            ),
            budget=256,
            shard_cols=["source"],
        )
    )
    sections.append((
        "sequence packing (window cumsum + spanned-bin explode)",
        p,
        [
            ("one hash-partitioning Exchange (the shard window)",
             n_nodes(p, r"\(\d+\) Exchange") == 1),
            ("Generate/explode present", "Generate" in p),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))

    from loongcollector_spark.functions.sessions import (  # noqa: E402
        consecutive_runs,
        sessionize,
    )

    p = plan_of(sessionize(t, gap_seconds=86400))
    sections.append((
        "sessionize (lag-gap prefix sum, r5)",
        p,
        [
            ("one conv-key Exchange (+ derivation): both windows and the "
             "session ordinal share the partitioning",
             n_nodes(p, r"\(\d+\) Exchange") <= 2),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    p = leaf("context_window_stats_2m")
    sections.append((
        "context-window assembly (cumsum + RANGE frame, r5) "
        "[leaf context_window_stats_2m]",
        p,
        [
            ("one conv-key Exchange (+ derivation): the RANGE window "
             "reuses the cumsum window's partitioning",
             n_nodes(p, r"\(\d+\) Exchange") <= 2),
            ("two Window nodes (cumsum, then RANGE frame over it)",
             n_nodes(p, r"\(\d+\) Window") >= 2),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    p = plan_of(consecutive_runs(t, ["role", "tool"], min_len=2))
    sections.append((
        "consecutive-run RLE (gaps-and-islands, r5)",
        p,
        [
            ("run groupBy reuses the window's conv-key Exchange "
             "(+ derivation)", n_nodes(p, r"\(\d+\) Exchange") <= 2),
            ("partial aggregation before any exchange",
             "HashAggregate" in p),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))

    p = leaf("conversation_stats_audit_quality", 0)
    sections.append((
        "turn-order audit (conversation integrity gate, r5) "
        "[leaf conversation_stats_audit_quality]",
        p,
        [
            ("one conv-key Exchange (+ derivation): the lag window and "
             "the stats groupBy share the partitioning",
             n_nodes(p, r"\(\d+\) Exchange") <= 2),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    p = leaf("conversation_fingerprint_xor")
    sections.append((
        "conversation fingerprint, XOR-fold scale variant (r5) "
        "[leaf conversation_fingerprint_xor]",
        p,
        [
            ("bit_xor partial-aggregates MAP-SIDE (a hot conversation "
             "combines inside each scan task; the Exchange carries one "
             "16-byte partial per task×conversation, never text)",
             "partial_bit_xor" in p),
            ("no conversation materialization (no collect_list)",
             "collect_list" not in p),
            ("conv agg Exchange + digest window Exchange (+ derivation)",
             n_nodes(p, r"\(\d+\) Exchange") <= 3),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))

    p = leaf("tfidf_topk_docs")
    sections.append((
        "tf-idf top-k keywords (r5) [leaf tfidf_topk_docs]",
        p,
        [
            ("ONE corpus pass: df via window over the tf table, not a "
             "groupBy branch (2 scans total incl. the 1-row N aggregate)",
             n_nodes(p, r"\(\d+\) Scan parquet") <= 2),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    p = leaf("lm_bigram_ppl_docs")
    sections.append((
        "bigram LM pseudo-perplexity (r5) [leaf lm_bigram_ppl_docs]",
        p,
        [
            ("2 parquet scans total: history counts via window over the "
             "bigram table (not a groupBy branch) and the vocab subtree "
             "localCheckpoint'd once (was 7 scans — the vocab's full "
             "token pass re-ran in every join branch)",
             n_nodes(p, r"\(\d+\) Scan parquet") <= 2),
            ("vocab joins partial-aggregate map-side",
             "partial_count" in p),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    p = leaf("token_chunks_docs")
    sections.append((
        "token-window chunker (r5) [leaf token_chunks_docs]",
        p,
        [
            ("ZERO Exchanges — chunking runs at scan speed",
             n_nodes(p, r"\(\d+\) Exchange") == 0),
            ("no Python nodes", "InPandas" not in p),
        ],
    ))
    for title, name, windows in (
        ("exact cosine top-k (numpy kernel)", "ann_brute_float", 1),
        ("int8-quantized two-stage ANN (numpy kernel)", "ann_quantized_int8", 2),
    ):
        p = leaf(name)
        sections.append((
            f"{title} [leaf {name}]",
            p,
            [
                ("ONE MapInArrow over the ONE corpus scan (the query side "
                 "was collected while the plan was built; no vector "
                 "crosses an exchange)",
                 n_nodes(p, r"\(\d+\) MapInArrow") == 1
                 and n_nodes(p, r"\(\d+\) Scan parquet") == 1),
                ("no broadcast join", "Broadcast" not in p),
                (f"one Exchange shared by the {windows} qid window(s)",
                 n_nodes(p, r"\(\d+\) Exchange") == 1
                 and n_nodes(p, r"\(\d+\) Window\b") == windows),
            ],
        ))

    scan = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("ts") >= F.lit("2024-01-03").cast("timestamp"))
        .select("event_id", "ts")
    )
    p = plan_of(scan)
    sections.append((
        "scan: filter pushdown + column pruning",
        p,
        [
            ("PushedFilters reach parquet", "GreaterThanOrEqual(ts" in p),
            ("ReadSchema pruned to 2 columns",
             "struct<event_id:bigint,ts:timestamp" in p),
        ],
    ))

    out = ["# PLANS — physical-plan audit of the headline queries",
           "",
           "Generated by `python scripts/audit_plans.py` (sf0.001 input; the",
           "plan SHAPE is scale-invariant). Each section: assertion results,",
           "then the formatted plan.", ""]
    ok_all = True
    for title, plan, checks in sections:
        out.append(f"## {title}\n")
        for desc, ok in checks:
            ok_all &= ok
            out.append(f"- {'✅' if ok else '❌'} {desc}")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written; all checks pass:", ok_all)


if __name__ == "__main__":
    main()
