"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship parse→enrich→route→aggregate pipeline at
sf0.001. ``queries()`` — one entry per implemented operator (SURVEY.md §2);
``oracle_sql()`` — the DuckDB-equivalent SQL for each. The transcript input
is derived deterministically from the ``events`` table in BOTH dialects
(loongcollector_spark/sources/transcripts.py), so even the full pipeline
has a value-level oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loongcollector_spark.operators.enrich import DictMap, Desensitize, Md5, PackJson
from loongcollector_spark.operators.filters import (
    FilterNative,
    FilterRegex,
    PickKey,
    RateLimit,
    TimestampFilterNative,
)
from loongcollector_spark.operators.parsers import (
    ParseApsaraNative,
    ParseDelimiterNative,
    ParseJsonNative,
    ParseRegexNative,
    parse_kv_columns,
)
from loongcollector_spark.aggregators import shardhash_repartition
from loongcollector_spark.plans import transcript_pipeline as tp
from loongcollector_spark.sources.transcripts import (
    transcripts_duckdb_sql,
    transcripts_from_events,
)

# ---------------------------------------------------------------------------
# helpers

_T = "WITH transcripts AS ({t})".format(t=transcripts_duckdb_sql("events"))

PAT_REGEX = tp.PAT_REGEX
PAT_DELIM = tp.PAT_DELIM
PAT_APSARA = tp.PAT_APSARA
PAT_KV = tp.PAT_KV


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _session_safety(spark)
    return transcripts_from_events(spark, sf_dir)


def _session_safety(spark: SparkSession) -> None:
    """The driver runs queries() in ITS OWN session — map-building
    operators (str_to_map, map_from_entries/arrays/concat) rely on
    LAST_WIN duplicate-key semantics, which is a runtime conf."""
    try:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    except Exception:
        pass  # conf locked → operators still work on dup-free data


# ---------------------------------------------------------------------------
# flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline at sf0.001, returns the per-sink metrics."""
    p = tp.TranscriptPipeline()
    transcripts = transcripts_from_events(spark, "/root/testdata/sf0.001")
    return p.metrics(p.run_single_pass(transcripts))


# ---------------------------------------------------------------------------
# queries

def q_transcripts(spark, sf_dir):
    return _transcripts(spark, sf_dir)


def q_parse_dispatch(spark, sf_dir):
    out = tp.TranscriptPipeline().parse(_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "turn_idx", "grammar", "parsed_user", "etype",
        "status", "level", "k_val", "error_class",
    )


def q_enriched(spark, sf_dir):
    p = tp.TranscriptPipeline()
    out = p.enrich(p.parse(_transcripts(spark, sf_dir)))
    return out.select(
        "conv_id", "turn_idx", "role", "tool", "tool_class", "role_class", "error_class"
    )


def _q_sink(sink):
    def q(spark, sf_dir):
        p = tp.TranscriptPipeline()
        routed = p.run_single_pass(_transcripts(spark, sf_dir))
        return p.router.sink(routed, sink).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts", "grammar",
            "parsed_user", "etype", "error_class", "tool_class", "role_class",
        )

    return q


def q_sink_metrics(spark, sf_dir):
    """Per-sink aggregates of the routed frame, ONE aggregation for all
    sinks (also serves pipeline_metrics_single_pass)."""
    p = tp.TranscriptPipeline()
    routed = p.run_single_pass(_transcripts(spark, sf_dir))
    return p.metrics(routed).select(
        "conv_prefix", "ts_hour", "error_class", "n_rows", "n_bytes", "sink"
    )


# ---------------------------------------------------------------------------
# operator-level queries (reference plugin parity, each with an oracle)

def q_parse_regex(spark, sf_dir):
    proc = ParseRegexNative(
        SourceKey="text",
        Regex=r"(u\d+)\t(\w+)\tk=(\d+)",
        Keys=["user_key", "etype", "k_val"],
    )
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "user_key", "etype", "k_val"
    )


def q_parse_regex_keepfail(spark, sf_dir):
    """CommonParserOptions matrix: keep failed rows, rename source."""
    proc = ParseRegexNative(
        SourceKey="text",
        Regex=r"(u\d+)\t(\w+)\tk=(\d+)",
        Keys=["user_key", "etype", "k_val"],
        KeepingSourceWhenParseFail=True,
        RenamedSourceKey="rawLog",
        CopingRawLog=True,
    )
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "user_key", "etype", "k_val", "rawLog",
        F.col("__raw_log__").alias("raw_log_legacy"),
    )


def q_parse_json(spark, sf_dir):
    proc = ParseJsonNative(SourceKey="text", Keys=["user", "etype", "k"])
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "user", "etype", "k"
    )


def q_parse_delimiter(spark, sf_dir):
    proc = ParseDelimiterNative(
        SourceKey="text",
        Separator="|",
        Keys=["ip", "method", "status_code"],
        OverflowedFieldsTreatment="discard",
    )
    df = _transcripts(spark, sf_dir).filter(F.col("text").rlike(PAT_DELIM))
    return proc(df).select("conv_id", "turn_idx", "ip", "method", "status_code")


def q_parse_apsara(spark, sf_dir):
    proc = ParseApsaraNative(SourceKey="text")
    out = proc(_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "turn_idx", "__LEVEL__", "__THREAD__", "__FILE__", "__LINE__",
        "microtime", F.try_element_at(F.col("apsara_kv"), F.lit("user")).alias("kv_user"),
        F.try_element_at(F.col("apsara_kv"), F.lit("etype")).alias("kv_etype"),
    )


def q_parse_kv(spark, sf_dir):
    df = _transcripts(spark, sf_dir).filter(F.col("text").rlike(PAT_KV))
    out = parse_kv_columns(df, "text", ["user", "etype", "k"], delim="&", sep="=")
    return out.select("conv_id", "turn_idx", "user", "etype", "k")


def q_filter_condition_exp(spark, sf_dir):
    proc = FilterNative(
        ConditionExp={
            "operator": "and",
            "operands": [
                {"key": "role", "exp": "user|assistant"},
                {
                    "operator": "not",
                    "operands": [{"key": "tool", "exp": "none"}],
                },
            ],
        }
    )
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "tool"
    )


def q_filter_include_exclude(spark, sf_dir):
    proc = FilterRegex(Include={"role": "tool|assistant"}, Exclude={"tool": "db"})
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "tool"
    )


def q_timestamp_filter(spark, sf_dir):
    proc = TimestampFilterNative(
        TimeKey="ts", Start="2024-01-03 00:00:00", End="2024-01-10 00:00:00"
    )
    return proc(_transcripts(spark, sf_dir)).select("conv_id", "turn_idx", "ts")


def q_dict_map_fill(spark, sf_dir):
    """fill mode + HandleMissing over a pre-set dest column."""
    df = _transcripts(spark, sf_dir).withColumn(
        "tool_class",
        F.when(F.col("turn_idx") % 2 == 0, F.lit("preset")),
    )
    proc = DictMap(
        SourceKey="tool",
        DestKey="tool_class",
        MapDict=tp.TOOL_CLASS_DICT,
        Mode="fill",
        HandleMissing=True,
        Missing="Unknown",
    )
    return proc(df).select("conv_id", "turn_idx", "tool", "tool_class")


def q_dict_map_inplace(spark, sf_dir):
    proc = DictMap(SourceKey="role", MapDict=tp.ROLE_CLASS_DICT)
    return proc(_transcripts(spark, sf_dir)).select("conv_id", "turn_idx", "role")


def q_rate_limit(spark, sf_dir):
    proc = RateLimit(
        Fields=["role"],
        Limit=3,
        BucketSeconds=3600,
        TimeKey="ts",
        OrderBy=["ts", "conv_id", "turn_idx"],
    )
    return proc(_transcripts(spark, sf_dir)).select("conv_id", "turn_idx", "role", "ts")


def q_desensitize_regex(spark, sf_dir):
    proc = Desensitize(
        SourceKey="text",
        Method="const",
        Match="regex",
        ReplaceString="***",
        RegexBegin="user=",
        RegexContent=r"u\d+",
    )
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", F.col("text").alias("masked_text")
    )


def q_md5_field(spark, sf_dir):
    proc = Md5(SourceKey="text", NewKey="text_md5")
    return proc(_transcripts(spark, sf_dir)).select("conv_id", "turn_idx", "text_md5")


def q_pack_json(spark, sf_dir):
    proc = PackJson(SourceKeys=["role", "tool"], DestKey="packed")
    return proc(_transcripts(spark, sf_dir)).select("conv_id", "turn_idx", "packed")


def q_pick_key(spark, sf_dir):
    proc = PickKey(Include=["conv_id", "turn_idx", "role"])
    return proc(_transcripts(spark, sf_dir))


def q_shardhash(spark, sf_dir):
    """aggregator_shardhash: keyed repartition into 8 shards. The xxhash64
    seed differs from the Go impl, so the oracle is distribution-shaped:
    per-conv_id row counts are preserved (routing is a pure repartition).
    The shard assignment itself is asserted in pytest (power-of-2 buckets,
    same key → same shard)."""
    df = shardhash_repartition(
        _transcripts(spark, sf_dir), ["conv_id"], 8, shard_col=None
    )
    return df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_rows"))


# -- training-data ops over documents ---------------------------------------

def q_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized text, keep min doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def q_minhash_lsh_md5(spark, sf_dir):
    """MinHash-LSH with a FULL cross-engine value oracle (functions/
    dedup.py minhash_lsh_candidates_md5): the md5 hex-prefix hash
    family makes signature, banding, bucket pairs, and Jaccard verify
    all reproducible in DuckDB — the end-to-end correctness anchor for
    the pipeline whose production twin uses xxhash64 (rows-only row
    dedup_minhash_lsh, golden-vectored)."""
    from loongcollector_spark.functions.dedup import minhash_lsh_candidates_md5

    # fixed 200-doc subset: the synthetic corpus shares vocabulary, so
    # unigram near-dup candidates are dense — the bound keeps the
    # oracle workload constant across scale factors
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 200
    )
    return minhash_lsh_candidates_md5(docs)


def q_simhash_md5(spark, sf_dir):
    """SimHash near-dup pairs with a FULL cross-engine value oracle
    (functions/dedup.py simhash_near_dup_pairs_md5): md5 hex-digit bit
    family -> 64-bit majority sketch -> 4x16-bit block banding ->
    exact Hamming verify, every stage recomputed independently by the
    DuckDB oracle. Correctness anchor for the xxhash64 production
    sketch (simhash64, pytest + golden vectors)."""
    from loongcollector_spark.functions.dedup import simhash_near_dup_pairs_md5

    # fixed 200-doc subset — same bound rationale as dedup_minhash_lsh_md5
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 200
    )
    return simhash_near_dup_pairs_md5(docs)


def q_sample_hash_bernoulli(spark, sf_dir):
    """Deterministic Bernoulli sample (functions/sampling.py): keep a
    document iff its md5 hex-prefix bucket < rate. Content-hash law —
    reproducible across runs/cluster sizes, unlike DataFrame.sample;
    value-oracle-able because md5 agrees byte-for-byte across engines
    and hex prefixes compare like the integers they encode."""
    from loongcollector_spark.functions.sampling import hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_sample(docs, 0.25, key_col="doc_id", salt="s5").select(
        "doc_id", "lang", "source"
    )


def q_sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by cumulative hash
    intervals (functions/sampling.py hash_split); returns per-(split,
    lang) counts — the reproducible-split contract a training corpus
    needs (a new document batch joins the same law)."""
    from loongcollector_spark.functions.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        hash_split(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="sp"
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_sample_domain_mix(spark, sf_dir):
    """Deterministic corpus-mixture reweighting (functions/sampling.py
    domain_mix_sample): per-domain keep rates as one inline-literal CASE
    threshold over the hash bucket — downsample noisy sources, keep
    curated ones, same verdict at any cluster size. Returns per-source
    kept counts plus a total row-identity column set small enough to
    hash."""
    from loongcollector_spark.functions.sampling import domain_mix_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return domain_mix_sample(
        docs,
        {"src0": 0.9, "src1": 0.5, "src2": 0.1},
        domain_col="source",
        key_col="doc_id",
        salt="mix1",
        default_rate=0.25,
    ).select("doc_id", "source", "lang")


def q_sample_domain_resample(spark, sf_dir):
    """Deterministic mixture RESAMPLING incl. upsampling (functions/
    sampling.py domain_mix_resample): rate 2.5 -> floor copies + one
    more iff hash bucket < frac(rate); rate 0.5 -> Bernoulli filter;
    returns every output copy with its ordinal so the oracle hashes the
    exact multiset."""
    from loongcollector_spark.functions.sampling import domain_mix_resample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return domain_mix_resample(
        docs,
        {"src0": 2.5, "src1": 0.5},
        domain_col="source",
        key_col="doc_id",
        salt="rs1",
        default_rate=1.0,
    ).select("doc_id", "source", "copy_n")


def q_sample_stratified_quota(spark, sf_dir):
    """Exact per-stratum quota: the 100 smallest hash buckets per lang
    (ties by doc_id) — deterministic per-group top-k, one
    hash-partitioned window (functions/sampling.py)."""
    from loongcollector_spark.functions.sampling import stratified_quota_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_quota_sample(
        docs, ["lang"], quota=100, key_col="doc_id", salt="q"
    ).select("doc_id", "lang")


def q_context_window_stats(spark, sf_dir):
    """Context-window assembly stats (functions/packing.py): for each
    assistant turn, the maximal contiguous run of turns ending at it
    whose total bpe-ish token cost (+1/turn separator) fits a 128-token
    budget — the training-example construction law over transcripts.
    Closed-form: one conversation-keyed shuffle, a cumsum window and a
    RANGE frame over the running cost; no iteration, no Python."""
    from loongcollector_spark.functions import textstats
    from loongcollector_spark.functions.packing import context_window_stats

    t = _transcripts(spark, sf_dir).withColumn(
        "n_tokens", textstats.bpe_ish_token_count(F.col("text"))
    )
    out = context_window_stats(t, budget=128)
    return out.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ctx_turns",
        F.col("ctx_cost").cast("long").alias("ctx_cost"),
        "ctx_start_turn", "truncated",
    )


def q_sessionize_gap(spark, sf_dir):
    """Time-gap sessionization (functions/sessions.py): a session break
    wherever the inter-turn gap exceeds 24h — closed-form prefix sum of
    a lag-gap indicator, one conversation-keyed Exchange."""
    from loongcollector_spark.functions.sessions import sessionize

    out = sessionize(_transcripts(spark, sf_dir), gap_seconds=86400)
    return out.select(
        "conv_id", "turn_idx", "session_idx", "session_turn_idx"
    )


def q_agent_loop_runs(spark, sf_dir):
    """Degenerate agent-loop signal (functions/sessions.py): run-length
    encoding of consecutive turns with the same (role, tool) — the
    gaps-and-islands identity, one window + one groupBy."""
    from loongcollector_spark.functions.sessions import consecutive_runs

    out = consecutive_runs(
        _transcripts(spark, sf_dir), ["role", "tool"], min_len=2
    )
    return out.select(
        "conv_id", "role", "tool",
        F.col("run_start_turn").cast("int").alias("run_start_turn"),
        F.col("run_end_turn").cast("int").alias("run_end_turn"),
        "run_len",
    )


def q_conversation_rollup(spark, sf_dir):
    """Per-conversation rollup: turns, 24h-gap sessions, assistant
    turns, bpe-ish token total and wall-clock span — sessionize's
    window + ONE partial-aggregated groupBy on the same key (the
    Exchange is reused; no second shuffle)."""
    from loongcollector_spark.functions import textstats
    from loongcollector_spark.functions.sessions import sessionize

    t = sessionize(_transcripts(spark, sf_dir), gap_seconds=86400)
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        (F.max("session_idx") + 1).cast("int").alias("n_sessions"),
        F.sum((F.col("role") == "assistant").cast("int"))
        .cast("int")
        .alias("n_assistant_turns"),
        F.sum(textstats.bpe_ish_token_count(F.col("text")))
        .cast("long")
        .alias("total_tokens"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("span_seconds"),
    )


def q_turn_order_audit(spark, sf_dir):
    """Per-conversation turn-ordering integrity (functions/convstats.py):
    duplicate turn_idx, numbering gaps, timestamp inversions, base
    index — one conversation-keyed window + groupBy on the same key
    (single Exchange); the ingestion gate for any transcript job."""
    from loongcollector_spark.functions.convstats import turn_order_audit

    return turn_order_audit(_transcripts(spark, sf_dir))


def q_role_transition_matrix(spark, sf_dir):
    """Corpus-level role→next-role Markov transition counts
    (functions/convstats.py): one lead window per conversation, then a
    bounded-key groupBy ((#roles+1)² rows) that is pure map-side
    partial aggregation; last turns transition to '<end>'."""
    from loongcollector_spark.functions.convstats import (
        role_transition_matrix,
    )

    return role_transition_matrix(_transcripts(spark, sf_dir))


def q_conversation_fingerprint(spark, sf_dir):
    """Conversation-level exact dedup (functions/convstats.py): ordered
    (role, text) serialization with control-char separators → md5
    digest, copy counts + keep-first marking per digest group. The
    conversation cousin of exact_dedup; the digest shuffle carries one
    short row per conversation, never turns."""
    from loongcollector_spark.functions.convstats import (
        conversation_fingerprint,
    )

    return conversation_fingerprint(_transcripts(spark, sf_dir))


def q_conversation_fingerprint_xor(spark, sf_dir):
    """Scale variant of conversation_fingerprint (functions/convstats.py):
    position-bound per-turn md5→int64 hashes XOR-folded with bit_xor —
    commutative, so the conversation agg partial-aggregates map-side
    and a hot conversation never materializes in one reducer; dedup
    window keys on (digest, n_turns)."""
    from loongcollector_spark.functions.convstats import (
        conversation_fingerprint_xor,
    )

    return conversation_fingerprint_xor(_transcripts(spark, sf_dir))


def q_conversation_gate(spark, sf_dir):
    """Fused per-conversation export gate (functions/convstats.py):
    audit + quality + XOR-digest dedup in ONE turns-sized Exchange —
    the ordering window, the stats groupBy (single count_distinct;
    order-distinct derived from the window lag) and the map-side
    bit_xor fold all share the conversation partitioning; composite
    keep = is_clean AND quality_ok AND dedup_keep."""
    from loongcollector_spark.functions.convstats import conversation_gate

    return conversation_gate(_transcripts(spark, sf_dir))


def q_training_export(spark, sf_dir):
    """Turn-level training export (functions/convstats.py): the turn
    stream of gate-surviving conversations with digit-run redaction
    (the cheap PII floor) and per-turn bpe-ish token budgets — gate +
    conversation-keyed semi-join: two turns-sized shuffles end to end
    at any corpus size."""
    from loongcollector_spark.functions.convstats import training_export

    return training_export(_transcripts(spark, sf_dir))


def q_lm_bigram_ppl(spark, sf_dir):
    """Corpus-self-trained add-k bigram LM pseudo-perplexity per
    document (functions/lm.py) — the CCNet/KenLM perplexity-filter
    pattern as pure DataFrame aggregations: token stream → min-count
    vocab with <unk> closure → bigram counts (history counts derived
    from the bigram table) → per-doc mean NLL, all map-side
    partial-aggregated; vocab/bigram tables broadcast only when AQE
    sees they fit."""
    from loongcollector_spark.functions.lm import bigram_lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_lm_score(docs)


def q_lm_perplexity_filter(spark, sf_dir):
    """The CCNet gate on top of the bigram score: keep documents whose
    pseudo-perplexity is at most the threshold (noise scores high)."""
    from loongcollector_spark.functions.lm import perplexity_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return perplexity_filter(docs, max_pseudo_ppl=31.0)


def q_quantized_ann(spark, sf_dir):
    """int8-quantized two-stage ANN (functions/similarity.py
    quantized_topk): candidate generation over 4x-smaller symmetric
    int8 vectors (scales cancel in the cosine; integer dots are exact
    and order-independent in doubles), exact float re-rank of the
    candidate set only."""
    from loongcollector_spark.functions.similarity import quantized_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return quantized_topk(emb, qs, k=10, candidates=30)


def q_incremental_dedup(spark, sf_dir):
    """Cross-run exact dedup (functions/dedup.py incremental_exact_dedup,
    md5 oracle twin): the previous run's digest ledger is simulated as
    the docs with doc_id % 7 == 0; the batch anti-joins the ledger on
    the digest key and keeps the min-id representative per new digest —
    ledger join + batch dedup share one digest partitioning."""
    from loongcollector_spark.functions.dedup import (
        incremental_exact_dedup,
        normalize_text,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("text_hash")
    )
    return incremental_exact_dedup(docs, seen, digest="md5")


def q_domain_token_share(spark, sf_dir):
    """Per-domain corpus composition (functions/textstats.py
    domain_token_share): token share + Zipf cumulative share — the
    mixture-design input for domain_mix_sample/resample. One corpus
    pass; windows run over the collapsed per-domain table."""
    from loongcollector_spark.functions.textstats import domain_token_share

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return domain_token_share(docs)


def q_sliding_window_counts(spark, sf_dir):
    """Sliding-window per-role turn counts (6h window, 3h slide) via
    the NATIVE F.window in batch mode — each turn lands in
    width/slide = 2 windows; output cardinality is bounded by
    #slides × #roles. The same window spec runs unchanged on a stream
    (StreamingTranscriptPipeline.metrics_stream uses the tumbling
    degenerate); the DuckDB oracle recomputes Spark's epoch-aligned
    window assignment closed-form."""
    t = _transcripts(spark, sf_dir)
    return (
        t.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"),
            "role",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "role",
            "n_turns",
        )
    )


def q_pii_scan(spark, sf_dir):
    """Per-conversation PII-pattern audit (functions/convstats.py
    pii_scan_stats): regexp_count per pattern class + turns-with-hits —
    the measurement side of the export redaction floor; one narrow
    projection + one conv-keyed map-side-combinable groupBy."""
    from loongcollector_spark.functions.convstats import pii_scan_stats

    return pii_scan_stats(_transcripts(spark, sf_dir))


def q_json_key_drift(spark, sf_dir):
    """JSON payload schema-drift monitor (functions/convstats.py
    json_key_drift): per (key, day) counts + first/last-seen + is_new
    over the JSON-grammar turns — bounded-cardinality shuffles only."""
    from loongcollector_spark.functions.convstats import json_key_drift

    t = _transcripts(spark, sf_dir).filter(F.col("text").startswith("{"))
    return json_key_drift(t)


def q_key_skew(spark, sf_dir):
    """Shuffle-key skew diagnosis (aggregators.py key_skew_stats):
    top-10 heaviest conversation keys + global skew ratio — the tuning
    input for the salting/AQE decisions; one map-side-combined groupBy,
    all stats over the collapsed key table."""
    from loongcollector_spark.aggregators import key_skew_stats

    return key_skew_stats(_transcripts(spark, sf_dir), ["conv_id"], top_k=10)


def q_boilerplate_ngrams(spark, sf_dir):
    """Cross-document boilerplate score (functions/textclean.py
    boilerplate_ngram_score, n=5, min_df=5): fraction of a document's
    distinct word 5-grams appearing in >=5 documents — the corpus-wide
    substring-dup signal MinHash pairs miss; gram df via window over
    the (doc, gram) table, one corpus pass."""
    from loongcollector_spark.functions.textclean import (
        boilerplate_ngram_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return boilerplate_ngram_score(docs, n=5, min_df=5)


def q_turn_repetition(spark, sf_dir):
    """Agent-loop repetition gate (functions/convstats.py
    turn_repetition_signals): per-conversation exact/near repeat counts
    and prev-turn Jaccard stats in ONE conversation-keyed Exchange —
    the 'model stuck in a loop' failure-mode detector."""
    from loongcollector_spark.functions.convstats import (
        turn_repetition_signals,
    )

    return turn_repetition_signals(_transcripts(spark, sf_dir))


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-5 keywords by smoothed tf-idf
    (functions/textstats.py tfidf_topk): ONE corpus pass — the (doc,
    term) tf aggregation; document frequency derives from the tf table,
    N rides a 1-row lazy aggregate, ties break (score desc, term asc)."""
    from loongcollector_spark.functions.textstats import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_topk(docs, k=5)


def q_token_chunks(spark, sf_dir):
    """RAG-style overlapping token-window chunker
    (functions/packing.py token_window_chunks, 128/16): narrow
    projection + explode, zero shuffles — chunking runs at scan speed
    at any corpus size."""
    from loongcollector_spark.functions.packing import token_window_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_window_chunks(docs, chunk_size=128, overlap=16)


def q_conversation_quality(spark, sf_dir):
    """Per-conversation training-quality filter (functions/convstats.py):
    turn count, assistant fraction, mean assistant turn length,
    duplicated-turn-text fraction, composite keep — one
    partial-aggregated groupBy, the conversation-level cousin of the
    Gopher/C4 document filters."""
    from loongcollector_spark.functions.convstats import (
        conversation_quality_signals,
    )

    return conversation_quality_signals(_transcripts(spark, sf_dir))


def q_tool_usage_stats(spark, sf_dir):
    """Per-tool usage profile (functions/convstats.py): call counts,
    conversation reach, mean relative position in-conversation — one
    conversation window + one bounded-key (#tools) groupBy."""
    from loongcollector_spark.functions.convstats import tool_usage_stats

    return tool_usage_stats(_transcripts(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (functions/packing.py):
    concatenate-and-cut over a deterministic hash order, one row per
    (document, bin it overlaps) with the token count landing in that
    bin — closed-form window cumsum + explode, one shuffle, no
    Python; the per-shard stream offset is the writer's seek position."""
    from loongcollector_spark.functions.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    return pack_sequences(
        docs, budget=256, token_col="n_tokens", shard_cols=["source"]
    )


def q_doc_token_stats(spark, sf_dir):
    """Token counting + quality scoring signals, built-ins only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.octet_length("text").alias("n_bytes"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(words)) / F.size(words)).alias("distinct_ratio"),
    )


# -- text analysis / dedup / similarity / SPL / merge ------------------------

def q_lang_id(spark, sf_dir):
    from loongcollector_spark.functions import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang_guess")
    )


def q_quality_signals(spark, sf_dir):
    from loongcollector_spark.functions import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = textstats.quality_signals(docs)
    return out.select(
        "doc_id", "n_tokens",
        F.round(F.col("alpha_ratio"), 6).alias("alpha_ratio"),
        F.round(F.col("mean_token_len"), 6).alias("mean_token_len"),
    )


def q_token_counts(spark, sf_dir):
    from loongcollector_spark.functions import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("ws_tokens"),
        textstats.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


def q_doc_fingerprint(spark, sf_dir):
    """xxhash64 fingerprint — engine-specific hash, rows-only check."""
    from loongcollector_spark.functions import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", textstats.fingerprint64(F.col("text")).alias("fp64")
    )


def q_word_jaccard_pairs(spark, sf_dir):
    """Word-level (k=1 shingle) Jaccard near-dup pairs with length-bucket
    blocking — the exhaustively-verifiable dedup primitive."""
    from loongcollector_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.ngram_jaccard_pairs(docs, shingle_k=1, min_jaccard=0.5)
    return out.select(
        "id_a", "id_b", F.round(F.col("jaccard_sim"), 6).alias("jaccard_sim")
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidates — xxhash64-based, rows-only check
    (the Jaccard verification step is oracle-checked via
    word_jaccard_pairs)."""
    from loongcollector_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_lsh_candidates(
        docs, num_hashes=16, bands=8, min_jaccard=0.5
    )


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for the first 5 vectors, double precision,
    rounded + deterministically re-ranked for cross-engine equality."""
    from pyspark.sql import Window
    from loongcollector_spark.functions.similarity import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        )
    )
    scored = emb.crossJoin(q).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "nid", "cosine_sim", "rank")
    )


def q_spl_pipeline(spark, sf_dir):
    """SPL program through the compiler (SURVEY.md §2.8)."""
    from loongcollector_spark.functions.spl import run_spl

    t = _transcripts(spark, sf_dir)
    out = run_spl(
        t,
        "* | where role = 'assistant' "
        "| extend tool_uc = upper(tool), eq_pos = strpos(text, '=') "
        "| project conv_id, turn_idx, tool_uc, eq_pos",
    )[0]
    return out


def q_merge_conversation(spark, sf_dir):
    """Multiline-merge machinery: collapse each conversation into one
    blob ordered by turn_idx (merge window + collect_list —
    ProcessorMergeMultilineLogNative analogue)."""
    from loongcollector_spark.operators.splits import MergeMultilineLog

    t = _transcripts(spark, sf_dir)
    proc = MergeMultilineLog(
        SourceKey="text",
        StartPattern=r"$never^",  # nothing matches → whole conv merges
        GroupKey="conv_id",
        OrderKey="turn_idx",
        UnmatchedContentTreatment="merge",
    )
    out = proc(t)
    return out.select(
        "conv_id", F.col("text").alias("conv_blob"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


def q_merge_multiline_continue_end(spark, sf_dir):
    """Continue+End multiline matrix (ProcessorMergeMultilineLogNative.cpp
    :230-264): tab-grammar turns (^u\\d+\\t) are continuation lines, a
    JSON turn (^\\{) ends the event; broken runs fall back to single
    lines. Exercises the FSM path of MergeMultilineLog."""
    from loongcollector_spark.operators.splits import MergeMultilineLog

    t = _transcripts(spark, sf_dir)
    proc = MergeMultilineLog(
        SourceKey="text",
        GroupKey="conv_id",
        OrderKey="turn_idx",
        ContinuePattern=r"^u\d+\t",
        EndPattern=r"^\{",
        UnmatchedContentTreatment="single_line",
    )
    out = proc(t)
    return out.select(
        "conv_id",
        F.col("text").alias("merged_text"),
        F.col("turn_idx").cast("int").alias("turn_start"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


def q_merge_multiline_skew_chunked(spark, sf_dir):
    """The skew-routed chunk-parallel FSM (ChunkRows) on the SAME input
    and config as merge_multiline_continue_end — shares its oracle, so
    the driver value-checks that transfer-function composition +
    cross-chunk event stitching equals the closed-form SQL. ChunkRows=40
    forces real multi-chunk conversations at sf0.01: conversations over
    40 turns take the chunk path, chunked by their turn_idx range, and
    the rest the plain path, routed inside the one plan."""
    from loongcollector_spark.operators.splits import MergeMultilineLog

    t = _transcripts(spark, sf_dir)
    proc = MergeMultilineLog(
        SourceKey="text",
        GroupKey="conv_id",
        OrderKey="turn_idx",
        ContinuePattern=r"^u\d+\t",
        EndPattern=r"^\{",
        UnmatchedContentTreatment="single_line",
        ChunkRows=40,
    )
    out = proc(t)
    return out.select(
        "conv_id",
        F.col("text").alias("merged_text"),
        F.col("turn_idx").cast("int").alias("turn_start"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


def q_merge_multiline_auto_chunked(spark, sf_dir):
    """ChunkRows='auto' (VERDICT r4 #5): the per-group counts, read
    inside the plan, route each conversation chunked-vs-plain and size
    its chunks. Same input/config as merge_multiline_continue_end, so it
    shares that closed-form oracle — at sf scale no conversation passes
    the threshold, every row takes the plain path and the value check
    pins that the routing is semantically free; the chunked route is
    differentially pinned in tests/test_scale_patterns.py."""
    from loongcollector_spark.operators.splits import MergeMultilineLog

    t = _transcripts(spark, sf_dir)
    proc = MergeMultilineLog(
        SourceKey="text",
        GroupKey="conv_id",
        OrderKey="turn_idx",
        ContinuePattern=r"^u\d+\t",
        EndPattern=r"^\{",
        UnmatchedContentTreatment="single_line",
        ChunkRows="auto",
    )
    out = proc(t)
    return out.select(
        "conv_id",
        F.col("text").alias("merged_text"),
        F.col("turn_idx").cast("int").alias("turn_start"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


def q_spl_scalar_dialect(spark, sf_dir):
    """r5 Presto-dialect parity surfaces through the SPL compiler
    (functions/spl.py): VARBINARY digests (md5 → unhex), ISO
    day_of_week on the NTZ ts column, 1-arg from_unixtime returning
    TIMESTAMP (round-tripped through to_unixtime so the oracle is
    tz-free), json_parse canonicalization feeding json_size, and the
    bits=64 3-arg logical shift (ADVICE r4 fix)."""
    from loongcollector_spark.functions.spl import run_spl

    t = _transcripts(spark, sf_dir)
    out = run_spl(
        t,
        "* | where role = 'assistant' "
        "| extend dw = day_of_week(ts), "
        "md = to_hex(md5(to_utf8(text))), "
        'js = json_size(json_parse(\'{"a": [1, 2, 3]}\'), \'$.a\'), '
        "sh = bitwise_logical_shift_right(cast(turn_idx as bigint) + 1024, 3, 64), "
        "fu = to_unixtime(from_unixtime(1534521600)) "
        "| project conv_id, turn_idx, dw, md, js, sh, fu",
    )[0]
    return out.select(
        "conv_id", "turn_idx",
        F.col("dw").cast("int").alias("dw"),
        "md",
        F.col("js").cast("int").alias("js"),
        F.col("sh").cast("long").alias("sh"),
        F.col("fu").cast("long").alias("fu"),
    )


def q_grok_delim(spark, sf_dir):
    """Grok over the delimiter grammar rows (compiled pattern dispatch)."""
    from loongcollector_spark.operators.grok import Grok

    t = _transcripts(spark, sf_dir)
    proc = Grok(
        SourceKey="text",
        Match=[r"%{IPV4:client_ip}\|%{WORD:verb}\|%{INT:code}"],
        ErrorClassKey="grok_ec",
    )
    out = proc(t).filter(F.col("grok_ec") == "")
    return out.select("conv_id", "turn_idx", "client_ip", "verb", "code")


def q_split_explode(spark, sf_dir):
    """split_log_string: one apsara row → one row per tab part."""
    from loongcollector_spark.operators.splits import SplitLogString

    t = _transcripts(spark, sf_dir).filter(F.col("text").startswith("["))
    proc = SplitLogString(SourceKey="text", SplitSep="\t")
    return proc(t).select(
        "conv_id", "turn_idx", "part_idx", F.col("text").alias("part")
    )


def q_log_to_metric(spark, sf_dir):
    """processor_log_to_sls_metric reshaping over events."""
    from loongcollector_spark.operators.convert import LogToMetric

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = events.withColumn("metric_name_col", F.lit("event_value"))
    proc = LogToMetric(
        MetricLabelKeys=["event_type"],
        MetricValues={"metric_name_col": "value"},
        TimeKey="ts",
    )
    out = proc(df)
    return out.select(
        "metric_name",
        F.try_element_at(F.col("labels"), F.lit("event_type")).alias("event_type"),
        "value", "ts",
    )


def q_streaming_parse_enrich(spark, sf_dir):
    """Structured Streaming twin of the batch parse+enrich: the stream is
    drained with availableNow into a memory sink and must produce the
    SAME rows as the batch oracle (arrival-time semantics, no late data
    in a bounded drain)."""
    import shutil
    import tempfile
    import uuid

    from loongcollector_spark.streaming.pipeline import StreamingTranscriptPipeline

    src = tempfile.mkdtemp(prefix="lc_stream_src_")
    name = "lc_q_stream_" + uuid.uuid4().hex[:8]
    try:
        _transcripts(spark, sf_dir).write.mode("overwrite").parquet(src)
        q = StreamingTranscriptPipeline().start_to_memory(spark, src, name=name)
        q.awaitTermination(300)
    finally:
        # the memory sink holds the rows; the ended query reads no source
        shutil.rmtree(src, ignore_errors=True)
    return spark.table(name).select(
        "conv_id", "turn_idx", "role", "tool", "grammar", "etype",
        "error_class", "tool_class", "role_class",
    )


def q_otel_reshape(spark, sf_dir):
    """OTel LogRecord reshaping over parsed transcripts."""
    from loongcollector_spark.operators.convert import OtelLogReshape

    parsed = tp.TranscriptPipeline().parse(_transcripts(spark, sf_dir))
    proc = OtelLogReshape(
        BodyKey="text", TimeKey="ts", SeverityKey="level",
        AttributeKeys=["conv_id", "role"],
    )
    out = proc(parsed)
    return out.select(
        "timeUnixNano", "severityText", "body",
        F.try_element_at(F.col("attributes"), F.lit("conv_id")).alias("attr_conv"),
        F.try_element_at(F.col("attributes"), F.lit("role")).alias("attr_role"),
    )


def q_otel_log_parse(spark, sf_dir):
    """OTLP-JSON logs payload → flat LogRecord rows (ConvertOtlpLogV1):
    one record per turn, fields recomputed by the oracle."""
    from loongcollector_spark.operators.convert import OtelLogParse

    t = _transcripts(spark, sf_dir)
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(
                        F.array(
                            F.struct(
                                F.lit("svc").alias("key"),
                                F.struct(F.lit("chat").alias("stringValue")).alias("value"),
                            )
                        ).alias("attributes")
                    ).alias("resource"),
                    F.array(
                        F.struct(
                            F.array(
                                F.struct(
                                    ns.alias("timeUnixNano"),
                                    (F.pmod(F.col("turn_idx"), F.lit(16)) + 9)
                                    .cast("string").alias("severityNumber"),
                                    F.upper(F.col("role")).alias("severityText"),
                                    F.struct(F.col("text").alias("stringValue")).alias("body"),
                                    F.array(
                                        F.struct(
                                            F.lit("conv").alias("key"),
                                            F.struct(F.col("conv_id").alias("stringValue")).alias("value"),
                                        ),
                                        F.struct(
                                            F.lit("turn").alias("key"),
                                            F.struct(
                                                F.col("turn_idx").cast("string").alias("stringValue")
                                            ).alias("value"),
                                        ),
                                    ).alias("attributes"),
                                )
                            ).alias("logRecords")
                        )
                    ).alias("scopeLogs"),
                )
            ).alias("resourceLogs")
        )
    )
    df = t.select(payload.alias("content"))
    return OtelLogParse(SourceKey="content")(df)


def q_otel_metric_reshape(spark, sf_dir):
    """OTLP-JSON metrics → SLS metric rows (gauge + monotonic sum per
    event; ConvertOtlpMetricV1 shape). The payload is built in-query from
    the events table, so the oracle can compute the expected datapoints
    directly."""
    from loongcollector_spark.operators.convert import OtelMetricReshape

    _session_safety(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    _attr_t = "array<struct<key:string,value:struct<stringValue:string,intValue:string>>>"
    _dp_t = (
        f"array<struct<attributes:{_attr_t},timeUnixNano:string,"
        "asDouble:double,asInt:string>>"
    )
    _gauge_t = f"struct<dataPoints:{_dp_t}>"
    _sum_t = (
        f"struct<dataPoints:{_dp_t},isMonotonic:boolean,"
        "aggregationTemporality:string>"
    )
    dp_gauge = F.struct(
        F.array(
            F.struct(
                F.lit("uid").alias("key"),
                F.struct(
                    F.lit(None).cast("string").alias("stringValue"),
                    F.col("user_id").cast("string").alias("intValue"),
                ).alias("value"),
            )
        ).alias("attributes"),
        ns.alias("timeUnixNano"),
        F.col("value").alias("asDouble"),
        F.lit(None).cast("string").alias("asInt"),
    )
    dp_sum = F.struct(
        F.array().cast(_attr_t).alias("attributes"),
        ns.alias("timeUnixNano"),
        F.lit(None).cast("double").alias("asDouble"),
        F.lit("1").alias("asInt"),
    )
    metric_gauge = F.struct(
        F.concat(F.lit("evt "), F.col("event_type")).alias("name"),
        F.struct(F.array(dp_gauge).alias("dataPoints")).alias("gauge"),
        F.lit(None).cast(_sum_t).alias("sum"),
    )
    metric_sum = F.struct(
        F.lit("evt.count").alias("name"),
        F.lit(None).cast(_gauge_t).alias("gauge"),
        F.struct(
            F.array(dp_sum).alias("dataPoints"),
            F.lit(True).alias("isMonotonic"),
            F.lit("2").alias("aggregationTemporality"),
        ).alias("sum"),
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(
                        F.array(
                            F.struct(
                                F.lit("host.name").alias("key"),
                                F.struct(
                                    F.concat(
                                        F.lit("h"), F.col("user_id").cast("string")
                                    ).alias("stringValue"),
                                    F.lit(None).cast("string").alias("intValue"),
                                ).alias("value"),
                            )
                        ).alias("attributes")
                    ).alias("resource"),
                    F.array(
                        F.struct(
                            F.array(metric_gauge, metric_sum).alias("metrics")
                        )
                    ).alias("scopeMetrics"),
                )
            ).alias("resourceMetrics")
        )
    )
    df = ev.select(payload.alias("content"))
    out = OtelMetricReshape(SourceKey="content")(df)
    return out.select(
        F.col("__name__").alias("mname"),
        F.col("__time_nano__").alias("tnano"),
        F.col("__labels__").alias("labels"),
        F.round(F.col("__value__"), 6).alias("mvalue"),
    )


def q_otel_trace_reshape(spark, sf_dir):
    """OTLP-JSON traces → flat span rows (otlp_trace_parser.go fields).
    Spans are derived from transcript turns (traceID = md5(conv_id),
    parent = previous turn) so the oracle can rebuild every flat field
    directly."""
    from loongcollector_spark.operators.convert import OtelTraceReshape

    t = _transcripts(spark, sf_dir)
    start_ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
    span_id = F.substring(
        F.md5(F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"))),
        1, 16,
    )
    parent_id = F.when(F.col("turn_idx") == 0, F.lit("")).otherwise(
        F.substring(
            F.md5(
                F.concat(
                    F.col("conv_id"), F.lit("#"), (F.col("turn_idx") - 1).cast("string")
                )
            ),
            1, 16,
        )
    )
    kv_str = lambda k, v: F.struct(  # noqa: E731
        F.lit(k).alias("key"), F.struct(v.alias("stringValue")).alias("value")
    )
    link_arr = F.when(
        F.col("turn_idx") == 0,
        F.array(
            F.struct(
                F.md5(F.col("conv_id")).alias("traceId"),
                F.substring(F.md5(F.col("conv_id")), 1, 16).alias("spanId"),
                F.array().cast(
                    "array<struct<key:string,value:struct<stringValue:string>>>"
                ).alias("attributes"),
            )
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<traceId:string,spanId:string,"
            "attributes:array<struct<key:string,value:struct<stringValue:string>>>>>"
        )
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(
                        F.array(
                            kv_str("host.name", F.lit("host1")),
                            kv_str("service.name", F.lit("chat")),
                            kv_str("env", F.lit("prod")),
                        ).alias("attributes")
                    ).alias("resource"),
                    F.array(
                        F.struct(
                            F.struct(
                                F.lit("loongspark").alias("name"),
                                F.lit("1.0").alias("version"),
                            ).alias("scope"),
                            F.array(
                                F.struct(
                                    F.md5(F.col("conv_id")).alias("traceId"),
                                    span_id.alias("spanId"),
                                    parent_id.alias("parentSpanId"),
                                    F.concat(
                                        F.lit("turn-"), F.col("turn_idx").cast("string")
                                    ).alias("name"),
                                    (F.pmod(F.col("turn_idx"), F.lit(5)) + 1)
                                    .cast("string")
                                    .alias("kind"),
                                    start_ns.cast("string").alias("startTimeUnixNano"),
                                    (start_ns + F.lit(1_000_000_000))
                                    .cast("string")
                                    .alias("endTimeUnixNano"),
                                    F.lit("st=1").alias("traceState"),
                                    F.array(
                                        kv_str("role", F.col("role")),
                                        kv_str("tool", F.coalesce(F.col("tool"), F.lit(""))),
                                    ).alias("attributes"),
                                    F.array(
                                        F.struct(
                                            F.lit("e0").alias("name"),
                                            (start_ns + 1000).cast("string").alias("timeUnixNano"),
                                            F.array(
                                                F.struct(
                                                    F.lit("x").alias("key"),
                                                    F.struct(
                                                        F.col("turn_idx")
                                                        .cast("string")
                                                        .alias("intValue")
                                                    ).alias("value"),
                                                )
                                            ).alias("attributes"),
                                        )
                                    ).alias("events"),
                                    link_arr.alias("links"),
                                    F.struct(
                                        F.when(F.col("etype") == "error", F.lit("2"))
                                        .otherwise(F.lit("1"))
                                        .alias("code"),
                                        F.coalesce(F.col("etype"), F.lit("")).alias("message"),
                                    ).alias("status"),
                                )
                            ).alias("spans"),
                        )
                    ).alias("scopeSpans"),
                )
            ).alias("resourceSpans")
        )
    )
    parsed = tp.TranscriptPipeline().parse(t)
    df = parsed.select(payload.alias("content"))
    out = OtelTraceReshape(SourceKey="content")(df)
    return out


def q_prom_parse_relabel(spark, sf_dir):
    """Prometheus exposition parse + relabel chain
    (ProcessorPromParseMetricNative + ProcessorPromRelabelMetricNative):
    events become `<etype>{uid="..",env="prod"} <value> <ts_ms>` lines,
    parsed then relabeled (replace/keep/lowercase/labelmap/hashmod/
    labeldrop), flattened so DuckDB can recompute every field."""
    from loongcollector_spark.operators.prom import PromParse, PromRelabel

    _session_safety(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_ms = (F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("long")
    line = F.concat(
        F.col("event_type"),
        F.lit('{uid="'), F.col("user_id").cast("string"),
        F.lit('",env="prod"} '),
        F.col("value").cast("string"), F.lit(" "), ts_ms.cast("string"),
    )
    df = ev.select(F.col("event_id"), line.alias("content"))
    parsed = PromParse(SourceKey="content")(df)
    rel = PromRelabel(RelabelConfigs=[
        {"action": "replace", "source_labels": ["__name__"],
         "regex": "(.*)", "target_label": "metric", "replacement": "$1"},
        {"action": "keep", "source_labels": ["uid"], "regex": r"\d*[02468]"},
        {"action": "lowercase", "source_labels": ["env"],
         "target_label": "env_lc"},
        {"action": "labelmap", "regex": "u(id)", "replacement": "x_$1"},
        {"action": "hashmod", "source_labels": ["uid"], "modulus": 7,
         "target_label": "shard"},
        {"action": "labeldrop", "regex": "env"},
    ])
    out = rel(parsed)
    lab = F.col("labels")
    return out.select(
        "event_id",
        "name",
        F.try_element_at(lab, F.lit("metric")).alias("metric"),
        F.try_element_at(lab, F.lit("uid")).alias("uid"),
        F.try_element_at(lab, F.lit("x_id")).alias("x_id"),
        F.try_element_at(lab, F.lit("env_lc")).alias("env_lc"),
        F.try_element_at(lab, F.lit("shard")).alias("shard"),
        F.size(lab).alias("n_labels"),
        F.round(F.col("value"), 6).alias("mvalue"),
        "ts_ms",
    )


def q_filter_key_regex_tag(spark, sf_dir):
    """processor_tag_native constant tags + processor_filter_key_regex
    EVENT filter (go:69-97 "if key is unmatched, drop this log"): rows
    whose Include key-name regexes have no present (non-NULL) field are
    dropped — here only role='tool' turns carry the tool_key field."""
    from loongcollector_spark.operators.enrich import TagNative
    from loongcollector_spark.operators.filters import FilterKeyRegex

    t = _transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.when(F.col("role") == "tool", F.col("tool")).alias("tool_key"),
    )
    tagged = TagNative(
        Tags={"__hostname__": "host1", "__cloud_provider__": "none"}
    )(t)
    return FilterKeyRegex(
        Include=[r"tool_k.*", r"__host.*"], Exclude=[r"legacy_.*"]
    )(tagged)


def q_droplastkey_times(spark, sf_dir):
    """processor_droplastkey + processor_gotime + processor_strptime in
    one chain: reformat a Go-layout time, re-parse it with strptime, and
    drop the intermediate key once the Include set is present."""
    from loongcollector_spark.operators.convert import DropLastKey, GoTime, Strptime

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.withColumn(
        "ts_str", F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    )
    df = GoTime(
        SourceKey="ts_str", SourceFormat="2006-01-02 15:04:05",
        DestKey="day_fmt", DestFormat="2006/01/02",
    )(df)
    df = Strptime(SourceKey="ts_str", Format="%Y-%m-%d %H:%M:%S", DestKey="ts2")(df)
    df = DropLastKey(DropKey="ts_str", Include=["day_fmt", "ts2"])(df)
    # per-row semantics: ts_str is nulled wherever all Include keys are
    # present (always, here) — the column itself remains
    return df.select(
        "event_id", "day_fmt",
        F.date_format(F.col("ts2"), "yyyy-MM-dd HH:mm:ss").alias("ts2_str"),
        F.col("ts_str").alias("dropped_key"),
    )


def q_encrypt_roundtrip(spark, sf_dir):
    """processor_encrypt (AES-CBC) value-checked via roundtrip: encrypt →
    decrypt reproduces the plaintext exactly, so the oracle is the plain
    projection (DuckDB has no AES; the roundtrip IS the value check)."""
    from loongcollector_spark.operators.convert import Encrypt

    t = _transcripts(spark, sf_dir)
    key_hex = "00112233445566778899aabbccddeeff"  # hex config, go:175
    enc = Encrypt(SourceKeys=["text"], EncryptionKey=key_hex)(t)
    # default IV = 16 zero bytes, ciphertext NOT IV-prefixed (go:126-143)
    # → re-prepend the IV for aes_decrypt
    dec = enc.withColumn(
        "text_rt",
        F.aes_decrypt(
            F.concat(F.lit(b"\x00" * 16), F.unhex(F.col("text"))),
            F.lit(bytes.fromhex(key_hex)),
            F.lit("CBC"), F.lit("PKCS"),
        ).cast("string"),
    )
    return dec.select("conv_id", "turn_idx", "text_rt")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup connected components (iterative min-label propagation) —
    value-checked against a DuckDB recursive-CTE transitive closure over
    the same word-Jaccard pair set: the classic 'non-SQL-expressible
    iterative algorithm' still gets a full value oracle."""
    from loongcollector_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_k=1, min_jaccard=0.5)
    return dedup.dedup_clusters(pairs, max_iterations=20).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_text_gopher_quality(spark, sf_dir):
    """Gopher-style document quality rules (public heuristics) as
    signals + verdict over the documents table."""
    from loongcollector_spark.functions.textclean import quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_filter(docs, min_words=5, min_stop_words=1)
    return out.select(
        "doc_id",
        F.col("gopher.n_words").alias("n_words"),
        F.col("gopher.mean_word_len").alias("mean_word_len"),
        F.col("gopher.symbol_ratio").alias("symbol_ratio"),
        F.col("gopher.bullet_line_ratio").alias("bullet_line_ratio"),
        F.col("gopher.ellipsis_line_ratio").alias("ellipsis_line_ratio"),
        F.col("gopher.stop_word_hits").alias("stop_word_hits"),
        "keep",
    )


def q_parse_from_pb(spark, sf_dir):
    """sls_logs LogGroup wire decode (ProcessorParseFromPBNative): each
    event is wire-encoded into a real protobuf LogGroup (tiny proto2
    writer UDF), decoded by the operator, and the flattened fields are
    recomputed independently by the oracle — a true roundtrip through
    the wire bytes."""
    from pyspark.sql import types as T

    from loongcollector_spark.operators.pb import ParseFromPbNative

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    @F.pandas_udf(T.BinaryType())
    def encode(event_id, ts_s, etype, value, user_id):
        import pandas as pd

        def varint(n):
            out = b""
            while True:
                b7 = n & 0x7F
                n >>= 7
                if n:
                    out += bytes([b7 | 0x80])
                else:
                    return out + bytes([b7])

        def ld(fnum, payload):
            return varint((fnum << 3) | 2) + varint(len(payload)) + payload

        def kv(k, v):
            return ld(1, k.encode()) + ld(2, v.encode())

        res = []
        for eid, t, et, v, uid in zip(event_id, ts_s, etype, value, user_id):
            log = varint(1 << 3) + varint(int(t))
            log += ld(2, kv("etype", str(et)))
            log += ld(2, kv("val", str(round(float(v), 2))))
            log += ld(2, kv("eid", str(eid)))
            group = ld(1, log)
            group += ld(3, b"events")  # topic
            group += ld(4, b"gen")  # source
            group += ld(6, kv("uid", str(uid)))
            res.append(group)
        return pd.Series(res)

    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
    payload = encode(
        F.col("event_id"), F.floor(epoch).cast("long"),
        F.col("event_type"), F.col("value"), F.col("user_id"),
    )
    df = ev.select(payload.alias("raw"))
    out = ParseFromPbNative(SourceKey="raw")(df)
    return out.select(
        F.try_element_at(F.col("contents"), F.lit("eid"))
        .cast("long").alias("event_id"),
        "topic",
        "source",
        "log_time",
        F.try_element_at(F.col("contents"), F.lit("etype")).alias("etype"),
        F.try_element_at(F.col("contents"), F.lit("val")).alias("val_str"),
        F.try_element_at(F.col("tags"), F.lit("uid")).alias("uid"),
    )


def q_parse_container_log(spark, sf_dir):
    """containerd text parse + partial-log merge
    (ProcessorParseContainerLogNative.cpp:176-259 + MergeType=flags merge):
    each turn becomes `<time> <stream> <P|F> <text>`; P-runs (turn_idx%4
    in 1,2) merge with the next F line joined WITHOUT separator."""
    from loongcollector_spark.operators.parsers import ParseContainerLogNative
    from loongcollector_spark.operators.splits import MergePartialLogs

    t = _transcripts(spark, sf_dir)
    stream = F.when(F.col("role") == "tool", F.lit("stderr")).otherwise(
        F.lit("stdout")
    )
    tag = F.when(
        F.pmod(F.col("turn_idx"), F.lit(4)).isin(1, 2), F.lit("P")
    ).otherwise(F.lit("F"))
    line = F.concat(
        F.lit("2024-01-01T00:00:00.000000000Z "), stream, F.lit(" "),
        tag, F.lit(" "), F.col("text"),
    )
    df = t.select("conv_id", "turn_idx", line.alias("content"))
    parsed = ParseContainerLogNative(SourceKey="content")(df)
    merged = MergePartialLogs(
        SourceKey="content", GroupKey="conv_id", OrderKey="turn_idx"
    )(parsed)
    return merged.select(
        "conv_id",
        "content",
        F.col("turn_idx").cast("int").alias("turn_start"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


def _ivf_pivot_inputs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        # double-precision cosine on both engines → identical ranking
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return emb, qs


def q_ivf_ann(spark, sf_dir):
    """PARTIAL-probe IVF ANN with the deterministic data-pivot
    quantizer (pivots = vec_id ≡ 0 mod 25, n_probe=4): every step —
    pivot selection, nearest-pivot assignment, probe pruning, exact
    re-rank — is closed-form SQL, so the approximate configuration
    itself is value-oracled (VERDICT r3 #1; the KMeans variant's
    exactness is anchored by ivf_full_probe)."""
    from loongcollector_spark.functions.similarity import ivf_topk_pivot

    emb, qs = _ivf_pivot_inputs(spark, sf_dir)
    out = ivf_topk_pivot(emb, qs, k=10, pivot_mod=25, n_probe=4)
    return out.select(
        "qid", "nid", F.round(F.col("cosine_sim"), 5).alias("sim_r"), "rank"
    )


def q_ivf_ann_recall(spark, sf_dir):
    """recall@10 contract for the partial-probe ANN: the engine emits,
    per seeded query, |approx top-10 ∩ exact top-10| and the recall
    fraction; DuckDB recomputes both sides in closed form from the same
    parquet. Machine-checks that the approximate configuration's recall
    is exactly what the quantizer geometry implies — not just ≥0."""
    from loongcollector_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk_pivot,
    )

    emb, qs = _ivf_pivot_inputs(spark, sf_dir)
    approx = ivf_topk_pivot(emb, qs, k=10, pivot_mod=25, n_probe=4)
    exact = brute_force_topk(emb, qs, k=10)
    hits = (
        exact.select("qid", "nid")
        .join(approx.select("qid", "nid"), ["qid", "nid"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("int").alias("hits"),
            F.round(F.coalesce(F.col("hits"), F.lit(0)) / 10.0, 3).alias(
                "recall_at_10"
            ),
        )
    )


def q_range_lookup(spark, sf_dir):
    """processor_geoip-style range lookup (bucketed broadcast join path)."""
    from loongcollector_spark.operators.enrich import RangeLookup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = events.withColumn("v", F.floor(F.col("value")).cast("long"))
    proc = RangeLookup(
        SourceKey="v",
        Ranges=[(0, 49, "small"), (50, 149, "medium"), (150, 1_000_000, "large")],
        DestKey="size_class",
        Bucket=64,
    )
    return proc(df).select("event_id", "v", "size_class")


def q_split_char(spark, sf_dir):
    from loongcollector_spark.operators.splits import SplitChar

    df = _transcripts(spark, sf_dir).filter(F.col("text").rlike(PAT_DELIM))
    proc = SplitChar(
        SourceKey="text", SplitSep="|", SplitKeys=["f_ip", "f_verb"],
        PreserveOthers=True,
    )
    return proc(df).select(
        "conv_id", "turn_idx", "f_ip", "f_verb", "_split_preserve_"
    )


def q_string_replace(spark, sf_dir):
    from loongcollector_spark.operators.enrich import StringReplace

    proc = StringReplace(
        SourceKey="text", Method="const", Match="etype=",
        ReplaceString="event:", DestKey="replaced",
    )
    return proc(_transcripts(spark, sf_dir)).select("conv_id", "turn_idx", "replaced")


def q_appender(spark, sf_dir):
    from loongcollector_spark.operators.enrich import Appender

    df = _transcripts(spark, sf_dir)
    proc = Appender(Key="role", Value="-suffixed", Delimiter="")
    return proc(df).select("conv_id", "turn_idx", F.col("role").alias("role_appended"))


def q_fields_with_condition(spark, sf_dir):
    from loongcollector_spark.operators.enrich import FieldsWithCondition

    proc = FieldsWithCondition(
        Switch=[
            {
                "Case": {"RelationOperator": "equals",
                         "FieldConditions": {"role": "tool"}},
                "AddFields": {"priority": "high"},
            },
            {
                "Case": {"RelationOperator": "startwith",
                         "FieldConditions": {"tool": "s"}},
                "AddFields": {"priority": "medium"},
            },
        ]
    )
    return proc(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "tool", "priority"
    )


def q_base64_roundtrip(spark, sf_dir):
    from loongcollector_spark.operators.enrich import Base64Decode, Base64Encode

    df = _transcripts(spark, sf_dir)
    enc = Base64Encode(SourceKey="text", NewKey="b64")
    dec = Base64Decode(SourceKey="b64", NewKey="back")
    out = dec(enc(df))
    # Spark's base64 MIME-chunks at 76 chars (\r\n); normalize for the
    # cross-engine compare (unbase64 accepts both forms).
    return out.select(
        "conv_id", "turn_idx",
        F.regexp_replace(F.col("b64"), "\r\n", "").alias("b64"),
        "back",
    )


def q_timestamp_strptime(spark, sf_dir):
    from loongcollector_spark.operators.parsers import ParseTimestampNative

    df = _transcripts(spark, sf_dir).withColumn(
        "ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    proc = ParseTimestampNative(
        SourceKey="ts_str", SourceFormat="%Y-%m-%d %H:%M:%S", DestKey="ts_parsed"
    )
    return proc(df).select("conv_id", "turn_idx", "ts_parsed")


def q_csv_expand(spark, sf_dir):
    from loongcollector_spark.operators.convert import CsvParse

    df = _transcripts(spark, sf_dir).filter(F.col("text").rlike(PAT_DELIM))
    proc = CsvParse(
        SourceKey="text", SplitKeys=["c_ip"], SplitSep="|",
        ExpandOthers=True, ExpandKeyPrefix="ex_", ExpandMax=2,
    )
    return proc(df).select("conv_id", "turn_idx", "c_ip", "ex_1", "ex_2")


def q_anchor(spark, sf_dir):
    from loongcollector_spark.operators.convert import Anchor

    df = _transcripts(spark, sf_dir).filter(F.col("text").startswith("user="))
    proc = Anchor(
        SourceKey="text",
        Anchors=[{"Start": "etype=", "Stop": "&", "FieldName": "anchored_etype"}],
    )
    return proc(df).select("conv_id", "turn_idx", "anchored_etype")


def q_json_expand_map(spark, sf_dir):
    from loongcollector_spark.operators.convert import JsonExpand

    df = _transcripts(spark, sf_dir).filter(F.col("text").startswith("{"))
    proc = JsonExpand(SourceKey="text", ExpandConnector="_", DestKey="xp")
    out = proc(df)
    return out.select(
        "conv_id", "turn_idx",
        F.try_element_at(F.col("xp"), F.lit("user")).alias("xp_user"),
        F.try_element_at(F.col("xp"), F.lit("k")).alias("xp_k"),
    )


def q_multicast_exploded(spark, sf_dir):
    """Single-pass exploded multicast: one row per (turn, matching sink) —
    the preferred physical routing at scale (one scan, one write)."""
    p = tp.TranscriptPipeline()
    routed = p.run_single_pass(_transcripts(spark, sf_dir))
    return routed.select("conv_id", "turn_idx", F.col("__sink__").alias("sink"))


def q_metrics_from_snapshot(spark, sf_dir):
    """Per-sink metrics aggregated from the WRITTEN routed snapshot
    (plans/transcript_pipeline.py write_routed → parquet partitioned by
    sink → metrics_from_snapshot): the 10^12-turn strategy — the
    metrics pass is a pruned columnar scan of the committed snapshot
    (ReadSchema = 4 slim columns + the __sink__ partition value)
    instead of a second parse over raw text, and the counters can
    never disagree with what was durably written (the reference's
    flusher self-monitor counts shipped rows). Values must equal
    pipeline_metrics_single_pass."""
    import shutil
    import tempfile

    p = tp.TranscriptPipeline()
    routed = p.run_single_pass(_transcripts(spark, sf_dir))
    path = tempfile.mkdtemp(prefix="lc_routed_snapshot_")
    try:
        p.write_routed(routed, path)
        out = p.metrics_from_snapshot(spark, path).select(
            "conv_prefix", "ts_hour", "error_class", "n_rows", "n_bytes",
            "sink",
        )
        out = out.localCheckpoint()  # materialize before the dir vanishes
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def q_exclusive_tagged_route(spark, sf_dir):
    """Single-pass router: first matching route tags the row (the
    partitionBy-write strategy for disjoint sinks)."""
    p = tp.TranscriptPipeline()
    enriched = p.enrich(p.parse(_transcripts(spark, sf_dir)))
    tagged = p.router.route_exclusive_tagged(enriched)
    return tagged.select("conv_id", "turn_idx", F.col("__sink__").alias("sink"))


def q_logstore_router(spark, sf_dir):
    from loongcollector_spark.routing import LogstoreRouter

    router = LogstoreRouter(
        source_key="text",
        router_regex=[r"^\{", r"\|ERROR\|"],
        router_logstore=["json_store", "error_store"],
        default_logstore="default_store",
    )
    out = router(_transcripts(spark, sf_dir))
    return out.select("conv_id", "turn_idx", F.col("__logstore__").alias("logstore"))


def q_salted_agg(spark, sf_dir):
    """Skew-safe two-phase salted aggregation == plain group aggregation."""
    from loongcollector_spark.aggregators import salted_agg

    t = _transcripts(spark, sf_dir)
    out = salted_agg(
        t, ["conv_id"],
        {"n_rows": "count", "max_turn": "max:turn_idx"},
        salt_buckets=8,
    )
    return out.select("conv_id", "n_rows", F.col("max_turn").cast("int").alias("max_turn"))


def _with_synthetic_contents(t):
    """Deterministic ordered contents array for the signal-router
    aggregators: n = 1 + (turn_idx*7 + len(text)) % 23 kv structs, so all
    three OTel count classes (≤5 / 6..18 / ≥19) occur."""
    n = F.lit(1) + F.pmod(
        F.col("turn_idx").cast("long") * 7 + F.length("text"), F.lit(23)
    )
    contents = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.concat(F.lit("k"), i.cast("string")).alias("key"),
            F.lit("v").alias("value"),
        ),
    )
    return t.withColumn("contents", contents)


def q_otel_aggregator_route(spark, sf_dir):
    """aggregator_opentelemetry: content-count signal routing + bounded
    LogGroup chunks (plugins/aggregator/opentelemetry/
    aggregator_opentelemetry.go:92-106)."""
    from loongcollector_spark.aggregators import (
        metadata_group_bounded,
        otel_signal_route,
    )

    t = _with_synthetic_contents(_transcripts(spark, sf_dir))
    routed = otel_signal_route(t)
    routed = routed.withColumn(
        "__ok__", F.struct(F.col("conv_id"), F.col("turn_idx"))
    )
    chunked = metadata_group_bounded(
        routed, ["logstore"], "__ok__", max_events=256
    )
    return chunked.select("conv_id", "turn_idx", "logstore", "group_seq")


def q_skywalking_aggregator_route(spark, sf_dir):
    """aggregator_skywalking: first-content-key signal routing
    (plugins/aggregator/skywalking/aggregator_skywalking.go:92-111)."""
    from loongcollector_spark.aggregators import skywalking_signal_route

    t = _transcripts(spark, sf_dir)
    first_key = F.element_at(
        F.array(
            F.lit("__name__"), F.lit("links"), F.lit("otlp.name"), F.lit("custom")
        ),
        (F.pmod(F.col("turn_idx"), F.lit(4)) + 1).cast("int"),
    )
    t = t.withColumn(
        "contents",
        F.array(
            F.struct(first_key.alias("key"), F.lit("v").alias("value")),
            F.struct(F.lit("extra").alias("key"), F.lit("e").alias("value")),
        ),
    )
    out = skywalking_signal_route(t)
    return out.select(
        "conv_id", "turn_idx", "logstore",
        F.col("__sw_unrecognized__").alias("unrecognized"),
    )


def q_embedding_pair_sim(spark, sf_dir):
    """Exact embedding-cosine pair similarity (the near-dup verify math
    of functions/similarity.py) — top-200 pairs, ranked on the ROUNDED
    value with id tiebreaks for cross-engine float stability."""
    from pyspark.sql import Window as W

    from loongcollector_spark.functions.similarity import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim_r", F.round(cosine(F.col("va"), F.col("vb")), 6))
    )
    w = W.orderBy(F.desc("sim_r"), F.asc("id_a"), F.asc("id_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 200)
        .select("id_a", "id_b", "sim_r", "rank")
    )


def q_text_repetition(spark, sf_dir):
    """Gopher repetition family: dup-line fractions + top-bigram char
    coverage, distributed explode+groupBy (functions/textclean.py)."""
    from loongcollector_spark.functions.textclean import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_signals(docs, ngram_n=2).select(
        "doc_id", "dup_line_frac", "dup_line_char_frac", "top_ngram_char_frac"
    )


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: docs sharing any 5-gram with the
    deterministic benchmark slice (doc_id % 97 == 0) are flagged."""
    from loongcollector_spark.functions.textclean import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    out = decontaminate(docs, bench, n=5)
    return out.select(
        "doc_id", F.col("n_hits").cast("int").alias("n_hits"), "contaminated"
    )


def q_spl_let_multiparse(spark, sf_dir):
    """SPL .let/$ref program (SplUnittest.cpp TestMultiParse shape):
    bindings, $ref pipeline source, parse-regexp alias extraction,
    Presto-expression translation (length), projection."""
    from loongcollector_spark.functions.spl import run_spl

    t = _transcripts(spark, sf_dir)
    outs = run_spl(
        t,
        ".let src = * | where role = 'assistant' OR role = 'tool';\n"
        ".let rex = $src | parse-regexp text, '^(\\w+)\t(\\w+)' as f1, f2;\n"
        "$rex | where f1 != '' | extend fl = length(f1) "
        "| project conv_id, turn_idx, f1, f2, fl;",
    )
    return outs[0]


def q_spl_parse_csv_pipeline(spark, sf_dir):
    """SPL parse-csv (custom delimiter) + where + project-rename +
    project-away + extend over the delimiter-grammar rows."""
    from loongcollector_spark.functions.spl import run_spl

    t = _transcripts(spark, sf_dir).filter(F.col("text").rlike(PAT_DELIM))
    return run_spl(
        t,
        "* | parse-csv -delim='|' text as ip, method, status "
        "| where status = '200' "
        "| project-rename client=ip "
        "| project-away text, role, tool, ts "
        "| extend m = lower(method)",
    )[0]


def q_grok_apache_combined(spark, sf_dir):
    """COMBINEDAPACHELOG through the full grok library (all 78 standard
    patterns now in DEFAULT_PATTERNS, processor_grok_default_patterns.go
    parity): apache lines are synthesized from transcript columns, so
    the oracle recomputes every extracted field in closed form — a
    value anchor for the compile + JVM extraction path."""
    from loongcollector_spark.operators.grok import Grok

    t = _transcripts(spark, sf_dir)
    line = F.format_string(
        '10.0.%d.7 - user%d [10/Oct/2000:13:55:36 -0700] '
        '"GET /c/%s HTTP/1.0" %d %d "-" "agent/%d"',
        F.pmod(F.col("turn_idx"), F.lit(200)),
        F.pmod(F.col("turn_idx"), F.lit(50)),
        F.col("conv_id"),
        (F.pmod(F.col("turn_idx"), F.lit(3)) * 100 + 200),
        F.octet_length("text"),
        F.pmod(F.col("turn_idx"), F.lit(9)),
    )
    df = t.select("conv_id", "turn_idx", line.alias("apache_line"))
    out = Grok(
        Match=["%{COMBINEDAPACHELOG}"], SourceKey="apache_line",
        FullMatch=True,
    )(df)
    return out.select(
        "conv_id", "turn_idx", "clientip", "auth", "request",
        "httpversion", "response", "bytes", "agent",
    )


def q_parse_regex_go(spark, sf_dir):
    """The GO regex parser plugin (processor_regex, regex.go:105-129):
    unanchored SEARCH extraction, keys from capture groups, source
    NULLed on success / kept on parse failure."""
    from loongcollector_spark.operators.parsers import ProcessorRegexGo

    t = _transcripts(spark, sf_dir)
    out = ProcessorRegexGo(
        Regex=r"user:(\w+)\tetype:(\w+)",
        Keys=["u_field", "e_field"],
        SourceKey="text",
    )(t)
    return out.select(
        "conv_id", "turn_idx", "u_field", "e_field",
        F.col("text").alias("kept_source"),
    )


def q_embedding_near_dup_anchor(spark, sf_dir):
    """cosine_near_dup_pairs exactness anchor: with n_planes=0 every
    vector lands in ONE signature bucket, so the production LSH
    bucket-self-join + cap + exact-cosine verify degenerates to the
    exact all-pairs result, which DuckDB recomputes in closed form.
    (Bucketed-recall behavior with n_planes>0 is pytest-covered; this
    value-anchors the join/verify math end-to-end.) Filter on the
    ROUNDED similarity for cross-engine float stability."""
    from loongcollector_spark.functions.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        # double-precision cosine on both engines → identical rounding
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = cosine_near_dup_pairs(emb, dim=64, threshold=0.35, n_planes=0)
    return (
        out.select(
            "id_a", "id_b", F.round(F.col("cosine_sim"), 5).alias("sim_r")
        )
        .filter(F.col("sim_r") >= 0.4)
    )


def q_lsh_ann_full_probe(spark, sf_dir):
    """lsh_ann_topk exactness anchor: with n_planes=0 the whole corpus
    and every query share ONE signature bucket, so the production
    bucket-join + cap + exact cosine re-rank degenerates to exact
    top-k — recomputed in closed form by DuckDB. Double-precision
    vectors on both engines → identical ordering."""
    from loongcollector_spark.functions.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = lsh_ann_topk(emb, qs, dim=64, k=10, n_planes=0)
    return out.select(
        "qid", "nid", F.round(F.col("cosine_sim"), 5).alias("sim_r"), "rank"
    )


def q_ivf_full_probe(spark, sf_dir):
    """ivf_topk exactness anchor: probing ALL cells (n_probe =
    n_clusters) searches the whole corpus regardless of the KMeans
    partition, so the production quantize + probe + re-rank path yields
    exact top-k — the same closed-form oracle as the LSH anchor.
    (Partial-probe recall stays rows-only/pytest — the clustering is
    engine-specific.)"""
    from loongcollector_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = ivf_topk(emb, qs, k=10, n_clusters=8, n_probe=8)
    return out.select(
        "qid", "nid", F.round(F.col("cosine_sim"), 5).alias("sim_r"), "rank"
    )


def q_multimodal_decode(spark, sf_dir):
    """Value-anchors the REAL media decoders (decode_bmp / decode_wav /
    decode_png, multimodal.py) end-to-end: synthesize a valid
    BMP/WAV/PNG payload per doc_id (constant color / amplitude, so the
    decoded float32 means integerize exactly), run the production
    mapInPandas decode (`extract_features`, deterministic_fake=False →
    any dispatch miss raises), and emit integer stats the SQL oracle
    reproduces in closed form. s1..s5: image → (w, h, r, g, b) from the
    decoded pixels; audio → (n_samples, rate, |amp|, channels, 0) from
    the decoded waveform."""
    from loongcollector_spark.functions import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    media = multimodal.synth_doc_media(docs)
    feats = multimodal.extract_features(media, deterministic_fake=False)
    is_audio = F.col("media_type") == "audio/wav"

    def e(i):
        return F.element_at(F.col("feature"), i).cast("double")

    def r0(c):
        return F.round(c, 0).cast("long")

    return feats.select(
        "media_id",
        "media_type",
        "decode_ok",
        F.when(is_audio, r0(e(1) * 60 * 8000)).otherwise(r0(e(1) * 4096)).alias("s1"),
        F.when(is_audio, r0(e(2) * 48000)).otherwise(r0(e(2) * 4096)).alias("s2"),
        F.when(is_audio, r0(e(5) * 32768)).otherwise(r0(e(3) * 255)).alias("s3"),
        F.when(is_audio, r0(e(7) * 8)).otherwise(r0(e(4) * 255)).alias("s4"),
        F.when(is_audio, F.lit(0).cast("long")).otherwise(r0(e(5) * 255)).alias("s5"),
    )


# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict ORDER matters: the driver runs only the first 50 entries.
    # r5 rotation (VERDICT r4 #7): (1) round-5 new queries (deterministic
    # sampling trio, SPL dialect) + every query whose code path round 5
    # touched (SQL FSM engine + chunked FSM rewrite, fused multicast
    # metrics, start-only null fix, minhash family), (2) the 33 rows
    # whose last driver check is r3 (oldest first — they have local
    # MATCHes but the driver artifact is the durable record), (3) oldest
    # r4-window rows to fill the 50, (4) r4-green remainder that safely
    # ages out.
    return {
        # -- round-5 new / touched --
        "dedup_minhash_lsh_md5": q_minhash_lsh_md5,
        "dedup_simhash_md5": q_simhash_md5,
        "sample_hash_bernoulli": q_sample_hash_bernoulli,
        "sample_domain_mix": q_sample_domain_mix,
        "sample_domain_resample": q_sample_domain_resample,
        "sample_hash_split": q_sample_hash_split,
        "sample_stratified_quota": q_sample_stratified_quota,
        "pack_sequences_budget": q_pack_sequences,
        "context_window_stats": q_context_window_stats,
        "sessionize_gap": q_sessionize_gap,
        "agent_loop_runs": q_agent_loop_runs,
        "conversation_rollup": q_conversation_rollup,
        "turn_order_audit": q_turn_order_audit,
        "role_transition_matrix": q_role_transition_matrix,
        "conversation_fingerprint": q_conversation_fingerprint,
        "conversation_fingerprint_xor": q_conversation_fingerprint_xor,
        "conversation_gate": q_conversation_gate,
        "training_export_turns": q_training_export,
        "lm_bigram_ppl": q_lm_bigram_ppl,
        "lm_perplexity_filter": q_lm_perplexity_filter,
        "tfidf_topk_keywords": q_tfidf_topk,
        "token_window_chunks": q_token_chunks,
        "turn_repetition_loops": q_turn_repetition,
        "ann_quantized_int8": q_quantized_ann,
        "dedup_incremental_ledger": q_incremental_dedup,
        "domain_token_share": q_domain_token_share,
        "boilerplate_ngram_score": q_boilerplate_ngrams,
        "key_skew_stats": q_key_skew,
        "pii_scan_stats": q_pii_scan,
        "json_key_drift": q_json_key_drift,
        "sliding_window_counts": q_sliding_window_counts,
        "pipeline_metrics_from_snapshot": q_metrics_from_snapshot,
        "conversation_quality_filter": q_conversation_quality,
        "tool_usage_stats": q_tool_usage_stats,
        "merge_multiline_auto_chunked": q_merge_multiline_auto_chunked,
        "spl_scalar_dialect": q_spl_scalar_dialect,
        "merge_multiline_conversation": q_merge_conversation,
        "merge_multiline_skew_chunked": q_merge_multiline_skew_chunked,
        "merge_multiline_continue_end": q_merge_multiline_continue_end,
        "dedup_minhash_lsh": q_minhash_lsh,
        "spl_where_extend_project": q_spl_pipeline,
        "spl_let_multiparse": q_spl_let_multiparse,
        "spl_parse_csv_pipeline": q_spl_parse_csv_pipeline,
        # -- last driver check r3: re-cover (oldest first) --
        "route_sink_errors": _q_sink("sink_errors"),
        "route_sink_all_multicast": _q_sink("sink_all"),
        "pipeline_sink_metrics": q_sink_metrics,
        # r5-continuation touched code: the norm-hoisting change in
        # similarity.py — these four cover every hoisted join site
        # (brute force, LSH bucket, IVF probe/rerank, near-dup self-join)
        "similarity_cosine_topk": q_cosine_topk,
        "lsh_ann_full_probe": q_lsh_ann_full_probe,
        "ivf_ann_recall": q_ivf_ann_recall,
        "embedding_near_dup_anchor": q_embedding_near_dup_anchor,
        "droplastkey_times": q_droplastkey_times,
        "encrypt_roundtrip": q_encrypt_roundtrip,
        "json_expand_flatten": q_json_expand_map,
        "logstore_router_regex": q_logstore_router,
        "pipeline_metrics_single_pass": q_sink_metrics,
        "prom_parse_relabel": q_prom_parse_relabel,
        "route_exclusive_tagged": q_exclusive_tagged_route,
        "route_multicast_exploded": q_multicast_exploded,
        "salted_agg_skew": q_salted_agg,
        "otel_aggregator_route": q_otel_aggregator_route,
        "skywalking_aggregator_route": q_skywalking_aggregator_route,
        "text_repetition_signals": q_text_repetition,
        "decontaminate_5gram": q_decontaminate,
        "grok_apache_combined": q_grok_apache_combined,
        "parse_regex_go_plugin": q_parse_regex_go,
        "split_char_fields": q_split_char,
        "string_replace_const": q_string_replace,
        "appender_template": q_appender,
        "fields_with_condition_case": q_fields_with_condition,
        "base64_roundtrip": q_base64_roundtrip,
        "anchor_extract": q_anchor,
        "pack_json": q_pack_json,
        "log_to_metric_reshape": q_log_to_metric,
        "filter_key_regex_tag": q_filter_key_regex_tag,
        "grok_compiled_dispatch": q_grok_delim,
        "desensitize_regex": q_desensitize_regex,
        "dict_map_fill_missing": q_dict_map_fill,
        "dict_map_inplace": q_dict_map_inplace,
        "filter_include_exclude": q_filter_include_exclude,
        "enrich_dict_map_broadcast": q_enriched,
        # -- oldest r4-window rows (fill the 50) --
        "timestamp_strptime": q_timestamp_strptime,
        "csv_expand_others": q_csv_expand,
        "parse_regex_native": q_parse_regex,
        "parse_regex_keepfail_matrix": q_parse_regex_keepfail,
        "parse_json_native": q_parse_json,
        "parse_delimiter_native": q_parse_delimiter,
        "parse_apsara_native": q_parse_apsara,
        # -- r4-green remainder (ages out of the 50-window) --
        "parse_kv": q_parse_kv,
        "filter_condition_exp": q_filter_condition_exp,
        "timestamp_filter": q_timestamp_filter,
        "rate_limit_windowed": q_rate_limit,
        "md5_field": q_md5_field,
        "pick_key_projection": q_pick_key,
        "shardhash_distribution": q_shardhash,
        "doc_token_stats": q_doc_token_stats,
        "text_lang_id": q_lang_id,
        "text_quality_signals": q_quality_signals,
        "text_token_counts": q_token_counts,
        "doc_fingerprint64": q_doc_fingerprint,
        "dedup_word_jaccard_pairs": q_word_jaccard_pairs,
        "range_lookup_geoip": q_range_lookup,
        "otel_log_reshape": q_otel_reshape,
        "otel_log_parse": q_otel_log_parse,
        "otel_metric_reshape": q_otel_metric_reshape,
        "otel_trace_reshape": q_otel_trace_reshape,
        "parse_from_pb": q_parse_from_pb,
        "text_gopher_quality": q_text_gopher_quality,
        "transcripts": q_transcripts,
        "parse_grammar_dispatch": q_parse_dispatch,
        "route_sink_model": _q_sink("sink_model"),
        "ivf_ann_topk": q_ivf_ann,
        "split_log_string_explode": q_split_explode,
        "parse_container_log": q_parse_container_log,
        "ivf_full_probe": q_ivf_full_probe,
        "embedding_pair_sim_topk": q_embedding_pair_sim,
        "dedup_clusters_cc": q_dedup_clusters,
        "exact_dedup": q_exact_dedup,
        "multimodal_decode_stats": q_multimodal_decode,
        "streaming_parse_enrich": q_streaming_parse_enrich,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect)

def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["transcripts"] = _T + " SELECT * FROM transcripts"

    sql["parse_grammar_dispatch"] = (
        tp.oracle_enriched_sql()
        + """
SELECT conv_id, turn_idx, grammar, parsed_user, etype, status, level,
       k_val, error_class
FROM enriched"""
    )

    sql["enrich_dict_map_broadcast"] = (
        tp.oracle_enriched_sql()
        + """
SELECT conv_id, turn_idx, role, tool, tool_class, role_class, error_class
FROM enriched"""
    )

    sql["route_sink_model"] = tp.oracle_sink_rows_sql("sink_model")
    sql["route_sink_errors"] = tp.oracle_sink_rows_sql("sink_errors")
    sql["route_sink_all_multicast"] = tp.oracle_sink_rows_sql("sink_all")
    sql["pipeline_sink_metrics"] = tp.oracle_metrics_sql()

    sql["parse_regex_native"] = _T + f"""
SELECT conv_id, turn_idx,
       regexp_extract(text, '{PAT_REGEX}', 1) AS user_key,
       regexp_extract(text, '{PAT_REGEX}', 2) AS etype,
       regexp_extract(text, '{PAT_REGEX}', 3) AS k_val
FROM transcripts WHERE regexp_matches(text, '{PAT_REGEX}')"""

    sql["parse_regex_keepfail_matrix"] = _T + f"""
SELECT conv_id, turn_idx,
       CASE WHEN regexp_matches(text, '{PAT_REGEX}')
            THEN regexp_extract(text, '{PAT_REGEX}', 1) END AS user_key,
       CASE WHEN regexp_matches(text, '{PAT_REGEX}')
            THEN regexp_extract(text, '{PAT_REGEX}', 2) END AS etype,
       CASE WHEN regexp_matches(text, '{PAT_REGEX}')
            THEN regexp_extract(text, '{PAT_REGEX}', 3) END AS k_val,
       CASE WHEN NOT regexp_matches(text, '{PAT_REGEX}') THEN text END AS rawLog,
       CASE WHEN NOT regexp_matches(text, '{PAT_REGEX}') THEN text END AS raw_log_legacy
FROM transcripts"""

    sql["parse_json_native"] = _T + """
SELECT conv_id, turn_idx,
       coalesce(json_extract_string(text, '$.user'), '') AS "user",
       coalesce(json_extract_string(text, '$.etype'), '') AS etype,
       coalesce(json_extract_string(text, '$.k'), '') AS k
FROM transcripts
WHERE json_valid(text) AND text LIKE '{%'"""

    sql["parse_delimiter_native"] = _T + f"""
SELECT conv_id, turn_idx,
       string_split(text, '|')[1] AS ip,
       string_split(text, '|')[2] AS method,
       string_split(text, '|')[3] AS status_code
FROM transcripts WHERE regexp_matches(text, '{PAT_DELIM}')"""

    sql["parse_apsara_native"] = _T + f"""
SELECT conv_id, turn_idx,
       regexp_extract(text, '{PAT_APSARA}', 2) AS "__LEVEL__",
       regexp_extract(text, '{PAT_APSARA}', 3) AS "__THREAD__",
       regexp_extract(text, '{PAT_APSARA}', 4) AS "__FILE__",
       regexp_extract(text, '{PAT_APSARA}', 5) AS "__LINE__",
       CAST(CAST(regexp_extract(text, '{PAT_APSARA}', 1) AS BIGINT) * 1000000 AS VARCHAR) AS microtime,
       regexp_extract(text, 'user:(u\\d+)', 1) AS kv_user,
       regexp_extract(text, 'etype:([a-z]+)', 1) AS kv_etype
FROM transcripts WHERE regexp_matches(text, '{PAT_APSARA}')"""

    sql["parse_kv"] = _T + f"""
SELECT conv_id, turn_idx,
       regexp_extract(text, 'user=([^&]*)', 1) AS "user",
       regexp_extract(text, 'etype=([^&]*)', 1) AS etype,
       regexp_extract(text, 'k=([^&]*)', 1) AS k
FROM transcripts WHERE regexp_matches(text, '{PAT_KV}')"""

    sql["filter_condition_exp"] = _T + """
SELECT conv_id, turn_idx, role, tool
FROM transcripts
WHERE regexp_matches(role, '^(?:user|assistant)$')
  AND NOT regexp_matches(tool, '^(?:none)$')"""

    sql["filter_include_exclude"] = _T + """
SELECT conv_id, turn_idx, role, tool
FROM transcripts
WHERE regexp_matches(role, 'tool|assistant')
  AND NOT regexp_matches(tool, 'db')"""

    sql["timestamp_filter"] = _T + """
SELECT conv_id, turn_idx, ts
FROM transcripts
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-10 00:00:00'"""

    sql["dict_map_fill_missing"] = _T + """
SELECT conv_id, turn_idx, tool,
       CASE WHEN turn_idx % 2 = 0 THEN 'preset'
            ELSE CASE tool WHEN 'search' THEN 'retrieval'
                 WHEN 'code' THEN 'execution' WHEN 'browser' THEN 'web'
                 WHEN 'db' THEN 'storage' END
       END AS tool_class
FROM transcripts"""

    sql["dict_map_inplace"] = _T + """
SELECT conv_id, turn_idx,
       CASE role WHEN 'user' THEN 'human' WHEN 'assistant' THEN 'model'
            WHEN 'system' THEN 'meta' WHEN 'tool' THEN 'machine'
            ELSE role END AS role
FROM transcripts"""

    sql["rate_limit_windowed"] = _T + """
SELECT conv_id, turn_idx, role, ts FROM (
  SELECT *, row_number() OVER (
      PARTITION BY role, date_trunc('hour', ts)
      ORDER BY ts, conv_id, turn_idx) AS rn
  FROM transcripts
) WHERE rn <= 3"""

    sql["desensitize_regex"] = _T + r"""
SELECT conv_id, turn_idx,
       regexp_replace(text, '(user=)(?:u\d+)', '\1***', 'g') AS masked_text
FROM transcripts"""

    sql["md5_field"] = _T + """
SELECT conv_id, turn_idx, md5(text) AS text_md5 FROM transcripts"""

    sql["pack_json"] = _T + """
SELECT conv_id, turn_idx,
       concat('{"role":"', role, '","tool":"', tool, '"}') AS packed
FROM transcripts"""

    sql["pick_key_projection"] = _T + """
SELECT conv_id, turn_idx, role FROM transcripts"""

    sql["shardhash_distribution"] = _T + """
SELECT conv_id, count(*) AS n_rows FROM transcripts GROUP BY conv_id"""

    sql["exact_dedup"] = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_dupes
FROM documents GROUP BY 1"""

    # -- md5-family MinHash-LSH: the WHOLE pipeline recomputed in DuckDB
    sql["dedup_minhash_lsh_md5"] = r"""
WITH toks AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
      trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), '\s+')) AS sh
  FROM documents WHERE doc_id < 200
), sigm AS (
  SELECT doc_id, m.i AS member,
         min(substring(md5(s.s || '#' || m.i), 1, 16)) AS mh
  FROM toks, UNNEST(sh) AS s(s), UNNEST(generate_series(0, 15)) AS m(i)
  GROUP BY doc_id, m.i
), bandv AS (
  SELECT doc_id, member // 4 AS band,
         string_agg(mh, '|' ORDER BY member) AS bv
  FROM sigm GROUP BY doc_id, member // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandv a JOIN bandv b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard_sim FROM (
  SELECT id_a, id_b,
         round(len(list_intersect(ta.sh, tb.sh))
               / CAST(len(list_distinct(list_concat(ta.sh, tb.sh)))
                      AS DOUBLE), 6) AS jaccard_sim
  FROM cand
  JOIN toks ta ON ta.doc_id = id_a
  JOIN toks tb ON tb.doc_id = id_b
) WHERE jaccard_sim >= 0.5"""

    # -- md5-family SimHash: bit majority, block banding, Hamming verify,
    #    all recomputed from scratch (hex-digit bit tests, no int casts)
    sql["dedup_simhash_md5"] = r"""
WITH toks AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(
      trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), '\s+')) AS sh
  FROM documents WHERE doc_id < 200
), th AS (
  SELECT doc_id, md5(s.s) AS h FROM toks, UNNEST(sh) AS s(s)
), bitv AS (
  SELECT doc_id, m.b,
         CASE WHEN 2 * count(*) FILTER (WHERE strpos(
                ['89abcdef','4567cdef','2367abef','13579bdf'][m.b % 4 + 1],
                substring(h, m.b // 4 + 1, 1)) > 0) > count(*)
              THEN '1' ELSE '0' END AS bit
  FROM th, UNNEST(generate_series(0, 63)) AS m(b)
  GROUP BY doc_id, m.b
), bits AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY b) AS bitstr
  FROM bitv GROUP BY doc_id
), blk AS (
  SELECT doc_id, bitstr, k.k AS blk, substring(bitstr, k.k*16 + 1, 16) AS key
  FROM bits, UNNEST(generate_series(0, 3)) AS k(k)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.bitstr AS ba, b.bitstr AS bb
  FROM blk a JOIN blk b
    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
         CAST(len(list_filter(generate_series(1, 64),
              i -> substring(ba, i, 1) <> substring(bb, i, 1)))
              AS INTEGER) AS hamming
  FROM cand
) WHERE hamming <= 3"""

    # -- deterministic sampling (md5 hex-prefix buckets agree across
    #    engines; hex strings compare like the integers they encode) ----
    sql["sample_hash_bernoulli"] = """
SELECT doc_id, lang, source FROM documents
WHERE substring(md5(cast(doc_id AS VARCHAR) || 's5'), 1, 8) < '40000000'"""

    sql["sample_hash_split"] = """
SELECT CASE
         WHEN substring(md5(cast(doc_id AS VARCHAR) || 'sp'), 1, 8)
              < 'cccccccc' THEN 'train'
         WHEN substring(md5(cast(doc_id AS VARCHAR) || 'sp'), 1, 8)
              < 'e6666666' THEN 'val'
         ELSE 'test'
       END AS split,
       lang,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2"""

    sql["pack_sequences_budget"] = r"""
WITH toks AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS t
  FROM documents
), ordered AS (
  SELECT source, doc_id, t,
         CAST(sum(t) OVER (
           PARTITION BY source
           ORDER BY substring(md5(cast(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS BIGINT) AS cum
  FROM toks WHERE t > 0
)
SELECT source, doc_id, u.bin_id,
       least(cum, (u.bin_id + 1) * 256)
         - greatest(cum - t, u.bin_id * 256) AS tokens_in_bin,
       (cum - 1) // 256 - (cum - t) // 256 + 1 AS n_bins_spanned,
       cum - t AS start_offset
FROM ordered,
     UNNEST(generate_series((cum - t) // 256, (cum - 1) // 256)) AS u(bin_id)"""

    sql["sessionize_gap"] = _T + """
, g AS (
  SELECT conv_id, turn_idx,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 86400
              THEN 1 ELSE 0 END AS nw
  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), s AS (
  SELECT conv_id, turn_idx,
         CAST(sum(nw) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS INT) AS session_idx
  FROM g
)
SELECT conv_id, turn_idx, session_idx,
       CAST(row_number() OVER (PARTITION BY conv_id, session_idx
                               ORDER BY turn_idx) - 1 AS INT)
           AS session_turn_idx
FROM s"""

    sql["agent_loop_runs"] = _T + """
, g AS (
  SELECT conv_id, turn_idx, role, tool,
         CASE WHEN lag(turn_idx) OVER w IS NULL THEN 1
              WHEN role IS DISTINCT FROM lag(role) OVER w
                OR tool IS DISTINCT FROM lag(tool) OVER w THEN 1
              ELSE 0 END AS nw
  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), r AS (
  SELECT *, sum(nw) OVER (PARTITION BY conv_id ORDER BY turn_idx)
            AS run_id
  FROM g
)
SELECT conv_id, role, tool,
       CAST(min(turn_idx) AS INT) AS run_start_turn,
       CAST(max(turn_idx) AS INT) AS run_end_turn,
       CAST(count(*) AS INT) AS run_len
FROM r GROUP BY conv_id, run_id, role, tool
HAVING count(*) >= 2"""

    sql["conversation_rollup"] = _T + r"""
, g AS (
  SELECT conv_id, turn_idx, role, text, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx))) AS BIGINT)
                   > 86400
              THEN 1 ELSE 0 END AS nw
  FROM transcripts
), s AS (
  SELECT *, sum(nw) OVER (PARTITION BY conv_id ORDER BY turn_idx)
            AS session_idx
  FROM g
)
SELECT conv_id,
       CAST(count(*) AS INT) AS n_turns,
       CAST(max(session_idx) + 1 AS INT) AS n_sessions,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS INT)
           AS n_assistant_turns,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]')))
            AS BIGINT) AS total_tokens,
       CAST(floor(epoch(max(ts))) AS BIGINT)
         - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_seconds
FROM s GROUP BY conv_id"""

    sql["turn_order_audit"] = _T + """
, g AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN ts < lag(ts) OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx, ts)
              THEN 1 ELSE 0 END AS inv
  FROM transcripts
)
SELECT conv_id,
       CAST(count(*) AS INT) AS n_turns,
       CAST(count(*) - count(DISTINCT turn_idx) AS INT) AS n_dup_turns,
       CAST(max(turn_idx) - min(turn_idx) + 1 - count(DISTINCT turn_idx)
            AS INT) AS n_gaps,
       CAST(sum(inv) AS INT) AS n_ts_inversions,
       min(turn_idx) = 0 AS base_ok,
       (count(*) = count(DISTINCT turn_idx)
        AND max(turn_idx) - min(turn_idx) + 1 = count(DISTINCT turn_idx)
        AND sum(inv) = 0 AND min(turn_idx) = 0) AS is_clean
FROM g GROUP BY conv_id"""

    sql["role_transition_matrix"] = _T + """
, g AS (
  SELECT role,
         coalesce(lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                  '<end>') AS next_role
  FROM transcripts
)
SELECT role, next_role, CAST(count(*) AS BIGINT) AS n_transitions
FROM g GROUP BY role, next_role"""

    sql["conversation_fingerprint"] = _T + """
, per AS (
  SELECT conv_id,
         md5(string_agg(role || chr(31) || text, chr(30)
                        ORDER BY turn_idx)) AS conv_digest,
         CAST(count(*) AS INT) AS n_turns
  FROM transcripts GROUP BY conv_id
)
SELECT conv_id, conv_digest, n_turns,
       CAST(count(*) OVER (PARTITION BY conv_digest) AS INT) AS n_copies,
       conv_id = min(conv_id) OVER (PARTITION BY conv_digest) AS keep
FROM per"""

    sql["conversation_fingerprint_xor"] = _T + """
, per AS (
  SELECT conv_id,
         bit_xor(('0x' || substr(md5(CAST(turn_idx AS VARCHAR) || chr(31)
                                     || role || chr(31) || text), 1, 15)
                 )::BIGINT) AS conv_digest_xor,
         CAST(count(*) AS INT) AS n_turns
  FROM transcripts GROUP BY conv_id
)
SELECT conv_id, conv_digest_xor, n_turns,
       CAST(count(*) OVER (PARTITION BY conv_digest_xor, n_turns) AS INT)
           AS n_copies,
       conv_id = min(conv_id) OVER (PARTITION BY conv_digest_xor, n_turns)
           AS keep
FROM per"""

    _GATE_CTE = """
, l AS (
  SELECT *, lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts)
                AS prev_ts
  FROM transcripts
), g AS (
  SELECT conv_id,
         CAST(count(*) AS INT) AS n_turns,
         CAST(count(*) - count(DISTINCT turn_idx) AS INT) AS n_dup_turns,
         CAST(max(turn_idx) - min(turn_idx) + 1 - count(DISTINCT turn_idx)
              AS INT) AS n_gaps,
         CAST(sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS INT)
             AS n_ts_inversions,
         min(turn_idx) = 0 AS base_ok,
         round(avg(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END), 6)
             AS assistant_frac,
         round(1 - count(DISTINCT text) / count(*), 6) AS dup_text_frac,
         bit_xor(('0x' || substr(md5(CAST(turn_idx AS VARCHAR) || chr(31)
                                     || role || chr(31) || text), 1, 15)
                 )::BIGINT) AS conv_digest_xor
  FROM l GROUP BY conv_id
), k AS (
  SELECT *,
         (n_dup_turns = 0 AND n_gaps = 0 AND n_ts_inversions = 0
          AND base_ok) AS is_clean,
         (n_turns BETWEEN 2 AND 64
          AND assistant_frac BETWEEN 0.1 AND 0.9
          AND dup_text_frac <= 0.5) AS quality_ok,
         conv_id = min(conv_id)
             OVER (PARTITION BY conv_digest_xor, n_turns) AS dedup_keep
  FROM g
), gate AS (
  SELECT *, (is_clean AND quality_ok AND dedup_keep) AS keep FROM k
)"""

    sql["conversation_gate"] = _T + _GATE_CTE + """
SELECT * FROM gate"""

    sql["training_export_turns"] = _T + _GATE_CTE + r"""
SELECT t.conv_id, t.turn_idx, t.role, t.tool,
       regexp_replace(t.text, '\d{4,}', '<num>', 'g') AS text_redacted,
       CAST(len(regexp_extract_all(
           regexp_replace(t.text, '\d{4,}', '<num>', 'g'),
           '[A-Za-z]+|\d+|[^\sA-Za-z\d]')) AS INT) AS n_tokens
FROM transcripts t
JOIN (SELECT conv_id FROM gate WHERE keep) e USING (conv_id)"""

    _LM_CTE = r"""
WITH docs AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         FROM docs),
arr AS (SELECT doc_id, list_prepend('<s>', list_append(t, '</s>')) AS a
        FROM toks),
stream AS (
  SELECT doc_id, a[i] AS w1, a[i+1] AS w2
  FROM arr, UNNEST(generate_series(1, len(a)-1)) AS u(i)
),
uni AS (SELECT tok, count(*) AS c
        FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
vocab AS (SELECT tok FROM uni WHERE c >= 2),
vv AS (SELECT count(*) + 2 AS v FROM vocab),
mapped AS (
  SELECT s.doc_id,
    CASE WHEN s.w1='<s>' THEN s.w1
         WHEN v1.tok IS NOT NULL THEN s.w1 ELSE '<unk>' END AS w1m,
    CASE WHEN s.w2='</s>' THEN s.w2
         WHEN v2.tok IS NOT NULL THEN s.w2 ELSE '<unk>' END AS w2m
  FROM stream s LEFT JOIN vocab v1 ON s.w1=v1.tok
                LEFT JOIN vocab v2 ON s.w2=v2.tok
),
cb AS (SELECT w1m, w2m, count(*) AS cb FROM mapped GROUP BY 1,2),
ch AS (SELECT w1m, CAST(sum(cb) AS BIGINT) AS ch FROM cb GROUP BY 1),
scored AS (
  SELECT m.doc_id, -ln((cb.cb + 0.5)/(ch.ch + 0.5*vv.v)) AS nll
  FROM mapped m JOIN cb USING (w1m,w2m) JOIN ch USING (w1m) CROSS JOIN vv
),
ppl AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
         round(avg(nll),6) AS avg_nll, round(exp(avg(nll)),6) AS pseudo_ppl
  FROM scored GROUP BY doc_id
)"""
    sql["lm_bigram_ppl"] = _LM_CTE + """
SELECT * FROM ppl"""
    sql["lm_perplexity_filter"] = _LM_CTE + """
SELECT *, pseudo_ppl <= 31.0 AS keep FROM ppl"""

    # Spark window assignment: a row at epoch e lands in every window
    # whose start k*slide satisfies k*slide <= e < k*slide + width
    # (epoch-1970-aligned): k in [floor((e - width)/slide) + 1,
    # floor(e/slide)] — width/slide = 2 windows here.
    sql["sliding_window_counts"] = _T + """
, win AS (
  SELECT role,
         TIMESTAMP '1970-01-01' + k * 10800 * INTERVAL 1 SECOND AS w_start
  FROM transcripts,
       UNNEST(generate_series(
           CAST(floor((epoch(ts) - 21600) / 10800) AS BIGINT) + 1,
           CAST(floor(epoch(ts) / 10800) AS BIGINT))) AS u(k)
)
SELECT w_start, w_start + INTERVAL 6 HOUR AS w_end, role,
       CAST(count(*) AS BIGINT) AS n_turns
FROM win GROUP BY w_start, role"""

    sql["pii_scan_stats"] = _T + r"""
, c AS (
  SELECT conv_id,
    len(regexp_extract_all(coalesce(text,''),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
    len(regexp_extract_all(coalesce(text,''),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
    len(regexp_extract_all(coalesce(text,''), '\d{8,}'))
        AS n_long_digit_run,
    len(regexp_extract_all(coalesce(text,''), '\+?\d[\d\- ]{8,}\d'))
        AS n_phone_ish
  FROM transcripts
)
SELECT conv_id,
  CAST(sum(n_email) AS INT) AS n_email,
  CAST(sum(n_ipv4) AS INT) AS n_ipv4,
  CAST(sum(n_long_digit_run) AS INT) AS n_long_digit_run,
  CAST(sum(n_phone_ish) AS INT) AS n_phone_ish,
  CAST(sum(n_email + n_ipv4 + n_long_digit_run + n_phone_ish) AS INT)
      AS n_pii_hits,
  CAST(sum(CASE WHEN n_email + n_ipv4 + n_long_digit_run + n_phone_ish > 0
                THEN 1 ELSE 0 END) AS INT) AS n_turns_with_pii,
  CAST(count(*) AS INT) AS n_turns
FROM c GROUP BY conv_id"""

    sql["json_key_drift"] = _T + """
, j AS (
  SELECT unnest(json_keys(text)) AS key,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket
  FROM transcripts WHERE text LIKE '{%' AND json_valid(text)
), per AS (
  SELECT key, bucket, CAST(count(*) AS BIGINT) AS n_rows
  FROM j GROUP BY 1, 2
)
SELECT key, bucket, n_rows,
       min(bucket) OVER (PARTITION BY key) AS first_seen,
       max(bucket) OVER (PARTITION BY key) AS last_seen,
       bucket = min(bucket) OVER (PARTITION BY key) AS is_new
FROM per"""

    sql["key_skew_stats"] = _T + """
, cnt AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM transcripts GROUP BY conv_id
), g AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY n_rows DESC, conv_id) AS INT)
             AS rank,
         round(n_rows / sum(n_rows) OVER (), 6) AS share,
         CAST(count(*) OVER () AS BIGINT) AS n_keys_total,
         round(max(n_rows) OVER ()
               / (sum(n_rows) OVER () / count(*) OVER ()), 6) AS skew_ratio
  FROM cnt
)
SELECT conv_id, n_rows, rank, share, n_keys_total, skew_ratio
FROM g WHERE rank <= 10"""

    sql["boilerplate_ngram_score"] = r"""
WITH docs AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
toks AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         FROM docs),
g0 AS (
  SELECT DISTINCT doc_id, array_to_string(t[i : i+4], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t)-4)) AS u(i)
  WHERE len(t) >= 5
),
g AS (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS gram_df FROM g0),
per AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
         CAST(sum(CASE WHEN gram_df >= 5 THEN 1 ELSE 0 END) AS INT)
             AS n_boilerplate_grams
  FROM g GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.n_boilerplate_grams, 0) AS n_boilerplate_grams,
       CASE WHEN coalesce(per.n_grams, 0) > 0
            THEN round(per.n_boilerplate_grams / per.n_grams, 6) END
           AS boilerplate_frac
FROM docs d LEFT JOIN per USING (doc_id)"""

    sql["dedup_incremental_ledger"] = r"""
WITH d AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
  FROM documents
),
seen AS (SELECT DISTINCT text_hash FROM d WHERE doc_id % 7 = 0),
fresh AS (
  SELECT d.* FROM d LEFT JOIN seen s USING (text_hash)
  WHERE s.text_hash IS NULL
)
SELECT text_hash, min(doc_id) AS keep_id,
       CAST(count(*) AS INT) AS n_dupes_in_batch
FROM fresh GROUP BY text_hash"""

    sql["domain_token_share"] = r"""
WITH per AS (
  SELECT source, CAST(count(*) AS INT) AS n_docs,
         CAST(sum(len(regexp_extract_all(coalesce(text,''),
             '[A-Za-z]+|\d+|[^\sA-Za-z\d]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
SELECT source, n_docs, n_tokens,
       CAST(row_number() OVER (ORDER BY n_tokens DESC, source) AS INT)
           AS rank,
       round(n_tokens / tot, 6) AS token_share,
       round(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
                                 ROWS UNBOUNDED PRECEDING) / tot, 6)
           AS cum_token_share
FROM per CROSS JOIN t"""

    sql["ann_quantized_int8"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), z AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
  FROM e
), qz AS (
  SELECT vec_id, v,
         CASE WHEN s > 0
              THEN list_transform(v, x -> CAST(round(x/s) AS DOUBLE))
              ELSE list_transform(v, x -> CAST(0 AS DOUBLE)) END AS q
  FROM z
), qs AS (SELECT vec_id AS qid, v AS qv, q AS qq FROM qz WHERE vec_id < 5),
cand0 AS (
  SELECT qs.qid, c.vec_id AS nid, c.v AS nv, qs.qv,
    CASE WHEN list_dot_product(c.q, c.q) > 0
              AND list_dot_product(qs.qq, qs.qq) > 0
         THEN list_dot_product(c.q, qs.qq)
              / (sqrt(list_dot_product(c.q, c.q))
                 * sqrt(list_dot_product(qs.qq, qs.qq)))
         ELSE 0.0 END AS approx
  FROM qz c, qs
), cand AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx DESC, nid)
           AS ar
  FROM cand0 QUALIFY ar <= 30
)
SELECT qid, nid, round(approx, 5) AS approx_r,
       round(list_cosine_similarity(nv, qv), 5) AS sim_r,
       CAST(row_number() OVER (
           PARTITION BY qid
           ORDER BY list_cosine_similarity(nv, qv) DESC, nid) AS INT) AS rank
FROM cand QUALIFY rank <= 10"""

    sql["turn_repetition_loops"] = _T + r"""
, tok AS (
  SELECT conv_id, turn_idx, ts, text,
         list_distinct(regexp_extract_all(lower(coalesce(text,'')),
                                          '[a-z0-9]+')) AS t
  FROM transcripts
), lagd AS (
  SELECT conv_id, text, t,
         lag(text) OVER w AS pt, lag(t) OVER w AS ptoks
  FROM tok WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
), j AS (
  SELECT conv_id,
    CASE WHEN ptoks IS NULL THEN NULL
         WHEN len(list_distinct(list_concat(t, ptoks))) = 0 THEN 1.0
         ELSE round(CAST(len(list_intersect(t, ptoks)) AS DOUBLE)
                    / len(list_distinct(list_concat(t, ptoks))), 6)
    END AS jac,
    CASE WHEN pt IS NOT NULL AND text = pt THEN 1 ELSE 0 END AS ex
  FROM lagd
)
SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
       CAST(sum(ex) AS INT) AS n_exact_repeats,
       CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS INT)
           AS n_near_repeats,
       round(avg(jac), 6) AS mean_prev_jaccard,
       max(jac) AS max_prev_jaccard,
       (count(*) > 1 AND
        sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) * 2 >= count(*) - 1)
           AS loop_suspect
FROM j GROUP BY conv_id"""

    sql["tfidf_topk_keywords"] = r"""
WITH docs AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM docs)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nn AS (SELECT count(*) AS n FROM docs),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * (ln((nn.n + 1.0)/(dfreq.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nn
),
ranked AS (
  SELECT *, row_number()
           OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, CAST(tf AS INT) AS tf,
       CAST(df AS INT) AS df, tfidf
FROM ranked WHERE rank <= 5"""

    sql["token_window_chunks"] = r"""
WITH docs AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         FROM docs),
chunks AS (
  SELECT doc_id, i AS chunk_idx, i*112 AS start_tok,
         t[i*112+1 : i*112+128] AS piece
  FROM toks,
       UNNEST(generate_series(0, CAST(ceil(len(t)/112.0) AS INT) - 1)) AS u(i)
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(start_tok AS INT) AS start_tok,
       CAST(len(piece) AS INT) AS n_tokens,
       array_to_string(piece, ' ') AS chunk_text
FROM chunks"""

    sql["conversation_quality_filter"] = _T + """
, q AS (
  SELECT conv_id,
         CAST(count(*) AS INT) AS n_turns,
         round(avg(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END), 6)
             AS assistant_frac,
         round(avg(CASE WHEN role = 'assistant' THEN length(text) END), 6)
             AS mean_assistant_chars,
         round(1 - count(DISTINCT text) / count(*), 6) AS dup_text_frac
  FROM transcripts GROUP BY conv_id
)
SELECT *,
       (n_turns BETWEEN 2 AND 64
        AND assistant_frac BETWEEN 0.1 AND 0.9
        AND dup_text_frac <= 0.5) AS keep
FROM q"""

    sql["tool_usage_stats"] = _T + """
, p AS (
  SELECT tool, conv_id,
         CASE WHEN max(turn_idx) OVER w > min(turn_idx) OVER w
              THEN CAST(turn_idx - min(turn_idx) OVER w AS DOUBLE)
                   / (max(turn_idx) OVER w - min(turn_idx) OVER w)
              ELSE 0.0 END AS rel
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id)
)
SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       round(avg(rel), 6) AS mean_rel_position
FROM p WHERE tool <> 'none' GROUP BY tool"""

    sql["context_window_stats"] = _T + r"""
, tok AS (
  SELECT conv_id, turn_idx, role,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]'))
              AS BIGINT) + 1 AS cost
  FROM transcripts
), c AS (
  SELECT conv_id, turn_idx, role, cost,
         CAST(sum(cost) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS BIGINT) AS cum
  FROM tok
), w AS (
  SELECT conv_id, turn_idx, role, cost, cum,
         count(*) OVER rng AS m,
         min(cum) OVER rng AS mincum
  FROM c
  WINDOW rng AS (PARTITION BY conv_id ORDER BY cum
                 RANGE BETWEEN 128 PRECEDING AND CURRENT ROW)
)
SELECT conv_id, turn_idx,
       CAST(m - 1 + CASE WHEN cum <= 128 THEN 1 ELSE 0 END AS INT) AS ctx_turns,
       CAST(cum - CASE WHEN cum <= 128 THEN 0 ELSE mincum END AS BIGINT)
           AS ctx_cost,
       CAST(turn_idx - (m - 1 + CASE WHEN cum <= 128 THEN 1 ELSE 0 END) + 1
            AS INT) AS ctx_start_turn,
       cost > 128 AS truncated
FROM w WHERE role = 'assistant'"""

    # thresholds = format(int(rate * 16**8), '08x') — exact, engine-free
    sql["sample_domain_mix"] = """
SELECT doc_id, source, lang FROM documents
WHERE substring(md5(cast(doc_id AS VARCHAR) || 'mix1'), 1, 8) <
  CASE source
    WHEN 'src0' THEN 'e6666666'
    WHEN 'src1' THEN '80000000'
    WHEN 'src2' THEN '19999999'
    ELSE '40000000'
  END"""

    # copies = floor(rate) + (bucket < frac(rate)); generate_series(1, 0)
    # is EMPTY in DuckDB (Spark needs the explicit empty-array guard)
    sql["sample_domain_resample"] = """
WITH d AS (
  SELECT doc_id, source,
         substring(md5(cast(doc_id AS VARCHAR) || 'rs1'), 1, 8) AS b
  FROM documents
), nc AS (
  SELECT doc_id, source,
         CASE source
           WHEN 'src0' THEN 2 + CASE WHEN b < '80000000' THEN 1 ELSE 0 END
           WHEN 'src1' THEN 0 + CASE WHEN b < '80000000' THEN 1 ELSE 0 END
           ELSE 1
         END AS n
  FROM d
)
SELECT doc_id, source, CAST(c.c AS INTEGER) AS copy_n
FROM nc, UNNEST(generate_series(1, n)) AS c(c)"""

    sql["sample_stratified_quota"] = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substring(md5(cast(doc_id AS VARCHAR) || 'q'), 1, 8),
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 100"""

    # -- text analysis -----------------------------------------------------
    from loongcollector_spark.functions.textstats import LANG_MARKERS

    def _marker_list(lang):
        return "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"

    langs = sorted(LANG_MARKERS)
    score_cols = ",\n       ".join(
        f"len(list_intersect(w, {_marker_list(lg)})) AS s_{lg}" for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs)
    sql["text_lang_id"] = rf"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
), scored AS (
  SELECT doc_id, {score_cols} FROM toks
)
SELECT doc_id,
       CASE WHEN {best} = 0 THEN 'und' {case} END AS lang_guess
FROM scored"""

    sql["text_quality_signals"] = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
       round(length(text)
             / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6)
           AS mean_token_len
FROM documents"""

    sql["text_token_counts"] = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]')) AS INT)
           AS bpe_ish_tokens
FROM documents"""

    # doc_fingerprint64, dedup_minhash_lsh: engine-specific xxhash64 →
    # rows-only (no oracle entry by design)

    sql["dedup_word_jaccard_pairs"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(
             trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), '\s+')) AS sh,
         floor(log2(greatest(length(text), 1))) AS lb
  FROM documents
  QUALIFY row_number() OVER (PARTITION BY lb ORDER BY doc_id) <= 500
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))
             / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)
           AS jaccard_sim
FROM toks a JOIN toks b ON a.lb = b.lb AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5"""

    sql["similarity_cosine_topk"] = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         round(CASE WHEN sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(q.qv, q.qv)) > 0
               THEN list_dot_product(e.v, q.qv)
                    / (sqrt(list_dot_product(e.v, e.v))
                       * sqrt(list_dot_product(q.qv, q.qv)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM emb e, q
)
SELECT qid, nid, cosine_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY cosine_sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= 3"""

    sql["spl_where_extend_project"] = _T + """
SELECT conv_id, turn_idx, upper(tool) AS tool_uc,
       CAST(strpos(text, '=') AS INT) AS eq_pos
FROM transcripts WHERE role = 'assistant'"""

    # Continue+End FSM reduces to segments: each maximal continue-run plus
    # its terminating non-continue row shares an exclusive running count of
    # non-continue rows; the segment merges iff its last row is a
    # non-continue end-match, else every row is an unmatched single.
    sql["merge_multiline_continue_end"] = _T + r""", flags AS (
  SELECT conv_id, turn_idx, text,
         COALESCE(regexp_matches(text, '^u[0-9]+\t'), FALSE) AS c,
         COALESCE(regexp_matches(text, '^\{'), FALSE) AS e
  FROM transcripts
), seg AS (
  SELECT *, COALESCE(SUM(CASE WHEN NOT c THEN 1 ELSE 0 END) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
  FROM flags
), segstat AS (
  SELECT conv_id, grp,
         string_agg(text, chr(10) ORDER BY turn_idx) AS joined,
         min(turn_idx) AS turn_start,
         CAST(count(*) AS BIGINT) AS n,
         arg_max(c, turn_idx) AS last_c,
         arg_max(e, turn_idx) AS last_e
  FROM seg GROUP BY conv_id, grp
)
SELECT conv_id, joined AS merged_text,
       CAST(turn_start AS INT) AS turn_start, n AS n_merged
FROM segstat WHERE (NOT last_c) AND last_e
UNION ALL
SELECT s.conv_id, s.text AS merged_text,
       CAST(s.turn_idx AS INT) AS turn_start, CAST(1 AS BIGINT) AS n_merged
FROM seg s JOIN segstat g ON s.conv_id = g.conv_id AND s.grp = g.grp
WHERE NOT ((NOT g.last_c) AND g.last_e)"""
    # identical closed form — the skew-chunked path must match it
    sql["merge_multiline_skew_chunked"] = sql["merge_multiline_continue_end"]
    # ... and the auto-routed path (probe picks plain at contract scale)
    sql["merge_multiline_auto_chunked"] = sql["merge_multiline_continue_end"]

    sql["spl_scalar_dialect"] = _T + """
SELECT conv_id, turn_idx,
       CAST(isodow(ts) AS INT) AS dw,
       upper(md5(text)) AS md,
       CAST(3 AS INT) AS js,
       CAST((CAST(turn_idx AS BIGINT) + 1024) // 8 AS BIGINT) AS sh,
       CAST(1534521600 AS BIGINT) AS fu
FROM transcripts WHERE role = 'assistant'"""

    sql["merge_multiline_conversation"] = _T + """
SELECT conv_id,
       string_agg(text, chr(10) ORDER BY turn_idx) AS conv_blob,
       count(*) AS n_merged
FROM transcripts GROUP BY conv_id"""

    from loongcollector_spark.operators.grok import (
        DEFAULT_PATTERNS,
        denormalize_pattern,
    )

    grok_rx, _ = denormalize_pattern(
        r"%{IPV4:client_ip}\|%{WORD:verb}\|%{INT:code}", DEFAULT_PATTERNS
    )
    grok_rx = f"^(?:{grok_rx})$"
    sql["grok_compiled_dispatch"] = _T + f"""
SELECT conv_id, turn_idx,
       regexp_extract(text, '{grok_rx}', 1) AS client_ip,
       regexp_extract(text, '{grok_rx}', 2) AS verb,
       regexp_extract(text, '{grok_rx}', 3) AS code
FROM transcripts WHERE regexp_matches(text, '{grok_rx}')"""

    sql["split_log_string_explode"] = _T + """
, parts AS (
  SELECT conv_id, turn_idx, regexp_split_to_array(text, chr(9)) AS arr
  FROM transcripts WHERE text LIKE '[%'
)
SELECT conv_id, turn_idx, CAST(u.i - 1 AS INT) AS part_idx, arr[u.i] AS part
FROM parts, UNNEST(generate_series(1, len(arr))) AS u(i)"""

    sql["log_to_metric_reshape"] = """
SELECT 'event_value' AS metric_name, event_type, value, ts
FROM events WHERE value IS NOT NULL"""

    sql["split_char_fields"] = _T + f"""
SELECT conv_id, turn_idx,
       string_split(text, '|')[1] AS f_ip,
       string_split(text, '|')[2] AS f_verb,
       string_split(text, '|')[3] AS _split_preserve_
FROM transcripts WHERE regexp_matches(text, '{PAT_DELIM}')"""

    sql["string_replace_const"] = _T + """
SELECT conv_id, turn_idx, replace(text, 'etype=', 'event:') AS replaced
FROM transcripts"""

    sql["appender_template"] = _T + """
SELECT conv_id, turn_idx, concat(role, '-suffixed') AS role_appended
FROM transcripts"""

    sql["fields_with_condition_case"] = _T + """
SELECT conv_id, turn_idx, role, tool,
       CASE WHEN role = 'tool' THEN 'high'
            WHEN tool LIKE 's%' THEN 'medium' END AS priority
FROM transcripts"""

    sql["base64_roundtrip"] = _T + """
SELECT conv_id, turn_idx,
       base64(CAST(text AS BLOB)) AS b64,
       text AS back
FROM transcripts"""

    sql["timestamp_strptime"] = _T + """
SELECT conv_id, turn_idx, date_trunc('second', ts) AS ts_parsed
FROM transcripts"""

    sql["csv_expand_others"] = _T + f"""
SELECT conv_id, turn_idx,
       string_split(text, '|')[1] AS c_ip,
       string_split(text, '|')[2] AS ex_1,
       string_split(text, '|')[3] AS ex_2
FROM transcripts WHERE regexp_matches(text, '{PAT_DELIM}')"""

    sql["anchor_extract"] = _T + r"""
SELECT conv_id, turn_idx,
       CASE WHEN regexp_matches(text, 'etype=[^&]*&')
            THEN regexp_extract(text, 'etype=([^&]*)&', 1) END AS anchored_etype
FROM transcripts WHERE text LIKE 'user=%'"""

    sql["json_expand_flatten"] = _T + """
SELECT conv_id, turn_idx,
       json_extract_string(text, '$.user') AS xp_user,
       json_extract_string(text, '$.k') AS xp_k
FROM transcripts WHERE text LIKE '{%'"""

    parts = []
    for sink, where in [
        ("sink_model", "role_class = 'model'"),
        ("sink_errors", "error_class <> ''"),
        ("sink_all", "TRUE"),
    ]:
        parts.append(
            f"SELECT conv_id, turn_idx, '{sink}' AS sink FROM enriched WHERE {where}"
        )
    sql["route_multicast_exploded"] = tp.oracle_enriched_sql() + " UNION ALL ".join(
        parts
    )

    sql["pipeline_metrics_single_pass"] = tp.oracle_metrics_sql()
    # snapshot read-back must reproduce the inline metrics exactly
    sql["pipeline_metrics_from_snapshot"] = tp.oracle_metrics_sql()

    sql["route_exclusive_tagged"] = (
        tp.oracle_enriched_sql()
        + """
SELECT conv_id, turn_idx,
       CASE WHEN role_class = 'model' THEN 'sink_model'
            WHEN error_class <> '' THEN 'sink_errors'
            ELSE 'sink_all' END AS sink
FROM enriched"""
    )

    sql["logstore_router_regex"] = _T + r"""
SELECT conv_id, turn_idx,
       CASE WHEN regexp_matches(text, '^\{') THEN 'json_store'
            WHEN regexp_matches(text, '\|ERROR\|') THEN 'error_store'
            ELSE 'default_store' END AS logstore
FROM transcripts"""

    sql["salted_agg_skew"] = _T + """
SELECT conv_id, count(*) AS n_rows, CAST(max(turn_idx) AS INT) AS max_turn
FROM transcripts GROUP BY conv_id"""

    sql["otel_aggregator_route"] = _T + """
, classed AS (
  SELECT conv_id, turn_idx,
         1 + ((turn_idx * 7 + length(text)) % 23) AS n
  FROM transcripts
), routed AS (
  SELECT conv_id, turn_idx,
         CASE WHEN n <= 5 THEN 'otlp-metrics'
              WHEN n >= 19 THEN 'otlp-traces'
              ELSE 'otlp-logs' END AS logstore
  FROM classed
)
SELECT conv_id, turn_idx, logstore,
       CAST(floor((row_number() OVER (PARTITION BY logstore
                     ORDER BY conv_id, turn_idx) - 1) / 256) AS INT)
         AS group_seq
FROM routed"""

    sql["skywalking_aggregator_route"] = _T + """
SELECT conv_id, turn_idx,
       CASE (turn_idx % 4)
            WHEN 0 THEN 'skywalking-metrics'
            WHEN 1 THEN 'skywalking-traces'
            ELSE 'skywalking-logs' END AS logstore,
       (turn_idx % 4) = 3 AS unrecognized
FROM transcripts"""

    sql["text_repetition_signals"] = r"""
WITH w AS (
  SELECT doc_id, length(text) AS nc,
         string_split(text, chr(10)) AS lines,
         regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
), lc AS (
  SELECT doc_id, any_value(nc) AS nc, line, count(*) AS cnt
  FROM (SELECT doc_id, nc, UNNEST(lines) AS line FROM w)
  GROUP BY doc_id, line
), ls AS (
  SELECT doc_id,
         round((CAST(sum(cnt) AS DOUBLE) - count(*)) / greatest(sum(cnt), 1), 6)
           AS dup_line_frac,
         round(CAST(sum((cnt - 1) * length(line)) AS DOUBLE)
               / greatest(any_value(nc), 1), 6) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
), g AS (
  SELECT doc_id, nc, array_to_string(ws[i:i+1], ' ') AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
), gc AS (
  SELECT doc_id, any_value(nc) AS nc, gram, count(*) AS cnt
  FROM g GROUP BY doc_id, gram
), gs AS (
  SELECT doc_id,
         round(CAST(max(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)
               AS DOUBLE) / greatest(any_value(nc), 1), 6)
           AS top_ngram_char_frac
  FROM gc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
       coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
       coalesce(gs.top_ngram_char_frac, 0.0) AS top_ngram_char_frac
FROM documents d
LEFT JOIN ls ON d.doc_id = ls.doc_id
LEFT JOIN gs ON d.doc_id = gs.doc_id"""

    sql["decontaminate_5gram"] = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
), bg AS (
  SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
  WHERE doc_id % 97 = 0
), dg AS (
  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
), h AS (
  SELECT doc_id, count(DISTINCT dg.gram) AS n_hits
  FROM dg JOIN bg ON dg.gram = bg.gram
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
       h.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id"""

    # Closed-form twin of the synthesized apache line — every grok field
    # recomputed from the source columns (grok returns strings).
    sql["grok_apache_combined"] = _T + """
SELECT conv_id, turn_idx,
       '10.0.' || (turn_idx % 200) || '.7' AS clientip,
       'user' || (turn_idx % 50) AS auth,
       '/c/' || conv_id AS request,
       '1.0' AS httpversion,
       CAST(200 + 100 * (turn_idx % 3) AS VARCHAR) AS response,
       CAST(octet_length(CAST(text AS BLOB)) AS VARCHAR) AS bytes,
       '"agent/' || (turn_idx % 9) || '"' AS agent
FROM transcripts"""

    sql["parse_regex_go_plugin"] = _T + r"""
SELECT conv_id, turn_idx,
       CASE WHEN regexp_matches(text, 'user:(\w+)	etype:(\w+)')
            THEN regexp_extract(text, 'user:(\w+)	etype:(\w+)', 1) END AS u_field,
       CASE WHEN regexp_matches(text, 'user:(\w+)	etype:(\w+)')
            THEN regexp_extract(text, 'user:(\w+)	etype:(\w+)', 2) END AS e_field,
       CASE WHEN NOT regexp_matches(text, 'user:(\w+)	etype:(\w+)')
            THEN text END AS kept_source
FROM transcripts"""

    sql["lsh_ann_full_probe"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5
), s AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(e.v, q.qv) AS sim
  FROM e, q
), r AS (
  SELECT qid, nid, round(sim, 5) AS sim_r,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rank
  FROM s
)
SELECT qid, nid, sim_r, rank FROM r WHERE rank <= 10"""

    # identical exact-top-k closed form — full probe searches everything
    sql["ivf_full_probe"] = sql["lsh_ann_full_probe"]

    # partial-probe IVF with the deterministic pivot quantizer: the
    # whole approximate search (pivot cells, assignment, n_probe prune,
    # re-rank) recomputed in closed form.
    _IVF_PIVOT_CTE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c AS (
  SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 25 = 0
), a0 AS (
  SELECT e.vec_id AS nid, e.v, c.cell,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell
         ) AS ar
  FROM e, c
), a AS (
  SELECT nid, v, cell FROM a0 WHERE ar = 1
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5
), p0 AS (
  SELECT q.qid, q.qv, c.cell,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cell
         ) AS pr
  FROM q, c
), p AS (
  SELECT qid, qv, cell FROM p0 WHERE pr <= 4
), s AS (
  SELECT p.qid, a.nid, list_cosine_similarity(a.v, p.qv) AS sim
  FROM p JOIN a USING (cell)
), approx AS (
  SELECT qid, nid, round(sim, 5) AS sim_r,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rank
  FROM s
  QUALIFY rank <= 10
)"""
    sql["ivf_ann_topk"] = (
        _IVF_PIVOT_CTE + "\nSELECT qid, nid, sim_r, rank FROM approx"
    )
    sql["ivf_ann_recall"] = _IVF_PIVOT_CTE + """
, exact AS (
  SELECT q.qid, e.vec_id AS nid,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id
         ) AS rank
  FROM e, q
  QUALIFY rank <= 10
), hits AS (
  SELECT exact.qid, count(*) AS hits
  FROM exact JOIN approx USING (qid, nid)
  GROUP BY exact.qid
)
SELECT q.qid,
       CAST(coalesce(hits.hits, 0) AS INT) AS hits,
       round(coalesce(hits.hits, 0) / 10.0, 3) AS recall_at_10
FROM q LEFT JOIN hits ON q.qid = hits.qid"""

    sql["embedding_near_dup_anchor"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.v, b.v), 5) AS sim_r
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim_r FROM p WHERE sim_r >= 0.4"""

    sql["spl_let_multiparse"] = _T + """
SELECT conv_id, turn_idx,
       regexp_extract(text, '^(\\w+)\t(\\w+)', 1) AS f1,
       regexp_extract(text, '^(\\w+)\t(\\w+)', 2) AS f2,
       CAST(length(regexp_extract(text, '^(\\w+)\t(\\w+)', 1)) AS INT) AS fl
FROM transcripts
WHERE (role = 'assistant' OR role = 'tool')
  AND regexp_extract(text, '^(\\w+)\t(\\w+)', 1) <> ''"""

    sql["spl_parse_csv_pipeline"] = _T + f"""
SELECT conv_id, turn_idx,
       string_split(text, '|')[1] AS client,
       string_split(text, '|')[2] AS method,
       string_split(text, '|')[3] AS status,
       lower(string_split(text, '|')[2]) AS m
FROM transcripts
WHERE regexp_matches(text, '{PAT_DELIM}')
  AND string_split(text, '|')[3] = '200'"""

    # Closed-form twin of synth_doc_media → extract_features: the media
    # params are pure id arithmetic, so the decoded stats are too.
    sql["multimodal_decode_stats"] = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/bmp'
                       WHEN 1 THEN 'audio/wav'
                       ELSE 'image/png' END AS media_type,
       TRUE AS decode_ok,
       CASE WHEN doc_id % 3 = 1 THEN 50 + doc_id % 100
            ELSE 4 + doc_id % 13 END AS s1,
       CASE WHEN doc_id % 3 = 1 THEN 8000
            ELSE 3 + doc_id % 7 END AS s2,
       CASE WHEN doc_id % 3 = 1 THEN abs((doc_id * 37) % 60001 - 30000)
            ELSE (doc_id * 3 + 7) % 256 END AS s3,
       CASE WHEN doc_id % 3 = 1 THEN 1
            ELSE (doc_id * 5 + 11) % 256 END AS s4,
       CASE WHEN doc_id % 3 = 1 THEN 0
            ELSE (doc_id * 7 + 13) % 256 END AS s5
FROM documents"""

    sql["embedding_pair_sim_topk"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.v, b.v), 6) AS sim_r
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim_r,
       CAST(row_number() OVER (ORDER BY sim_r DESC, id_a, id_b) AS INT)
         AS rank
FROM p
QUALIFY rank <= 200"""

    sql["streaming_parse_enrich"] = (
        tp.oracle_enriched_sql()
        + """
SELECT conv_id, turn_idx, role, tool, grammar, etype, error_class,
       tool_class, role_class
FROM enriched"""
    )

    sql["otel_log_reshape"] = (
        tp.oracle_enriched_sql()
        + """
SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000000 AS timeUnixNano,
       coalesce(level, 'INFO') AS severityText,
       text AS body,
       conv_id AS attr_conv,
       role AS attr_role
FROM enriched"""
    )

    # hashmod = uint64(md5 bytes 8..15) % m, folded digit-by-digit so the
    # value never leaves BIGINT range ((acc*16+d) % m preserves the mod)
    sql["prom_parse_relabel"] = """
SELECT event_id,
       event_type AS name,
       event_type AS metric,
       CAST(user_id AS VARCHAR) AS uid,
       CAST(user_id AS VARCHAR) AS x_id,
       'prod' AS env_lc,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, 17), i -> CAST(strpos('0123456789abcdef',
                substr(md5(CAST(user_id AS VARCHAR)), CAST(16 + i AS INT), 1))
                - 1 AS BIGINT))),
            (acc, d) -> (acc * 16 + d) % 7) AS VARCHAR) AS shard,
       6 AS n_labels,
       round(value, 6) AS mvalue,
       epoch_ms(ts) AS ts_ms
FROM events
WHERE user_id % 2 = 0"""

    sql["filter_key_regex_tag"] = _T + """
SELECT conv_id, turn_idx, tool AS tool_key,
       'host1' AS __hostname__, 'none' AS __cloud_provider__
FROM transcripts WHERE role = 'tool'"""

    sql["droplastkey_times"] = """
SELECT event_id,
       strftime(date_trunc('second', ts), '%Y/%m/%d') AS day_fmt,
       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts2_str,
       CAST(NULL AS VARCHAR) AS dropped_key
FROM events"""

    sql["encrypt_roundtrip"] = _T + """
SELECT conv_id, turn_idx, text AS text_rt FROM transcripts"""

    # transitive closure over the jaccard pair set: min reachable id =
    # cluster label (the recursive-CTE twin of the engine's iterative
    # min-label propagation)
    sql["dedup_clusters_cc"] = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(
             trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), '\s+')) AS sh,
         floor(log2(greatest(length(text), 1))) AS lb
  FROM documents
  QUALIFY row_number() OVER (PARTITION BY lb ORDER BY doc_id) <= 500
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b ON a.lb = b.lb AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.a AS id, reach.r
  FROM edges e JOIN reach ON e.b = reach.id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id"""

    sql["text_gopher_quality"] = r"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS words,
         str_split(text, chr(10)) AS lines
  FROM documents
), sig AS (
  SELECT doc_id,
    CAST(len(words) AS INT) AS n_words,
    round(CASE WHEN len(words) > 0 THEN
        CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum')
             AS DOUBLE) / len(words) ELSE 0 END, 6) AS mean_word_len,
    round(CASE WHEN len(words) > 0 THEN
        ((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3)
        / CAST(len(words) AS DOUBLE) ELSE 0 END, 6) AS symbol_ratio,
    round(CAST(len(list_filter(lines,
        l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
        / greatest(len(lines), 1), 6) AS bullet_line_ratio,
    round(CAST(len(list_filter(lines, l -> trim(l) LIKE '%...')) AS DOUBLE)
        / greatest(len(lines), 1), 6) AS ellipsis_line_ratio,
    CAST(len(list_intersect(list_transform(words, x -> lower(x)),
        ['the','be','to','of','and','that','have','with'])) AS INT)
        AS stop_word_hits
  FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
       ellipsis_line_ratio, stop_word_hits,
       (n_words BETWEEN 5 AND 100000)
       AND (mean_word_len BETWEEN 3.0 AND 10.0)
       AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
       AND ellipsis_line_ratio <= 0.3 AND stop_word_hits >= 1 AS keep
FROM sig"""

    sql["parse_from_pb"] = """
SELECT event_id, 'events' AS topic, 'gen' AS source,
       CAST(floor(epoch(ts)) AS BIGINT) AS log_time,
       event_type AS etype,
       CAST(round(value, 2) AS VARCHAR) AS val_str,
       CAST(user_id AS VARCHAR) AS uid
FROM events"""

    sql["parse_container_log"] = _T + """, flags AS (
  SELECT conv_id, turn_idx, text, (turn_idx % 4) IN (1, 2) AS p
  FROM transcripts
), seg AS (
  SELECT *, COALESCE(SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
  FROM flags
)
SELECT conv_id, string_agg(text, '' ORDER BY turn_idx) AS content,
       CAST(min(turn_idx) AS INT) AS turn_start,
       CAST(count(*) AS BIGINT) AS n_merged
FROM seg GROUP BY conv_id, grp"""

    sql["otel_log_parse"] = _T + """
SELECT CAST(epoch_us(ts) * 1000 AS BIGINT) AS time_unix_nano,
       CAST((turn_idx % 16) + 9 AS INT) AS severity_number,
       upper(role) AS severity_text,
       text AS content,
       '{"conv":"' || conv_id || '","turn":"' || CAST(turn_idx AS VARCHAR)
           || '"}' AS attributes,
       '{"svc":"chat"}' AS resources
FROM transcripts"""

    sql["otel_metric_reshape"] = """
SELECT 'evt_' || event_type AS mname,
       epoch_us(ts) * 1000 AS tnano,
       'host.name#$#h' || CAST(user_id AS VARCHAR)
           || '|uid#$#' || CAST(user_id AS VARCHAR) AS labels,
       round(value, 6) AS mvalue
FROM events
UNION ALL
SELECT 'evt_count' AS mname,
       epoch_us(ts) * 1000 AS tnano,
       'host.name#$#h' || CAST(user_id AS VARCHAR)
           || '|otlp.metric.aggregation.temporality#$#Cumulative'
           || '|otlp.metric.ismonotonic#$#true' AS labels,
       CAST(1.0 AS DOUBLE) AS mvalue
FROM events"""

    sql["otel_trace_reshape"] = (
        tp.oracle_enriched_sql()
        + """
SELECT 'host1' AS host, 'chat' AS service, '{"env":"prod"}' AS resource,
       'loongspark' AS otlp_name, '1.0' AS otlp_version,
       md5(conv_id) AS traceID,
       substring(md5(conv_id || '#' || CAST(turn_idx AS VARCHAR)), 1, 16)
           AS spanID,
       CASE WHEN turn_idx = 0 THEN '' ELSE
            substring(md5(conv_id || '#' || CAST(turn_idx - 1 AS VARCHAR)), 1, 16)
       END AS parentSpanID,
       CASE (turn_idx % 5) + 1
            WHEN 1 THEN 'internal' WHEN 2 THEN 'server' WHEN 3 THEN 'client'
            WHEN 4 THEN 'producer' WHEN 5 THEN 'consumer' END AS kind,
       'turn-' || CAST(turn_idx AS VARCHAR) AS name,
       CASE WHEN turn_idx = 0 THEN
            '[{"attribute":{},"spanID":"' || substring(md5(conv_id), 1, 16)
            || '","traceID":"' || md5(conv_id) || '"}]'
       ELSE '[]' END AS links,
       '[{"attribute":{"x":"' || CAST(turn_idx AS VARCHAR)
           || '"},"name":"e0","time":'
           || CAST(epoch_us(ts) * 1000 + 1000 AS VARCHAR) || '}]' AS logs,
       'st=1' AS traceState,
       CAST(epoch_us(ts) AS VARCHAR) AS start,
       CAST(epoch_us(ts) + 1000000 AS VARCHAR) AS "end",
       '1000000' AS duration,
       '{"role":"' || role || '","tool":"' || coalesce(tool, '')
           || '"}' AS attribute,
       CASE WHEN etype = 'error' THEN 'ERROR' ELSE 'OK' END AS statusCode,
       coalesce(etype, '') AS statusMessage
FROM enriched"""
    )

    sql["range_lookup_geoip"] = """
SELECT event_id, CAST(floor(value) AS BIGINT) AS v,
       CASE WHEN floor(value) BETWEEN 0 AND 49 THEN 'small'
            WHEN floor(value) BETWEEN 50 AND 149 THEN 'medium'
            WHEN floor(value) BETWEEN 150 AND 1000000 THEN 'large'
       END AS size_class
FROM events"""

    sql["doc_token_stats"] = r"""
WITH toks AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents
)
SELECT doc_id,
       CAST(len(words) AS INT) AS n_tokens,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
       CAST(len(list_distinct(words)) AS INT) AS n_distinct_tokens,
       len(list_distinct(words)) / CAST(len(words) AS DOUBLE) AS distinct_ratio
FROM toks"""

    return sql
