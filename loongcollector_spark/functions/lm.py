"""Bigram language-model scoring for training-data quality filtering —
the CCNet/KenLM perplexity-filter pattern, re-expressed as pure
DataFrame aggregations (the corpus is its own model; no external LM, no
UDF, everything whole-stage-codegen built-ins).

Pipeline shape (the classic MapReduce LM-count topology):

1. **Token stream** — lowercased alphanumeric word pieces
   (``[a-z0-9]+``), one explode; every document is framed as
   ``<s> w1 … wn </s>`` so even an empty document scores (its single
   ``(<s>, </s>)`` bigram).
2. **Vocabulary** — unigram counts over the raw token stream; tokens
   below ``min_count`` map to ``<unk>`` (the open-vocabulary closure
   that keeps the bigram table bounded on web-scale corpora).
3. **Bigram model** — counts over the mapped stream; history counts
   derived from the bigram table itself (``c(w1) = Σ_w2 c(w1,w2)``),
   add-k smoothing ``p(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V)`` with
   ``V = |vocab| + 2`` (the predictable outcomes: vocab ∪ {unk, eos};
   bos is never predicted).
4. **Score** — per-document mean negative log-likelihood per bigram
   and its exponential (pseudo-perplexity). Low = fluent/in-domain,
   high = noise — threshold for the keep flag, exactly how CCNet
   buckets CommonCrawl by KenLM perplexity.

Scale notes (100 TB): the three token-stream-sized shuffles (unigram
count, vocab mapping join, bigram count + score join) are inherent to
corpus-self-trained LM scoring — KenLM's own count pipeline is the
same topology. All aggregations partial-aggregate map-side; the vocab
and bigram tables are corpus-level aggregates orders of magnitude
smaller than the stream, so AQE broadcasts them when they fit and
falls back to shuffled hash joins when they don't (no hard-coded
broadcast: a 100 TB corpus's bigram table can exceed driver memory).
Scores round to 6 decimals so the result is exact-comparable across
engines and partition orders.

Reference scope: alibaba/loongcollector has no LM scorer — this module
belongs to the training-data-pipeline extension surface (SURVEY.md §2
"beyond the reference" block), alongside dedup/sampling/packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
EOS = "</s>"
UNK = "<unk>"


def lm_tokens(col: Column) -> Column:
    """Lowercased alphanumeric word pieces — deliberately the simplest
    tokenizer two engines can reproduce byte-for-byte."""
    return F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9]+"), F.lit(0))


def _framed(text: Column) -> Column:
    toks = lm_tokens(F.coalesce(text, F.lit("")))
    return F.concat(F.array(F.lit(BOS)), toks, F.array(F.lit(EOS)))


def bigram_stream(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per (document, bigram) over the framed token sequence."""
    arr = _framed(F.col(text_col))
    n = F.size(arr)
    pairs = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return df.select(
        F.col(id_col), F.explode(pairs).alias("__p__")
    ).select(id_col, F.col("__p__.w1").alias("w1"), F.col("__p__.w2").alias("w2"))


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document pseudo-perplexity under the corpus's own add-k
    bigram model: ``(id, n_bigrams, avg_nll, pseudo_ppl)``.

    Building the plan runs one Spark job when adaptive execution is on
    (the session default): the vocabulary's ``localCheckpoint`` takes the
    RDD of an adaptive plan, which executes its unigram-count shuffle
    stage, one full token pass."""
    stream = bigram_stream(df, id_col=id_col, text_col=text_col)

    # vocabulary from RAW unigram counts (no frame markers)
    uni = (
        df.select(
            F.explode(lm_tokens(F.coalesce(F.col(text_col), F.lit("")))).alias(
                "tok"
            )
        )
        .groupBy("tok")
        .count()
    )
    # The vocab subtree is a FULL corpus token pass, and it feeds four
    # join branches (w1/w2 mapping × the stream appearing twice) plus
    # the V aggregate — the DataFrame API has no common-subplan reuse,
    # so without materialization Spark re-runs the unigram count five
    # times. The vocab table itself is tiny (min_count-filtered
    # distinct tokens): localCheckpoint it once (its blocks materialize
    # on first use; under AQE the count's shuffle stage runs now, see the
    # docstring) so every branch reads the cached blocks. Measured:
    # 7 parquet scans → 2 in the physical plan.
    vocab = (
        uni.filter(F.col("count") >= min_count)
        .select("tok")
        .localCheckpoint(eager=False)
    )
    # V as a 1-row frame (lazy; avoids a driver-side action per call)
    vv = vocab.agg((F.count(F.lit(1)) + 2).alias("__V__"))

    v1 = vocab.withColumnRenamed("tok", "__v1__")
    v2 = vocab.withColumnRenamed("tok", "__v2__")
    mapped = (
        stream.join(v1, stream["w1"] == v1["__v1__"], "left")
        .join(v2, stream["w2"] == v2["__v2__"], "left")
        .select(
            id_col,
            F.when(F.col("w1") == BOS, F.col("w1"))
            .when(F.col("__v1__").isNotNull(), F.col("w1"))
            .otherwise(F.lit(UNK))
            .alias("w1m"),
            F.when(F.col("w2") == EOS, F.col("w2"))
            .when(F.col("__v2__").isNotNull(), F.col("w2"))
            .otherwise(F.lit(UNK))
            .alias("w2m"),
        )
    )

    # history counts ride a window OVER the (small) bigram table instead
    # of a separate groupBy branch: the DataFrame API has no common-
    # subplan reuse, so `ch = cb.groupBy(w1m).sum()` would recompute the
    # whole token-stream lineage a second time — one extra full corpus
    # pass at 100 TB. The window adds one bigram-table-sized shuffle.
    from pyspark.sql import Window

    cb = (
        mapped.groupBy("w1m", "w2m")
        .agg(F.count(F.lit(1)).alias("__cb__"))
        .withColumn(
            "__ch__", F.sum("__cb__").over(Window.partitionBy("w1m"))
        )
    )

    nll = -F.ln(
        (F.col("__cb__") + F.lit(add_k))
        / (F.col("__ch__") + F.lit(add_k) * F.col("__V__"))
    )
    return (
        mapped.join(cb, ["w1m", "w2m"])
        .crossJoin(vv)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
            F.round(F.exp(F.avg(nll)), 6).alias("pseudo_ppl"),
        )
    )


def perplexity_filter(
    df: DataFrame,
    max_pseudo_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    add_k: float = 0.5,
) -> DataFrame:
    """The CCNet gate: score + ``keep = pseudo_ppl <= max_pseudo_ppl``.
    Join the keep set back to the corpus with a conv/doc-keyed
    ``left_semi`` (one short row per survivor), never a broadcast of a
    corpus-sized set."""
    scored = bigram_lm_score(
        df, id_col=id_col, text_col=text_col, min_count=min_count, add_k=add_k
    )
    return scored.withColumn(
        "keep", F.col("pseudo_ppl") <= F.lit(max_pseudo_ppl)
    )
