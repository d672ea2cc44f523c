"""Vector top-k scorers: the degenerate-vector rule on both scoring paths,
one float re-rank law for exact and int8 top-k, and the functions layer's
generated-class working set staying inside the codegen cache."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from loongcollector_spark.functions import similarity
from loongcollector_spark.functions.dedup import dedup_clusters, minhash_lsh_candidates
from loongcollector_spark.functions.similarity import brute_force_topk, quantized_topk
from tests.conftest import SF_DIR

DIM = 4
GOOD = {
    1: [1.0, 0.5, -0.25, 2.0],
    2: [-1.5, 0.25, 1.0, 0.5],
    3: [0.75, -1.0, 0.5, -0.5],
    4: [2.0, 2.0, 0.125, -1.0],
}
# one degenerate vector per case: it scores 0.0 against everything
DEGENERATE = {
    "null": None,
    "short": [1.0, 2.0],
    "nan": [1.0, math.nan, 0.5, 0.5],
    "inf": [1.0, math.inf, 0.5, 0.5],
    "zero": [0.0] * DIM,
    "null_element": [1.0, None, 0.5, 0.5],
}
BAD_ID = 9


def _reference(nvecs: dict, qvecs: dict) -> dict:
    """(qid, nid) -> float64 cosine under the rule, independent of the package."""

    def usable(v):
        if v is None or len(v) != DIM or any(x is None for x in v):
            return None
        a = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(a)
        return a if np.isfinite(n) and n > 0 else None

    out = {}
    for qid, qv in qvecs.items():
        for nid, nv in nvecs.items():
            a, b = usable(nv), usable(qv)
            out[qid, nid] = (
                0.0 if a is None or b is None
                else float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            )
    return out


def _frames(spark, case: str):
    vecs = {**GOOD, BAD_ID: DEGENERATE[case]}
    corpus = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(list(vecs.items()), "qid long, qvec array<float>")
    # float32 inputs: the reference sees the same rounded values
    f32 = {
        i: None if v is None else [None if x is None else float(np.float32(x)) for x in v]
        for i, v in vecs.items()
    }
    return corpus, queries, _reference(f32, f32)


@pytest.mark.parametrize("case", sorted(DEGENERATE))
@pytest.mark.parametrize("path", ["numpy", "fold"])
@pytest.mark.parametrize("scorer", ["brute", "int8"])
def test_degenerate_vectors_score_zero(spark, monkeypatch, scorer, path, case):
    if path == "fold":
        monkeypatch.setattr(similarity, "_MAX_QUERY_MATRIX_BYTES", 0)
    corpus, queries, ref = _frames(spark, case)
    n = len(GOOD) + 1
    if scorer == "brute":
        rows = brute_force_topk(corpus, queries, k=n).collect()
        got = {(r.qid, r.nid): (r.cosine_sim, r.rank) for r in rows}
        tol = 1e-6
    else:
        rows = quantized_topk(corpus, queries, k=n, candidates=n).collect()
        got = {(r.qid, r.nid): (r.sim_r, r.rank) for r in rows}
        tol = 1e-5
        for r in rows:
            if BAD_ID in (r.qid, r.nid):
                assert r.approx_r == 0.0, r
    assert set(got) == set(ref)
    for key, want in ref.items():
        score, _ = got[key]
        if BAD_ID in key:
            assert score == 0.0, (key, score)
        else:
            assert abs(score - want) <= tol, (key, score, want)
    # ranking: score desc, then nid asc (0.0 ties included)
    for qid in {q for q, _ in ref}:
        order = sorted((nid for q, nid in ref if q == qid), key=lambda nid: got[qid, nid][1])
        assert [got[qid, nid][1] for nid in order] == list(range(1, n + 1))
        scores = [got[qid, nid][0] for nid in order]
        assert scores == sorted(scores, reverse=True)
        for a, b in zip(order, order[1:]):
            if got[qid, a][0] == got[qid, b][0]:
                assert a < b


@pytest.mark.parametrize("scorer", ["brute", "int8"])
def test_numpy_and_fold_paths_agree_bit_for_bit(spark, monkeypatch, scorer):
    vecs = {**GOOD, **{10 + i: v for i, v in enumerate(DEGENERATE.values())}}
    corpus = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(list(vecs.items()), "qid long, qvec array<float>")

    def run():
        if scorer == "brute":
            out = brute_force_topk(corpus, queries, k=len(vecs))
        else:
            out = quantized_topk(corpus, queries, k=len(vecs), candidates=len(vecs))
        return sorted(tuple(r) for r in out.collect())

    fast = run()
    # a cap below the query matrix: the fold path scores it, and the
    # query side's collect returns no rows to the driver
    monkeypatch.setattr(similarity, "_MAX_QUERY_MATRIX_BYTES", 64)
    collected = []
    to_arrow = type(queries).toArrow

    def spy(df):
        t = to_arrow(df)
        collected.append(t.num_rows)
        return t

    monkeypatch.setattr(type(queries), "toArrow", spy)
    assert run() == fast
    assert collected == [0]


def test_int8_rerank_is_the_brute_force_law(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r.qid, r.nid): r.cosine_sim
        for r in brute_force_topk(emb, qs, k=10).collect()
    }
    shared = 0
    for r in quantized_topk(emb, qs, k=10, candidates=30).collect():
        if (r.qid, r.nid) in exact:
            shared += 1
            assert r.sim_r == round(exact[r.qid, r.nid], 5), r
    assert shared >= 0.9 * len(exact)


def test_functions_layer_codegen_fits_the_cache(spark, tmp_path):
    """A second pass of the same operators compiles no new classes: the
    generated-class cache holds the whole working set."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pairs_path = str(tmp_path / "pairs")
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def unit() -> dict:
        """Classes compiled per operator."""
        frames = {
            "minhash": lambda: minhash_lsh_candidates(docs),
            "clusters": lambda: dedup_clusters(spark.read.parquet(pairs_path)),
            "brute": lambda: brute_force_topk(emb, qs, k=10),
            "int8": lambda: quantized_topk(emb, qs, k=10, candidates=30),
        }
        counts = {}
        for name, make in frames.items():
            before = compiled.getCount()
            if name == "minhash":
                make().write.mode("overwrite").parquet(pairs_path)
            else:
                make().write.format("noop").mode("overwrite").save()
            counts[name] = compiled.getCount() - before
        return counts

    unit()
    assert unit() == dict.fromkeys(("minhash", "clusters", "brute", "int8"), 0)
