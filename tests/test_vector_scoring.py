"""Vector scorers: one degenerate-vector rule on every scorer (the numpy
kernel, the JVM re-ranks and the public ``cosine``), the blocked query
side of the numpy kernel, one float re-rank law for exact and int8 top-k,
and the functions layer's generated-class working set staying inside the
codegen cache."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from loongcollector_spark.functions import similarity
from loongcollector_spark.functions.dedup import dedup_clusters, minhash_lsh_candidates
from loongcollector_spark.functions.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
    ivf_topk_pivot,
    lsh_ann_topk,
    quantized_topk,
)
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


def _ranked(out, score: str) -> dict:
    return {(r.qid, r.nid): (r[score], r.rank) for r in out.collect()}


def _scores(scorer: str, corpus, queries, n: int) -> dict:
    """(qid, nid) -> (score, rank) from one scorer, every pair ranked
    (``lsh`` ranks only the pairs that share a bucket); ``near_dup`` maps
    (id_a, id_b) -> (score, None) for every pair id_a < id_b, and
    ``cosine`` (:func:`similarity.cosine` over a cross join) scores every
    pair unranked."""
    if scorer == "brute":
        return _ranked(brute_force_topk(corpus, queries, k=n), "cosine_sim")
    if scorer == "int8":
        rows = quantized_topk(corpus, queries, k=n, candidates=n).collect()
        assert all(r.approx_r == 0.0 for r in rows if BAD_ID in (r.qid, r.nid))
        return {(r.qid, r.nid): (r.sim_r, r.rank) for r in rows}
    if scorer in ("lsh_full", "lsh"):
        planes = 0 if scorer == "lsh_full" else 3
        return _ranked(lsh_ann_topk(corpus, queries, dim=DIM, k=n, n_planes=planes), "cosine_sim")
    if scorer == "ivf":
        return _ranked(ivf_topk(corpus, queries, k=n, n_clusters=2, n_probe=2), "cosine_sim")
    if scorer == "ivf_pivot":
        out = ivf_topk_pivot(corpus, queries, k=n, pivot_mod=1, n_probe=n)
        return _ranked(out, "cosine_sim")
    if scorer == "cosine":
        return {key: (c, None) for key, c in _jvm_cosines(corpus, queries).items()}
    out = cosine_near_dup_pairs(corpus, dim=DIM, threshold=-1.0, n_planes=0)
    return {(r.id_a, r.id_b): (r.cosine_sim, None) for r in out.collect()}


# (scorer, statement of the rule it runs under)
SCORERS = [
    ("brute", "numpy"),
    ("int8", "numpy"),
    ("lsh_full", "jvm"),
    ("lsh", "jvm"),
    ("ivf", "jvm"),
    ("ivf_pivot", "jvm"),
    ("near_dup", "jvm"),
    ("cosine", "jvm"),
]


@pytest.mark.parametrize("case", sorted(DEGENERATE))
@pytest.mark.parametrize("scorer,path", SCORERS)
def test_degenerate_vectors_score_zero(spark, scorer, path, case):
    corpus, queries, ref = _frames(spark, case)
    n = len(GOOD) + 1
    got = _scores(scorer, corpus, queries, n)
    tol = 1e-5 if scorer == "int8" else 1e-6
    if scorer == "near_dup":
        ref = {(a, b): s for (a, b), s in ref.items() if a < b}
    if scorer == "lsh":
        # bucketed: a subset of the pairs, every vector's self-match kept
        assert set(got) <= set(ref) and {(i, i) for i in GOOD} <= set(got)
        ref = {key: ref[key] for key in got}
    if scorer == "cosine" and case == "short":
        # d is the other side's size: two short vectors are a usable pair
        assert got.pop((BAD_ID, BAD_ID))[0] == pytest.approx(1.0)
        ref.pop((BAD_ID, BAD_ID))
    assert set(got) == set(ref)
    for key, want in ref.items():
        score, _ = got[key]
        if BAD_ID in key:
            assert score == 0.0, (key, score)
        else:
            assert abs(score - want) <= tol, (key, score, want)
    if scorer in ("near_dup", "cosine"):
        return
    # ranking: score desc, then nid asc (0.0 ties included)
    for qid in {q for q, _ in ref}:
        order = sorted((nid for q, nid in ref if q == qid), key=lambda nid: got[qid, nid][1])
        assert [got[qid, nid][1] for nid in order] == list(range(1, len(order) + 1))
        scores = [got[qid, nid][0] for nid in order]
        assert scores == sorted(scores, reverse=True)
        for a, b in zip(order, order[1:]):
            if got[qid, a][0] == got[qid, b][0]:
                assert a < b


@pytest.mark.parametrize("case", ["nan", "inf"])
def test_nan_and_inf_vectors_never_rank_first(spark, case):
    """A vector with a NaN or inf element shares the bucket or cell of
    every query; it never outranks an exact self-match, nor passes a
    near-duplicate threshold."""
    corpus, queries, _ = _frames(spark, case)
    for out in (
        lsh_ann_topk(corpus, queries, dim=DIM, k=1, n_planes=0),
        ivf_topk_pivot(corpus, queries, k=1, pivot_mod=1, n_probe=1),
    ):
        top1 = {r.qid: r.nid for r in out.collect()}
        assert {qid: top1[qid] for qid in GOOD} == {qid: qid for qid in GOOD}
    dups = cosine_near_dup_pairs(corpus, dim=DIM, threshold=0.95, n_planes=0)
    assert [r for r in dups.collect() if BAD_ID in (r.id_a, r.id_b)] == []


def _jvm_cosines(corpus, queries) -> dict:
    """(qid, nid) -> :func:`similarity.cosine` over a cross join."""
    pairs = corpus.crossJoin(queries).select(
        "qid", "vec_id", similarity.cosine(F.col("embedding"), F.col("qvec")).alias("c")
    )
    return {(r.qid, r.vec_id): r.c for r in pairs.collect()}


@pytest.mark.parametrize("scorer", ["brute", "int8"])
def test_numpy_and_fold_paths_agree_bit_for_bit(spark, monkeypatch, scorer):
    """The numpy kernel agrees bit for bit with the JVM fold law
    (:func:`similarity.cosine` over a cross join), whether the query side
    is one block or, over the byte cap, several: blocked rows equal
    one-block rows, with the dimension taken from the whole side (the
    short vector's block holds no vector of full length)."""
    vecs = {**GOOD, **{10 + i: v for i, v in enumerate(DEGENERATE.values())}}
    corpus = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(list(vecs.items()), "qid long, qvec array<float>")
    n = len(vecs)

    def frame():
        if scorer == "brute":
            return brute_force_topk(corpus, queries, k=n)
        return quantized_topk(corpus, queries, k=n, candidates=n)

    one = sorted(tuple(r) for r in frame().collect())
    # two query rows per block: 5 blocks, one of them (NULL, short)
    itemsize = 4 + (8 if scorer == "int8" else 0)
    monkeypatch.setattr(similarity, "_MAX_QUERY_MATRIX_BYTES", 2 * DIM * itemsize)
    blocked = frame()
    assert blocked._jdf.queryExecution().executedPlan().toString().count("MapInArrow") == 5
    rows = blocked.collect()
    assert sorted(tuple(r) for r in rows) == one
    jvm = _jvm_cosines(corpus, queries)
    for r in rows:
        score = r.cosine_sim if scorer == "brute" else r.sim_r
        if r.qid in GOOD and r.nid in GOOD:
            want = jvm[r.qid, r.nid]
            assert score == (want if scorer == "brute" else round(want, 5)), r
        else:
            assert score == 0.0, r


def test_building_the_plan_runs_one_job(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    sc = spark.sparkContext
    jobs = {}
    try:
        for name, make in (
            ("brute", lambda: brute_force_topk(emb, qs, k=10)),
            ("int8", lambda: quantized_topk(emb, qs, k=10, candidates=30)),
        ):
            sc.setJobGroup(f"plan-build-{name}", "build the top-k plan")
            make()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"plan-build-{name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == {"brute": 1, "int8": 1}


def test_empty_query_side_returns_typed_empty_frames(spark):
    corpus, queries, _ = _frames(spark, "zero")
    for make in (
        lambda q: brute_force_topk(corpus, q, k=3),
        lambda q: quantized_topk(corpus, q, k=3, candidates=5),
    ):
        empty = make(queries.limit(0))
        assert empty.schema == make(queries).schema
        assert "MapInArrow" not in empty._jdf.queryExecution().executedPlan().toString()
        assert empty.collect() == []


def test_ivf_with_no_usable_corpus_row_trains_nothing(spark):
    """No usable row to train KMeans on: one cell, every pair scores 0.0
    as in brute force, and an empty query side yields no rows."""
    corpus = spark.createDataFrame(
        [(10 + i, v) for i, v in enumerate(DEGENERATE.values())],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(list(GOOD.items()), "qid long, qvec array<float>")
    n = len(DEGENERATE)
    ivf = sorted(ivf_topk(corpus, queries, k=n, n_clusters=2, n_probe=2).collect())
    assert ivf == sorted(brute_force_topk(corpus, queries, k=n).collect())
    assert {r.cosine_sim for r in ivf} == {0.0}
    assert ivf_topk(corpus, queries.limit(0), k=n, n_clusters=2, n_probe=2).collect() == []


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
