"""Training-data ops: dedup, similarity, textstats, multimodal plumbing,
checkpoint resume."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.functions import dedup, similarity, textstats
from loongcollector_spark.functions.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_media,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_finds_planted_dupes(self, spark):
        rows = [(1, "hello world"), (2, "HELLO   world"), (3, "different doc")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.keep_id: r.n_dupes for r in dedup.exact_dedup(df).collect()}
        # normalization: case + whitespace → rows 1,2 merge
        assert out[1] == 2 and out[3] == 1

    def test_minhash_lsh_finds_near_dupes(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("today", "tomorrow")
        far = "completely unrelated text about spark pipelines and parquet files"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string"
        )
        pairs = dedup.minhash_lsh_candidates(
            df, min_jaccard=0.5, num_hashes=16, bands=8
        ).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 2) in found
        assert all(3 not in p for p in found)

    def test_jaccard_exact_value(self, spark):
        df = spark.createDataFrame([(1,)], "x int").select(
            dedup.jaccard(
                F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                F.array(F.lit("b"), F.lit("c"), F.lit("d")),
            ).alias("j")
        )
        assert abs(df.collect()[0].j - 0.5) < 1e-9

    def test_simhash_near_equals(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 3
        near = base + "extra"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, "zzz completely different www")],
            "doc_id long, text string",
        )
        rows = df.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("sh")
        ).collect()
        sh = {r.doc_id: r.sh for r in rows}
        ham12 = bin((sh[1] ^ sh[2]) & (2**64 - 1)).count("1")
        ham13 = bin((sh[1] ^ sh[3]) & (2**64 - 1)).count("1")
        assert ham12 < ham13

    def test_ngram_jaccard_pairs(self, spark):
        a = "one two three four five six seven eight"
        b = "one two three four five six seven nine"
        df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
        pairs = dedup.ngram_jaccard_pairs(df, min_jaccard=0.3).collect()
        assert len(pairs) == 1 and pairs[0].id_a == 1 and pairs[0].id_b == 2

    def test_ngram_jaccard_skewed_bucket_bounded(self, spark):
        """All docs land in ONE log2-length bucket; max_bucket must bound
        the self-join to max_bucket²/2 pairs, not N²/2 (VERDICT r1: the
        parameter was accepted but never applied)."""
        rows = [(i, f"common shared tokens doc {i:05d}") for i in range(10_000)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.ngram_jaccard_pairs(
            df, shingle_k=1, min_jaccard=0.0, max_bucket=50
        )
        n = out.count()
        assert 0 < n <= 50 * 49 // 2
        # the smallest ids are the deterministic survivors
        assert out.agg(F.max("id_b")).collect()[0][0] < 50

    def test_minhash_banded_shuffle_excludes_shingles(self, spark):
        """The banded explode → bucket self-join must not carry the
        shingle arrays; they attach by id only in the verify join."""
        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "a b c d e f h")],
            "doc_id long, text string",
        )
        plan = (
            dedup.minhash_lsh_candidates(df)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
        assert gen_lines, "expected banded explode in plan"
        for ln in gen_lines:
            assert "sh_a" not in ln and "sh_b" not in ln, ln


class TestSimilarity:
    def test_brute_force_topk_self_is_top1(self, spark, embeddings):
        queries = embeddings.limit(3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out = similarity.brute_force_topk(embeddings, queries, k=3)
        top1 = {r.qid: r.nid for r in out.filter(F.col("rank") == 1).collect()}
        assert all(qid == nid for qid, nid in top1.items())

    def test_cosine_value(self, spark):
        df = spark.createDataFrame([(1,)], "x int").select(
            similarity.cosine(
                F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(1.0), F.lit(1.0))
            ).alias("c")
        )
        assert abs(df.collect()[0].c - 1 / math.sqrt(2)) < 1e-9

    def test_lsh_ann_recall_vs_brute_force(self, spark, embeddings):
        queries = embeddings.limit(5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        exact = similarity.brute_force_topk(embeddings, queries, k=1)
        approx = similarity.lsh_ann_topk(
            embeddings, queries, dim=64, k=1, n_planes=6
        )
        # self-match survives bucketing (identical vector → identical sig)
        a_top = {r.qid: r.nid for r in approx.filter("rank=1").collect()}
        e_top = {r.qid: r.nid for r in exact.filter("rank=1").collect()}
        assert a_top == e_top


class TestHyperplaneSigScale:
    def test_dim768_plan_compiles_fast(self, spark):
        """The plane matrix rides a 1-row broadcast table: Catalyst tree
        is O(n_planes) nodes, so analysis at real embedding dims must be
        sub-second (VERDICT r1: per-component literals took >10s)."""
        import random
        import time

        rng = random.Random(1)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(768)]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.limit(2).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        t0 = time.time()
        out = similarity.lsh_ann_topk(df, q, dim=768, k=2, n_planes=16)
        out.schema  # forces full analysis
        assert time.time() - t0 < 5.0
        # self is always in its own bucket → top-1 = self
        top1 = {r.qid: r.nid for r in out.collect() if r.rank == 1}
        assert all(q_ == n for q_, n in top1.items())


class TestHotBucketCaps:
    """VERDICT r2 #1: a degenerate signature bucket must not make the
    bucket joins quadratic — max_bucket bounds each bucket up front."""

    def test_near_dup_pairs_bounded_on_identical_vectors(self, spark):
        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(2000)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.cosine_near_dup_pairs(
            df, dim=4, threshold=0.5, n_planes=4, max_bucket=50
        )
        # all 2000 land in ONE bucket; only the 50 smallest ids survive it
        assert out.count() == 50 * 49 // 2
        assert out.agg(F.max("id_b")).collect()[0][0] == 49

    def test_near_dup_pairs_uncapped_default_still_finds_dups(self, spark):
        rows = [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [-1.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.cosine_near_dup_pairs(df, dim=2, threshold=0.95)
        got = {(r.id_a, r.id_b) for r in out.collect()}
        assert got == {(1, 2)}

    def test_lsh_ann_topk_corpus_bucket_capped(self, spark):
        rows = [(i, [1.0, 1.0]) for i in range(500)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = spark.createDataFrame(
            [(0, [1.0, 1.0])], "qid long, qvec array<double>"
        )
        out = similarity.lsh_ann_topk(
            df, q, dim=2, k=1000, n_planes=2, max_bucket=20
        )
        # k exceeds the cap: the join can surface at most max_bucket rows
        assert out.count() == 20

    def test_lsh_ann_topk_self_match_survives_default_cap(self, spark, embeddings):
        queries = embeddings.limit(3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out = similarity.lsh_ann_topk(embeddings, queries, dim=64, k=1, n_planes=6)
        top1 = {r.qid: r.nid for r in out.filter("rank=1").collect()}
        assert all(qid == nid for qid, nid in top1.items())


class TestDedupClustersConvergence:
    """VERDICT r2 #2: exhausting max_iterations with labels still moving
    must be loud, not silently over-segmented."""

    @staticmethod
    def _chain(spark, n_edges):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "id_a long, id_b long"
        )

    def test_deep_chain_raises(self, spark):
        from loongcollector_spark.functions.dedup import (
            UnconvergedClusteringError,
            dedup_clusters,
        )

        with pytest.raises(UnconvergedClusteringError):
            dedup_clusters(self._chain(spark, 6), max_iterations=2)

    def test_strict_false_returns_oversegmented(self, spark):
        from loongcollector_spark.functions.dedup import dedup_clusters

        labels = dedup_clusters(
            self._chain(spark, 6), max_iterations=2, strict=False
        )
        # partial labels: >1 cluster id for the single true component
        assert labels.select("cluster_id").distinct().count() > 1

    def test_diameter_equals_budget_no_false_raise(self, spark):
        from loongcollector_spark.functions.dedup import dedup_clusters

        # chain 0..6 converges exactly at round 6: the last round still
        # reports changed>0, the post-loop fixpoint probe must not raise
        labels = dedup_clusters(self._chain(spark, 6), max_iterations=6)
        assert {r.cluster_id for r in labels.collect()} == {0}


class TestTextStats:
    def test_lang_id_markers(self, spark):
        rows = [
            (1, "the cat and the dog of the house is big"),
            (2, "der hund und die katze ist hier"),
            (3, "xyzzy qwerty asdf"),
        ]
        df = spark.createDataFrame(rows, "id int, text string")
        out = {r.id: r.lang for r in df.select(
            "id", textstats.lang_id(F.col("text")).alias("lang")
        ).collect()}
        assert out[1] == "en" and out[2] == "de" and out[3] == "und"

    def test_quality_signals(self, spark):
        df = spark.createDataFrame([(1, "The quick brown fox.")], "id int, text string")
        r = textstats.quality_signals(df).collect()[0]
        assert r.n_tokens == 4
        assert 0 < r.alpha_ratio < 1
        assert r.punct_ratio > 0

    def test_fingerprint_stability(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "hello world")], "id int, text string"
        )
        rows = df.select(textstats.fingerprint64(F.col("text")).alias("f")).collect()
        assert rows[0].f == rows[1].f  # normalization collapses case+ws


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        media = synthetic_media(spark, 20)
        out = extract_features(media, deterministic_fake=True)
        rows = out.collect()
        assert len(rows) == 20
        assert all(len(r.feature) == 8 and r.decode_ok for r in rows)
        # deterministic: same id → same feature across runs
        again = extract_features(synthetic_media(spark, 20)).collect()
        assert {r.media_id: r.feature[0] for r in rows} == {
            r.media_id: r.feature[0] for r in again
        }

    def test_decode_stub_raises_without_fake(self, spark):
        media = synthetic_media(spark, 2)
        out = extract_features(media, deterministic_fake=False)
        with pytest.raises(Exception, match="NotImplementedError|decode"):
            out.collect()

    def test_frame_sample_plan(self, spark):
        media = synthetic_media(spark, 30)
        plan = frame_sample_plan(media, every_ms=10000)
        rows = plan.collect()
        assert all(r.media_type.startswith("video/") for r in rows)
        assert all(r.frame_ms % 10000 == 0 for r in rows)


class TestCheckpointResume:
    def test_skip_committed_units(self, spark, tmp_path):
        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        df = spark.createDataFrame(
            [(f"conv{i}", i, "u1" if i < 3 else "u2", "t") for i in range(6)],
            "conv_id string, turn_idx int, unit string, text string",
        )
        cp = CheckpointTable(spark, str(tmp_path / "cp"))
        runner = BatchedResumableRunner(spark, cp, str(tmp_path / "out"))
        first = runner.run(df, transform=lambda d: {"s1": d})
        assert sorted(first["s1"]) == ["u1", "u2"]
        # second run: everything committed → nothing processed
        second = runner.run(df, transform=lambda d: {"s1": d})
        assert second == {}
        lineage = cp.lineage().collect()
        assert {(r.unit, r.rows_out) for r in lineage} == {("u1", 3), ("u2", 3)}

    def test_ivf_full_probe_equals_brute_force(self, spark, embeddings):
        """With n_probe == n_clusters IVF degenerates to exact search —
        its top-k must EQUAL brute force exactly (value anchor for the
        otherwise rows-only ivf_ann_topk query)."""
        from loongcollector_spark.functions.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        queries = embeddings.limit(4).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        exact = {
            (r.qid, r.rank): (r.nid, round(r.cosine_sim, 6))
            for r in brute_force_topk(embeddings, queries, k=5).collect()
        }
        ivf = {
            (r.qid, r.rank): (r.nid, round(r.cosine_sim, 6))
            for r in ivf_topk(
                embeddings, queries, k=5, n_clusters=6, n_probe=6
            ).collect()
        }
        assert ivf == exact

    def test_ivf_pivot_full_probe_equals_brute_force(self, spark, embeddings):
        """Pivot-quantizer IVF with n_probe >= n_pivots searches every
        cell → exact top-k. Anchors the deterministic quantizer's
        assignment + probe + re-rank against brute force."""
        from loongcollector_spark.functions.similarity import (
            brute_force_topk,
            ivf_topk_pivot,
        )

        emb = embeddings.withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        queries = emb.limit(4).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        exact = {
            (r.qid, r.rank): (r.nid, round(r.cosine_sim, 6))
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        n_pivots = emb.filter("vec_id % 10 = 0").count()
        ivf = {
            (r.qid, r.rank): (r.nid, round(r.cosine_sim, 6))
            for r in ivf_topk_pivot(
                emb, queries, k=5, pivot_mod=10, n_probe=n_pivots
            ).collect()
        }
        assert ivf == exact

    def test_ivf_pivot_partial_probe_subset_of_probed_cells(
        self, spark, embeddings
    ):
        """Partial probe returns only neighbors from probed cells, ranks
        are contiguous from 1, and self-recall holds when the query is a
        corpus member (its own cell is always the nearest probe)."""
        from loongcollector_spark.functions.similarity import ivf_topk_pivot

        emb = embeddings.withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        queries = emb.limit(3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out = ivf_topk_pivot(emb, queries, k=5, pivot_mod=10, n_probe=2)
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r)
        for qid, rs in by_q.items():
            assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
            assert {x.nid for x in rs if x.rank == 1} == {qid}

    def test_ivf_topk_self_recall(self, spark, embeddings):
        from loongcollector_spark.functions.similarity import ivf_topk

        queries = embeddings.limit(5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out = ivf_topk(embeddings, queries, k=1, n_clusters=8, n_probe=2)
        top1 = {r.qid: r.nid for r in out.filter("rank=1").collect()}
        # the query vector itself lives in its own assigned cell → self top-1
        assert top1 == {q: q for q in top1}
        assert len(top1) == 5


class TestDedupClusters:
    def test_connected_components(self, spark):
        from loongcollector_spark.functions.dedup import dedup_clusters

        # components: {1,2,3,4} (chain), {7,8}, singleton pairs absent
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
        )
        labels = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
        assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    def test_chain_converges(self, spark):
        from loongcollector_spark.functions.dedup import dedup_clusters

        # a long chain needs multiple propagation rounds
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "id_a long, id_b long"
        )
        labels = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
        assert set(labels.values()) == {0}

    def test_no_pairs(self, spark):
        from loongcollector_spark.functions.dedup import dedup_clusters

        # no near-duplicates: the observed round runs on an empty frame
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert dedup_clusters(pairs).collect() == []


class TestBatchedResume:
    def test_stale_uncommitted_partition_not_counted(self, spark, tmp_path):
        """ADVICE r2: a readable-but-uncommitted partition left by an
        interrupted earlier run, for a unit ABSENT from this run's input,
        must not be counted/committed under the new run_id."""
        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        sink_dir = tmp_path / "out" / "s1"
        # simulate the interrupted run: partition u9 written, never committed
        stale = spark.createDataFrame(
            [("convX", 0, "u9", "stale", "deadrun:u9:0")],
            "conv_id string, turn_idx int, unit string, text string, __lineage__ string",
        )
        stale.write.partitionBy("unit").parquet(str(sink_dir))

        df = spark.createDataFrame(
            [("conv1", 1, "u1", "t")],
            "conv_id string, turn_idx int, unit string, text string",
        )
        cp = CheckpointTable(spark, str(tmp_path / "cp"))
        runner = BatchedResumableRunner(spark, cp, str(tmp_path / "out"))
        first = runner.run(df, transform=lambda d: {"s1": d})
        assert first == {"s1": ["u1"]}  # u9 not counted
        committed = {r.unit for r in cp.lineage().collect()}
        assert committed == {"u1"}
        # a later run that DOES carry u9 re-processes it from scratch
        df2 = spark.createDataFrame(
            [("conv2", 2, "u9", "fresh")],
            "conv_id string, turn_idx int, unit string, text string",
        )
        second = runner.run(df2, transform=lambda d: {"s1": d})
        assert second == {"s1": ["u9"]}
        back = spark.read.parquet(str(sink_dir)).filter("unit='u9'")
        assert [r.text for r in back.collect()] == ["fresh"]  # overwritten

    def test_batched_skip_committed(self, spark, tmp_path):
        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        df = spark.createDataFrame(
            [(f"conv{i}", i, f"u{i % 3}", "txt") for i in range(9)],
            "conv_id string, turn_idx int, unit string, text string",
        )
        cp = CheckpointTable(spark, str(tmp_path / "cp"))
        runner = BatchedResumableRunner(spark, cp, str(tmp_path / "out"))
        first = runner.run(df, transform=lambda d: {"s1": d})
        assert sorted(first["s1"]) == ["u0", "u1", "u2"]
        # everything committed → one empty write, nothing processed
        second = runner.run(df, transform=lambda d: {"s1": d})
        assert second == {}
        back = spark.read.parquet(str(tmp_path / "out" / "s1"))
        assert back.count() == 9
        # per-unit lineage recorded with correct counts
        lin = {(r.unit, r.rows_out) for r in cp.lineage().collect()}
        assert lin == {("u0", 3), ("u1", 3), ("u2", 3)}

    def test_null_unit_rows_checkpoint_and_resume(self, spark, tmp_path):
        """Rows with a NULL unit are written, committed under the
        NULL_UNIT sentinel, and NOT silently dropped or re-processed on
        resume (ADVICE r1: the plain ~isin filter dropped them)."""
        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        df = spark.createDataFrame(
            [("c", 0, "u1", "t"), ("c", 1, None, "t2"), ("c", 2, None, "t3")],
            "conv_id string, turn_idx int, unit string, text string",
        )
        cp = CheckpointTable(spark, str(tmp_path / "cp"))
        runner = BatchedResumableRunner(spark, cp, str(tmp_path / "out"))
        first = runner.run(df, transform=lambda d: {"s1": d})
        assert sorted(first["s1"]) == [BatchedResumableRunner.NULL_UNIT, "u1"]
        back = spark.read.parquet(str(tmp_path / "out" / "s1"))
        assert back.count() == 3  # null-unit rows written too
        lin = {(r.unit, r.rows_out) for r in cp.lineage().collect()}
        assert (BatchedResumableRunner.NULL_UNIT, 2) in lin
        # resume: everything (incl. the null partition) already committed
        second = runner.run(df, transform=lambda d: {"s1": d})
        assert second == {}
        assert spark.read.parquet(str(tmp_path / "out" / "s1")).count() == 3

    def test_stats_match_written_rows_under_nondeterminism(self, spark, tmp_path):
        """rows_out comes from a read-back of the written files, so a
        nondeterministic upstream expression can't make the counts drift
        from what was actually written."""
        from pyspark.sql import functions as F

        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        df = spark.createDataFrame(
            [("c", i, "u0", "t") for i in range(100)],
            "conv_id string, turn_idx int, unit string, text string",
        )
        cp = CheckpointTable(spark, str(tmp_path / "cp"))
        runner = BatchedResumableRunner(spark, cp, str(tmp_path / "out"))

        def transform(d):
            return {"s1": d.filter(F.rand(0) >= 0)}  # nondeterministic op

        runner.run(df, transform=transform)
        written = spark.read.parquet(str(tmp_path / "out" / "s1")).count()
        rows_out = cp.lineage().agg(F.sum("rows_out")).collect()[0][0]
        assert rows_out == written

    def test_partial_resume_overwrites_interrupted_unit(self, spark, tmp_path):
        from loongcollector_spark.checkpoint import (
            BatchedResumableRunner,
            CheckpointTable,
        )

        df = spark.createDataFrame(
            [("c", i, "u1" if i < 2 else "u2", "t") for i in range(4)],
            "conv_id string, turn_idx int, unit string, text string",
        )
        cp = CheckpointTable(spark, str(tmp_path / "cp"))
        runner = BatchedResumableRunner(spark, cp, str(tmp_path / "out"))
        # simulate a crash: u1's output exists but no checkpoint row
        df.filter("unit = 'u1'").limit(1).write.mode("overwrite").parquet(
            str(tmp_path / "out" / "s1" / "unit=u1")
        )
        out = runner.run(df, transform=lambda d: {"s1": d})
        assert sorted(out["s1"]) == ["u1", "u2"]  # u1 re-processed
        back = spark.read.parquet(str(tmp_path / "out" / "s1"))
        assert back.count() == 4  # partial u1 output fully overwritten


class TestRealMediaDecode:
    """WAV/BMP/PPM decode is REAL (header math + numpy). Test payloads
    are written by INDEPENDENT encoders — stdlib `wave` for WAV, a
    spec-following writer for BMP/PPM — so the decoders aren't checked
    against themselves."""

    @staticmethod
    def _wav_bytes(freq=440.0, rate=8000, n=800, channels=1):
        import io
        import math
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            frames = b"".join(
                struct.pack(
                    "<" + "h" * channels,
                    *([int(32000 * math.sin(2 * math.pi * freq * i / rate))]
                      * channels),
                )
                for i in range(n)
            )
            w.writeframes(frames)
        return buf.getvalue()

    @staticmethod
    def _bmp_bytes(pixels):
        """24-bit bottom-up BMP from [[(r,g,b)...]...] rows."""
        import struct

        h = len(pixels)
        w = len(pixels[0])
        row_bytes = (w * 3 + 3) & ~3
        body = b""
        for row in reversed(pixels):  # bottom-up
            line = b"".join(bytes((b, g, r)) for (r, g, b) in row)
            body += line + b"\x00" * (row_bytes - len(line))
        header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                           2835, 2835, 0, 0)
        return header + info + body

    def test_wav_decode_values(self):
        from loongcollector_spark.functions.multimodal import decode_wav

        mono, rate, ch = decode_wav(self._wav_bytes(rate=8000, n=800))
        assert rate == 8000 and ch == 1 and len(mono) == 800
        # a full-scale sine has RMS ~ 0.707 and peak ~ 0.98
        import numpy as np

        assert abs(float(np.sqrt((mono ** 2).mean())) - 0.69) < 0.05
        assert 0.9 < float(np.abs(mono).max()) <= 1.0

    def test_wav_stereo_mixdown(self):
        from loongcollector_spark.functions.multimodal import decode_wav

        mono, rate, ch = decode_wav(self._wav_bytes(channels=2, n=100))
        assert ch == 2 and len(mono) == 100

    def test_bmp_decode_pixels(self):
        from loongcollector_spark.functions.multimodal import decode_bmp

        px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
        arr = decode_bmp(self._bmp_bytes(px))
        assert arr.shape == (2, 2, 3)
        assert tuple(arr[0, 0]) == (255, 0, 0)  # top-left after flip
        assert tuple(arr[0, 1]) == (0, 255, 0)
        assert tuple(arr[1, 1]) == (10, 20, 30)

    def test_ppm_decode_with_comment(self):
        from loongcollector_spark.functions.multimodal import decode_ppm

        payload = b"P6\n# a comment\n2 1\n255\n" + bytes(
            [255, 0, 0, 0, 0, 255]
        )
        arr = decode_ppm(payload)
        assert arr.shape == (1, 2, 3)
        assert tuple(arr[0, 0]) == (255, 0, 0) and tuple(arr[0, 1]) == (0, 0, 255)

    def test_resize_nearest(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import resize_image

        arr = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
        out = resize_image(arr, 4, 4)
        assert out.shape == (4, 4, 3)
        assert (out[0, 0] == arr[0, 0]).all() and (out[3, 3] == arr[1, 1]).all()

    def test_extract_features_real_formats_in_spark(self, spark):
        from loongcollector_spark.functions import multimodal as mm

        rows = [
            (1, bytearray(self._wav_bytes()), "audio/wav", None),
            (2, bytearray(self._bmp_bytes([[(0, 0, 0), (255, 255, 255)]])),
             "image/bmp", None),
            (3, bytearray(b"P6\n1 1\n255\n\x7f\x7f\x7f"), "image/x-ppm", None),
            (4, bytearray(b"\x89PNG fake"), "image/png", None),  # falls to fake
            (5, bytearray(b"BMbroken"), "image/bmp", None),  # corrupt → not ok
        ]
        df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = {r.media_id: r for r in mm.extract_features(df).collect()}
        assert out[1].decode_ok and abs(out[1].feature[2] - 0.69) < 0.05  # rms
        assert out[2].decode_ok and abs(out[2].feature[5] - 0.5) < 0.01  # gray std
        assert out[3].decode_ok and abs(out[3].feature[2] - 0.498) < 0.01  # mean r
        assert out[4].decode_ok  # deterministic fake path
        assert not out[5].decode_ok  # corrupt real format = data, not error

    def test_decode_strict_raises_for_codec_formats(self, spark):
        import pytest as _pytest

        from loongcollector_spark.functions import multimodal as mm

        # webm/mkv: no native decoder and no container parser here
        df = spark.createDataFrame(
            [(1, bytearray(b"\x1a\x45\xdf\xa3 webm payload"),
              "video/webm", None)],
            mm.MEDIA_SCHEMA,
        )
        with _pytest.raises(Exception, match="NotImplementedError|codec"):
            mm.extract_features(df, deterministic_fake=False).collect()


def _encode_png(arr, color_type, filter_types, palette=None):
    """Independent spec-following PNG writer (forward filtering) so
    decode_png isn't tested against itself. `filter_types` is one filter
    id per scanline."""
    import struct
    import zlib

    import numpy as np

    h, w = arr.shape[:2]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    flat = arr.reshape(h, w * channels).astype(np.int32)
    bpp = channels
    stride = w * channels
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = filter_types[y % len(filter_types)]
        cur = flat[y]
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if ft == 0:
            out = cur
        elif ft == 1:
            out = cur - left
        elif ft == 2:
            out = cur - prev
        elif ft == 3:
            out = cur - ((left + prev) >> 1)
        elif ft == 4:
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            out = cur - pred
        raw.append(ft)
        raw += bytes((out & 0xFF).astype(np.uint8))
        prev = cur

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", bytes(palette))
    png += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return png + chunk(b"IEND", b"")


def _encode_gif(indices, palette):
    """Independent GIF89a writer: literal-only LZW (CLEAR before every
    pixel code keeps the table static — valid per the spec, just
    uncompressed)."""
    import struct

    h = len(indices)
    w = len(indices[0])
    n_colors = len(palette)
    bits = max(2, (n_colors - 1).bit_length())
    gct = bytearray()
    for rgb in palette:
        gct += bytes(rgb)
    gct += b"\x00" * ((3 << bits) - len(gct))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += gct
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = bits
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    acc = nbits = 0
    codes = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            codes.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for row in indices:
        for px in row:
            emit(clear)
            emit(px)
    emit(eoi)
    if nbits:
        codes.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(codes), 255):
        blk = codes[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


class TestRepetitionDecontam:
    def test_repetition_signals_values(self, spark):
        from loongcollector_spark.functions.textclean import repetition_signals

        rows = [
            # 3 lines, one duplicated: dup_line_frac=1/3; "ab cd" bigram ×2
            (1, "ab cd ab cd\nxx yy\nab cd ab cd"),
            (2, "all unique words here now"),
            (3, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in repetition_signals(df).collect()}
        r1 = out[1]
        assert abs(r1.dup_line_frac - 1 / 3) < 1e-6
        # duplicated line "ab cd ab cd" (11 chars) counted once beyond
        # its first occurrence; total chars = 29
        assert abs(r1.dup_line_char_frac - 11 / 29) < 1e-6
        # bigram "ab cd" occurs 4x (2 per dup line), "cd ab" 2x — top =
        # 4*5 = 20 chars / 29
        assert abs(r1.top_ngram_char_frac - 20 / 29) < 1e-6
        assert out[2].dup_line_frac == 0.0
        assert out[2].top_ngram_char_frac == 0.0
        assert out[3].top_ngram_char_frac == 0.0

    def test_decontaminate_flags_overlap(self, spark):
        from loongcollector_spark.functions.textclean import decontaminate

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        docs = spark.createDataFrame(
            [
                (1, "prefix words the quick brown fox jumps over the lazy dog suffix"),
                (2, "completely different content with no overlap at all whatsoever"),
                (3, "short doc"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in decontaminate(docs, bench, n=8).collect()}
        assert out[1].contaminated and out[1].n_hits >= 1
        assert not out[2].contaminated and out[2].n_hits == 0
        assert not out[3].contaminated  # < n words → no grams, no flag

    def test_decontaminate_plan_broadcasts_benchmark(self, spark):
        from loongcollector_spark.functions.textclean import decontaminate

        docs = spark.createDataFrame(
            [(i, f"w{i} " * 10) for i in range(20)], "doc_id long, text string"
        )
        bench = docs.limit(2)
        plan = decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


def _encode_jpeg(arr, subsample=False, quant=4, restart_interval=0):
    """Independent spec-following baseline JPEG writer (forward DCT +
    flat quant + single-length huffman tables) so decode_jpeg isn't
    tested against itself. `arr` is (H, W, 3) RGB uint8 or (H, W) gray.
    JPEG is lossy: roundtrip asserts tolerance, not equality."""
    import struct

    import numpy as np

    from loongcollector_spark.functions.multimodal import _JPEG_ZIGZAG

    u = np.arange(8)
    C = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) * 0.5
    C[0, :] *= 1 / np.sqrt(2)

    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
        samps = [(1, 1)]
    else:
        f = arr.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsample:  # 4:2:0 — chroma = 2x2 mean
            H2, W2 = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            def pad(p, hh, ww):
                return np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
                              mode="edge")
            cbs = pad(cb, H2, W2).reshape(H2 // 2, 2, W2 // 2, 2).mean((1, 3))
            crs = pad(cr, H2, W2).reshape(H2 // 2, 2, W2 // 2, 2).mean((1, 3))
            planes = [y, cbs, crs]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = []
    for p, (sh, sv) in zip(planes, samps):
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        padded.append(
            np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        )

    # single-length(8) canonical tables: DC syms 0..11, AC all (r,s) + EOB/ZRL
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    def canon(syms):
        return {sym: (8, i) for i, sym in enumerate(syms)}
    dc_code, ac_code = canon(dc_syms), canon(ac_syms)

    out = bytearray()
    bitbuf, bitcnt = 0, 0

    def put(code, length):
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << length) | code
        bitcnt += length
        while bitcnt >= 8:
            byte = (bitbuf >> (bitcnt - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            bitcnt -= 8
            bitbuf &= (1 << bitcnt) - 1

    def flushbits():
        nonlocal bitbuf, bitcnt
        if bitcnt:
            pad = 8 - bitcnt
            byte = ((bitbuf << pad) | ((1 << pad) - 1)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            bitbuf = bitcnt = 0

    def magnitude(v):
        t = 0
        a = abs(v)
        while a:
            t += 1
            a >>= 1
        return t

    def put_val(v, t):
        if t:
            put(v if v >= 0 else v + (1 << t) - 1, t)

    zz = _JPEG_ZIGZAG
    pred = [0] * len(planes)

    def encode_block(plane, ci, y0, x0):
        blk = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
        coef = C @ blk @ C.T
        q = np.rint(coef / quant).astype(int)
        seq = [q.flat[zz[i]] for i in range(64)]
        diff = seq[0] - pred[ci]
        pred[ci] = seq[0]
        t = magnitude(diff)
        put(*(lambda c: (c[1], c[0]))(dc_code[t]))
        put_val(diff, t)
        run = 0
        last_nz = 0
        for k in range(1, 64):
            if seq[k]:
                last_nz = k
        for k in range(1, last_nz + 1):
            if seq[k] == 0:
                run += 1
                continue
            while run >= 16:
                l, c = ac_code[0xF0]
                put(c, l)
                run -= 16
            s = magnitude(seq[k])
            l, c = ac_code[(run << 4) | s]
            put(c, l)
            put_val(seq[k], s)
            run = 0
        if last_nz < 63:
            l, c = ac_code[0x00]
            put(c, l)

    # headers
    hdr = bytearray(b"\xff\xd8")
    qtab = bytes([quant] * 64)
    hdr += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab
    nc = len(planes)
    hdr += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci, (sh, sv) in enumerate(samps):
        hdr += bytes([ci + 1, (sh << 4) | sv, 0])
    def dht(tc, syms):
        counts = [0] * 16
        counts[7] = len(syms)
        return (b"\xff\xc4" + struct.pack(">H", 19 + len(syms))
                + bytes([tc << 4]) + bytes(counts) + bytes(syms))
    hdr += dht(0, dc_syms) + dht(1, ac_syms)
    if restart_interval:
        hdr += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    hdr += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        hdr += bytes([ci + 1, 0x00])
    hdr += b"\x00\x3f\x00"

    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                flushbits()
                out.append(0xFF)
                out.append(0xD0 + (rst & 7))
                rst += 1
                for i in range(len(pred)):
                    pred[i] = 0
            for ci, (p, (sh, sv)) in enumerate(zip(padded, samps)):
                for by in range(sv):
                    for bx in range(sh):
                        encode_block(
                            p, ci, (my * sv + by) * 8, (mx * sh + bx) * 8
                        )
            mcu_count += 1
    flushbits()
    return bytes(hdr) + bytes(out) + b"\xff\xd9"


class TestJpegDecode:
    """Baseline JPEG decode is REAL (huffman + dequant + IDCT in numpy).
    Roundtrip against the independent encoder above — tolerance, not
    equality, because JPEG is lossy."""

    @staticmethod
    def _gradient(h, w):
        import numpy as np

        yy, xx = np.mgrid[0:h, 0:w]
        r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
        g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
        b = ((xx + yy) * 255 // max(h + w - 2, 1)).astype(np.uint8)
        return np.stack([r, g, b], axis=2)

    def test_uniform_color_exact_dc(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_jpeg

        arr = np.full((16, 16, 3), (90, 160, 40), np.uint8)
        out = decode_jpeg(_encode_jpeg(arr))
        assert out.shape == (16, 16, 3)
        assert np.abs(out.astype(int) - arr.astype(int)).max() <= 3

    def test_gradient_roundtrip_444(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_jpeg

        arr = self._gradient(24, 17)  # non-multiple-of-8 width
        out = decode_jpeg(_encode_jpeg(arr, quant=2))
        assert out.shape == arr.shape
        diff = np.abs(out.astype(int) - arr.astype(int))
        assert diff.mean() < 3 and diff.max() <= 32

    def test_gradient_roundtrip_420_subsampled(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_jpeg

        arr = self._gradient(32, 24)
        out = decode_jpeg(_encode_jpeg(arr, subsample=True, quant=2))
        assert out.shape == arr.shape
        diff = np.abs(out.astype(int) - arr.astype(int))
        assert diff.mean() < 6 and diff.max() <= 64

    def test_grayscale(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_jpeg

        arr = self._gradient(16, 16)[:, :, 0]
        out = decode_jpeg(_encode_jpeg(arr, quant=2))
        assert out.shape == (16, 16, 1)
        diff = np.abs(out[:, :, 0].astype(int) - arr.astype(int))
        assert diff.mean() < 3

    def test_restart_markers(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_jpeg

        arr = self._gradient(32, 32)
        out = decode_jpeg(_encode_jpeg(arr, quant=2, restart_interval=2))
        diff = np.abs(out.astype(int) - arr.astype(int))
        assert diff.mean() < 3 and diff.max() <= 32

    def test_progressive_rejected(self):
        import pytest as _pytest

        from loongcollector_spark.functions.multimodal import decode_jpeg

        payload = _encode_jpeg(self._gradient(8, 8))
        # flip SOF0 (0xC0) to SOF2 (0xC2, progressive)
        i = payload.index(b"\xff\xc0")
        bad = payload[:i] + b"\xff\xc2" + payload[i + 2:]
        with _pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg(bad)


def _encode_mp4(duration_ms=12_000, timescale=1000, video=(640, 360),
                audio=True):
    """Independent minimal ISO BMFF writer (ftyp + moov/mvhd + traks
    with tkhd/mdia/hdlr/minf/stbl/stsd) for parse_mp4_meta tests."""
    import struct

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def full(btype, ver, flags, payload):
        return box(btype, struct.pack(">B3s", ver, flags.to_bytes(3, "big")) + payload)

    mvhd = full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, timescale, duration_ms * timescale // 1000
    ) + b"\x00" * 80)

    def trak(handler, codec, w=0, h=0):
        tkhd = full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                    + b"\x00" * 52
                    + struct.pack(">II", w << 16, h << 16))
        hdlr = full(b"hdlr", 0, 0, struct.pack(">I4s4s", 0, handler, b"\x00" * 4)
                    + b"\x00" * 9)
        entry = struct.pack(">I4s", 16, codec) + b"\x00" * 8
        stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        stbl = box(b"stbl", stsd)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", hdlr + minf)
        return box(b"trak", tkhd + mdia)

    traks = trak(b"vide", b"avc1", *video)
    if audio:
        traks += trak(b"soun", b"mp4a")
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + box(b"moov", mvhd + traks)


class TestMp4ContainerParse:
    def test_box_walk_metadata(self):
        from loongcollector_spark.functions.multimodal import parse_mp4_meta

        meta = parse_mp4_meta(_encode_mp4(duration_ms=45_000, video=(1280, 720)))
        assert meta["brand"] == "isom"
        assert meta["duration_ms"] == 45_000
        assert meta["n_tracks"] == 2
        assert meta["width"] == 1280 and meta["height"] == 720
        assert "vide" in meta["handlers"] and "soun" in meta["handlers"]
        assert "avc1" in meta["codecs"] and "mp4a" in meta["codecs"]

    def test_video_features_through_spark(self, spark):
        from loongcollector_spark.functions import multimodal as mm

        mp4 = _encode_mp4(duration_ms=60_000, video=(640, 360), audio=False)
        df = spark.createDataFrame(
            [(1, bytearray(mp4), "video/mp4", None),
             (2, bytearray(b"\x00\x00\x00\x08ftyp"), "video/mp4", None)],
            mm.MEDIA_SCHEMA,
        )
        out = {r.media_id: r for r in mm.extract_features(df).collect()}
        assert out[1].decode_ok
        assert abs(out[1].feature[0] - 1.0) < 1e-6  # 60s = 1 minute
        assert abs(out[1].feature[2] - 640 / 4096) < 1e-6
        assert out[1].feature[4] == 1.0 and out[1].feature[5] == 0.0
        # truncated ftyp-only box: still parses (brand only)
        assert out[2].decode_ok

    def test_corrupt_box_is_data(self):
        import pytest as _pytest

        from loongcollector_spark.functions.multimodal import parse_mp4_meta

        with _pytest.raises(ValueError):
            parse_mp4_meta(b"\x00\x00\x00\xffftyp")  # size beyond payload


class TestPngGifDecode:
    """PNG (zlib + unfiltering) and GIF (LZW) decode are REAL stdlib
    paths now — roundtrip against the independent encoders above."""

    @staticmethod
    def _rand_arr(h, w, c, seed):
        import numpy as np

        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(h, w, c), dtype=np.uint8).reshape(h, w, c)

    @pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
    def test_png_rgb_roundtrip_each_filter(self, ft):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_png

        arr = self._rand_arr(7, 5, 3, seed=ft)
        out = decode_png(_encode_png(arr, 2, [ft]))
        assert out.shape == (7, 5, 3) and np.array_equal(out, arr)

    def test_png_rgba_mixed_filters(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_png

        arr = self._rand_arr(9, 4, 4, seed=42)
        out = decode_png(_encode_png(arr, 6, [0, 1, 2, 3, 4]))
        assert out.shape == (9, 4, 4) and np.array_equal(out, arr)

    def test_png_grayscale(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_png

        arr = self._rand_arr(3, 6, 1, seed=1)
        out = decode_png(_encode_png(arr, 0, [1, 4]))
        assert out.shape == (3, 6, 1) and np.array_equal(out, arr)

    def test_png_palette(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_png

        pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
        idx = self._rand_arr(4, 4, 1, seed=2) % 4
        flat_pal = [b for rgb in pal for b in rgb]
        out = decode_png(_encode_png(idx, 3, [0, 2], palette=flat_pal))
        expect = np.array(pal, dtype=np.uint8)[idx[:, :, 0]]
        assert np.array_equal(out, expect)

    def test_png_interlace_rejected(self):
        import struct
        import zlib

        from loongcollector_spark.functions.multimodal import decode_png

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)  # interlace=1
        crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
        png = (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(">I", crc)
        )
        with pytest.raises(ValueError, match="interlace|missing"):
            decode_png(png)

    def test_gif_roundtrip(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import decode_gif

        pal = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]
        idx = [[0, 1, 2, 3], [3, 2, 1, 0], [1, 1, 2, 2]]
        out = decode_gif(_encode_gif(idx, pal))
        expect = np.array(pal, dtype=np.uint8)[np.array(idx)]
        assert out.shape == (3, 4, 3) and np.array_equal(out, expect)

    def test_png_gif_through_spark_features(self, spark):
        from loongcollector_spark.functions import multimodal as mm

        arr = self._rand_arr(6, 6, 3, seed=9)
        png = _encode_png(arr, 2, [4])
        gif = _encode_gif([[0, 1], [1, 0]], [(0, 0, 0), (255, 255, 255)])
        rows = [
            (1, bytearray(png), "image/png", None),
            (2, bytearray(gif), "image/gif", None),
            (3, bytearray(b"\x89PNG\r\n\x1a\ncorrupt"), "image/png", None),
        ]
        df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = {r.media_id: r for r in mm.extract_features(df).collect()}
        assert out[1].decode_ok
        import numpy as np

        f = arr.astype("float32") / 255.0
        assert abs(out[1].feature[2] - float(f[:, :, 0].mean())) < 1e-6
        assert out[2].decode_ok and abs(out[2].feature[2] - 0.5) < 1e-6
        assert not out[3].decode_ok  # corrupt real format = data, not error


class TestTextClean:
    """C4 line filtering + Gopher document rules (public heuristics)."""

    def test_c4_line_filter(self, spark):
        from loongcollector_spark.functions.textclean import c4_line_filter

        doc = "\n".join([
            "This line is a keeper.",           # kept
            "short.",                            # < 3 words
            "No terminal punctuation here",      # no punct
            "Enable javascript to continue.",    # boilerplate
            "Object has { braces } in it.",      # braces
            "Another good sentence stays!",      # kept
        ])
        df = spark.createDataFrame([(doc,)], "text string")
        out = df.select(c4_line_filter(F.col("text")).alias("t")).collect()[0]["t"]
        assert out == "This line is a keeper.\nAnother good sentence stays!"

    def test_gopher_signals_and_verdict(self, spark):
        from loongcollector_spark.functions.textclean import quality_filter

        good = ("the quick brown fox jumps over the lazy dog and then "
                "runs away with great speed to be free of the yard") * 2
        symbols = "# " * 40 + "words to have some body in the text"
        bullets = "\n".join("- item" for _ in range(10))
        df = spark.createDataFrame(
            [(1, good), (2, symbols), (3, bullets)], "doc_id int, text string"
        )
        out = {r.doc_id: r for r in quality_filter(
            df, min_words=10, min_stop_words=1).collect()}
        assert out[1].keep
        assert not out[2].keep and out[2].gopher.symbol_ratio > 0.1
        assert not out[3].keep and out[3].gopher.bullet_line_ratio > 0.9

    def test_signals_values(self, spark):
        from loongcollector_spark.functions.textclean import gopher_signals

        df = spark.createDataFrame([("the cat... sat #ok\n- bullet",)],
                                   "text string")
        s = df.select(gopher_signals(F.col("text")).alias("g")).collect()[0]["g"]
        assert s.n_words == 6  # the cat... sat #ok - bullet
        assert s.stop_word_hits == 1  # 'the'
        assert s.symbol_ratio > 0
        assert s.bullet_line_ratio == 0.5


class TestSynthMediaOracle:
    """synth_doc_media → extract_features closed-form anchoring: the
    production encoders (encode_bmp_rgb / encode_wav_pcm16 /
    encode_png_rgb) produce valid payloads whose decoded integer stats
    equal pure id arithmetic — the same contract the driver oracle
    checks at scale (multimodal_decode_stats)."""

    def test_decoded_stats_match_closed_form(self, spark):
        from loongcollector_spark.functions.multimodal import (
            extract_features,
            synth_doc_media,
        )

        # 133786 % 3 == 1 and 133786*37 % 60001 == 30000 → WAV with
        # amplitude exactly 0 (edge); 1 mod 3 → wav; 0 → bmp; 2 → png,
        # and the id sweep varies w*3 % 4 so every BMP pad width occurs
        ids = [0, 1, 2, 3, 4, 5, 6, 7, 8, 12, 97, 133786, 810811]
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        feats = extract_features(synth_doc_media(df), deterministic_fake=False)
        rows = {r.media_id: r for r in feats.collect()}
        assert all(r.decode_ok for r in rows.values())
        for i in ids:
            f = rows[i].feature
            if i % 3 == 1:
                n, v = 50 + i % 100, (i * 37) % 60001 - 30000
                assert round(f[0] * 60 * 8000) == n
                assert round(f[1] * 48000) == 8000
                assert round(f[4] * 32768) == abs(v), i
                assert round(f[6] * 8) == 1
            else:
                assert rows[i].media_type == (
                    "image/bmp" if i % 3 == 0 else "image/png"
                )
                assert round(f[0] * 4096) == 4 + i % 13
                assert round(f[1] * 4096) == 3 + i % 7
                assert round(f[2] * 255) == (i * 3 + 7) % 256, i
                assert round(f[3] * 255) == (i * 5 + 11) % 256
                assert round(f[4] * 255) == (i * 7 + 13) % 256

    def test_encoders_roundtrip_nonconstant(self):
        """Gradient payloads through the production encoders decode
        byte-exactly — catches channel-order bugs a constant color
        cannot (BGR↔RGB twice would cancel in the oracle)."""
        import numpy as np

        from loongcollector_spark.functions.multimodal import (
            decode_bmp,
            decode_png,
            decode_wav,
            encode_bmp_rgb,
            encode_png_rgb,
            encode_wav_pcm16,
        )

        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp_rgb(arr)) == arr).all()
        assert (decode_png(encode_png_rgb(arr)) == arr).all()
        samples = rng.integers(-32768, 32767, size=321, dtype=np.int16)
        mono, rate, ch = decode_wav(encode_wav_pcm16(samples, 44100, 1))
        assert rate == 44100 and ch == 1
        assert np.allclose(mono, samples.astype(np.float32) / 32768.0)


def _encode_mjpeg_mp4(frame_arrays, duration_ms=3000, quant=2):
    """Independent minimal Motion-JPEG MP4 writer: each frame is a
    complete baseline JPEG (via the spec-following test encoder) laid
    out in mdat, with a real stsz/stco/stsc sample table (one sample per
    chunk) in a 'jpeg'-codec video track."""
    import struct

    jpegs = [_encode_jpeg(a, quant=quant) for a in frame_arrays]
    sizes = [len(j) for j in jpegs]

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def full(btype, ver, flags, payload):
        return box(btype, struct.pack(">B3s", ver, flags.to_bytes(3, "big")) + payload)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mdat = box(b"mdat", b"".join(jpegs))
    base = len(ftyp) + 8  # first frame starts after the mdat header
    offsets = []
    off = base
    for s in sizes:
        offsets.append(off)
        off += s

    h0, w0 = frame_arrays[0].shape[:2]
    tkhd = full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                + b"\x00" * 52 + struct.pack(">II", w0 << 16, h0 << 16))
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I4s4s", 0, b"vide", b"\x00" * 4)
                + b"\x00" * 9)
    entry = struct.pack(">I4s", 16, b"jpeg") + b"\x00" * 8
    stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stsz = full(b"stsz", 0, 0, struct.pack(">II", 0, len(sizes))
                + struct.pack(f">{len(sizes)}I", *sizes))
    stco = full(b"stco", 0, 0, struct.pack(">I", len(offsets))
                + struct.pack(f">{len(offsets)}I", *offsets))
    stsc = full(b"stsc", 0, 0, struct.pack(">I", 1)
                + struct.pack(">III", 1, 1, 1))
    stbl = box(b"stbl", stsd + stsz + stco + stsc)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    mvhd = full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, 1000, duration_ms) + b"\x00" * 80)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


class TestMjpegFrameDecode:
    """VERDICT r3 #9: a real pixel path for at least one video codec —
    Motion-JPEG samples are complete JPEGs, so the container sample
    table + decode_jpeg decodes frames with no codec library."""

    def _frames(self):
        import numpy as np

        f0 = np.full((16, 16, 3), 64, dtype=np.uint8)
        f1 = np.full((16, 16, 3), 192, dtype=np.uint8)
        g = np.zeros((16, 16, 3), dtype=np.uint8)
        g[:, :, 0] = np.linspace(0, 255, 16, dtype=np.uint8)[None, :]
        return [f0, f1, g]

    def test_decode_all_frames_roundtrip(self):
        import numpy as np

        from loongcollector_spark.functions.multimodal import (
            decode_mjpeg_frames,
        )

        frames = self._frames()
        payload = _encode_mjpeg_mp4(frames)
        out = decode_mjpeg_frames(payload)
        assert [i for i, _ in out] == [0, 1, 2]
        for (_, got), want in zip(out, frames):
            assert got.shape == want.shape
            # JPEG is lossy: assert closeness, not equality
            assert float(np.abs(got.astype(int) - want.astype(int)).mean()) < 12

    def test_frame_indices_subset(self):
        from loongcollector_spark.functions.multimodal import (
            decode_mjpeg_frames,
        )

        payload = _encode_mjpeg_mp4(self._frames())
        out = decode_mjpeg_frames(payload, frame_indices=[2])
        assert len(out) == 1 and out[0][0] == 2

    def test_video_features_carry_first_frame_mean(self):
        from loongcollector_spark.functions.multimodal import _decode_one

        payload = _encode_mjpeg_mp4(self._frames())
        feats = _decode_one(payload, "video/mp4", deterministic_fake=False)
        # frame 0 is constant 64 → mean/255 ≈ 0.25 (JPEG-lossy tolerance)
        assert abs(feats[7] - 64 / 255) < 0.05
        assert feats[4] == 1.0  # vide handler present

    def test_non_mjpeg_still_raises(self):
        import pytest as _pytest

        from loongcollector_spark.functions.multimodal import (
            decode_mjpeg_frames,
        )

        with _pytest.raises(NotImplementedError, match="codec"):
            decode_mjpeg_frames(_encode_mp4())


class TestDeterministicSampling:
    """functions/sampling.py: md5 hex-prefix sampling — deterministic,
    partition-independent, oracle-portable."""

    def _docs(self, spark, n=4000):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.col("id"), 5)).cast("string").alias("lang"),
        )

    def test_bernoulli_rate_and_determinism(self, spark):
        from loongcollector_spark.functions.sampling import hash_sample

        docs = self._docs(spark)
        a = {r.doc_id for r in hash_sample(docs, 0.25, salt="t").collect()}
        # repartitioning must not change the kept set (content law)
        b = {
            r.doc_id
            for r in hash_sample(docs.repartition(13), 0.25, salt="t").collect()
        }
        assert a == b
        # measured rate within binomial noise (4000 draws, p=.25: sd≈27)
        assert abs(len(a) - 1000) < 110
        # independent salts decorrelate: overlap ≈ rate² of the corpus
        c = {r.doc_id for r in hash_sample(docs, 0.25, salt="u").collect()}
        assert abs(len(a & c) - 250) < 80

    def test_bernoulli_matches_hashlib(self, spark):
        """The Spark predicate equals a pure-Python md5 recomputation —
        the same independence the DuckDB oracle relies on."""
        import hashlib

        from loongcollector_spark.functions.sampling import hash_sample

        docs = self._docs(spark, 500)
        got = {r.doc_id for r in hash_sample(docs, 0.3, salt="x").collect()}
        thresh = format(int(0.3 * 16**8), "08x")
        want = {
            i
            for i in range(500)
            if hashlib.md5(f"{i}x".encode()).hexdigest()[:8] < thresh
        }
        assert got == want

    def test_split_partitions_every_row_once(self, spark):
        from loongcollector_spark.functions.sampling import hash_split

        docs = self._docs(spark)
        out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r.split: r.n for r in out.groupBy("split").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == 4000
        assert abs(counts["train"] - 3200) < 120
        assert abs(counts["val"] - 400) < 90
        assert abs(counts["test"] - 400) < 90
        with pytest.raises(ValueError, match="sum to 1"):
            hash_split(docs, {"a": 0.5, "b": 0.6})

    def test_stratified_quota_exact_and_stable(self, spark):
        from loongcollector_spark.functions.sampling import (
            stratified_quota_sample,
        )

        docs = self._docs(spark)  # 5 langs x 800 docs
        out = stratified_quota_sample(docs, ["lang"], quota=50)
        per = {r.lang: r.n for r in out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert per == {str(i): 50 for i in range(5)}
        # short stratum keeps all rows
        tiny = docs.where(F.col("doc_id") < 3)
        assert stratified_quota_sample(tiny, ["lang"], quota=50).count() == 3
        # determinism under repartition
        a = sorted(r.doc_id for r in out.collect())
        b = sorted(
            r.doc_id
            for r in stratified_quota_sample(
                docs.repartition(17), ["lang"], quota=50
            ).collect()
        )
        assert a == b

    def test_domain_mix_law_and_rates(self, spark):
        """Per-domain keep sets equal a pure-Python md5 recomputation;
        absent domains get the default rate; rates land within binomial
        noise."""
        import hashlib

        from loongcollector_spark.functions.sampling import domain_mix_sample

        docs = self._docs(spark)  # lang 0..4 as the domain, 800 each
        rates = {"0": 0.9, "1": 0.1}
        out = domain_mix_sample(
            docs, rates, domain_col="lang", salt="m", default_rate=0.5
        )
        got = {(r.doc_id, r.lang) for r in out.collect()}

        def thresh(r):
            return format(min(int(r * 16**8), 16**8 - 1), "08x")

        want = {
            (i, str(i % 5))
            for i in range(4000)
            if hashlib.md5(f"{i}m".encode()).hexdigest()[:8]
            < thresh(rates.get(str(i % 5), 0.5))
        }
        assert got == want
        per = {r.lang: r.n for r in out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert abs(per["0"] - 720) < 60   # 800 x 0.9
        assert abs(per["1"] - 80) < 55    # 800 x 0.1
        for lang in ("2", "3", "4"):
            assert abs(per[lang] - 400) < 85  # default 0.5
        # determinism under repartition (content law)
        again = {
            (r.doc_id, r.lang)
            for r in domain_mix_sample(
                docs.repartition(13), rates, domain_col="lang", salt="m",
                default_rate=0.5,
            ).collect()
        }
        assert again == got

    def test_domain_resample_multiplicity_law(self, spark):
        """Copy counts equal the pure-Python law: floor(rate) + one more
        iff bucket < frac(rate); rate 1.0 is identity; rate 0 drops all
        (sequence(1,0) must NOT produce the Spark descending [1,0])."""
        import hashlib
        from collections import Counter

        from loongcollector_spark.functions.sampling import (
            domain_mix_resample,
        )

        docs = self._docs(spark, 1000)
        rates = {"0": 2.5, "1": 0.5, "2": 0.0}
        out = domain_mix_resample(
            docs, rates, domain_col="lang", salt="r", default_rate=1.0
        )
        got = Counter((r.doc_id, r.lang) for r in out.collect())
        # copy ordinals are 1..n exactly
        ords = {
            (r.doc_id, r.copy_n) for r in out.where("lang = '0'").collect()
        }
        for (i, _), n in got.items():
            if i % 5 == 0:
                assert {(i, k) in ords for k in range(1, n + 1)} == {True}

        def thresh(r):
            return format(min(int(r * 16**8), 16**8 - 1), "08x")

        want = Counter()
        for i in range(1000):
            rate = rates.get(str(i % 5), 1.0)
            base = int(rate)
            n = base + (
                hashlib.md5(f"{i}r".encode()).hexdigest()[:8]
                < thresh(rate - base)
            )
            if n >= 1:
                want[(i, str(i % 5))] = n
        assert got == want
        # expected multiplicity ≈ rate per domain (200 rows each)
        per = Counter(lang for (_, lang) in got.elements())
        assert abs(per["0"] - 500) < 70
        assert abs(per["1"] - 100) < 55
        assert per["2"] == 0
        assert per["3"] == 200 and per["4"] == 200

    def test_plan_shapes(self, spark):
        """sample/split/mix: narrow (zero Exchange, codegen'd);
        stratified: exactly one hash-partitioning Exchange (the
        per-stratum window)."""
        from loongcollector_spark.functions.sampling import (
            domain_mix_sample,
            hash_sample,
            hash_split,
            stratified_quota_sample,
        )

        docs = self._docs(spark)
        for df in (
            hash_sample(docs, 0.5),
            hash_split(docs, {"a": 0.5, "b": 0.5}),
            domain_mix_sample(docs, {"0": 0.9}, domain_col="lang"),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
        plan = (
            stratified_quota_sample(docs, ["lang"], quota=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1


class TestSequencePacking:
    """functions/packing.py: concatenate-and-cut token packing."""

    def _docs(self, spark):
        rows = [(i, "s%d" % (i % 3), 10 + (i * 7) % 90) for i in range(300)]
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_tokens long"
        )

    def test_stream_conservation_and_bins(self, spark):
        """Every token lands in exactly one bin: per-doc tokens_in_bin
        sums to the doc's tokens; per-(shard, bin) totals are exactly
        the budget for all but each shard's LAST bin."""
        from loongcollector_spark.functions.packing import pack_sequences

        docs = self._docs(spark)
        out = pack_sequences(docs, budget=128, shard_cols=["source"]).cache()
        per_doc = {
            r.doc_id: r.s
            for r in out.groupBy("doc_id")
            .agg(F.sum("tokens_in_bin").alias("s"))
            .collect()
        }
        want = {r.doc_id: r.n_tokens for r in docs.collect()}
        assert per_doc == want
        per_bin = (
            out.groupBy("source", "bin_id")
            .agg(F.sum("tokens_in_bin").alias("s"))
            .collect()
        )
        last = {}
        for r in per_bin:
            last[r.source] = max(last.get(r.source, -1), r.bin_id)
        for r in per_bin:
            if r.bin_id < last[r.source]:
                assert r.s == 128, (r.source, r.bin_id, r.s)
            else:
                assert 0 < r.s <= 128
        out.unpersist()

    def test_spanning_and_offsets(self, spark):
        """A doc longer than the budget spans ceil-consistent bins and
        n_bins_spanned matches its row count; offsets are the running
        stream positions in hash order."""
        from loongcollector_spark.functions.packing import pack_sequences

        docs = spark.createDataFrame(
            [(1, 300), (2, 50), (3, 700)], "doc_id long, n_tokens long"
        )
        out = pack_sequences(docs, budget=256).collect()
        rows_per = {}
        for r in out:
            rows_per.setdefault(r.doc_id, []).append(r)
        for did, rs in rows_per.items():
            assert len(rs) == rs[0].n_bins_spanned
            assert sum(x.tokens_in_bin for x in rs) == {1: 300, 2: 50, 3: 700}[did]
        # offsets: ordered by hash, contiguous (stream has no holes)
        firsts = sorted({r.doc_id: r.start_offset for r in out}.items(),
                        key=lambda kv: kv[1])
        sizes = {1: 300, 2: 50, 3: 700}
        acc = 0
        for did, off in firsts:
            assert off == acc
            acc += sizes[did]

    def test_deterministic_and_zero_dropped(self, spark):
        from loongcollector_spark.functions.packing import pack_sequences

        docs = self._docs(spark).union(
            spark.createDataFrame([(999, "s0", 0)],
                                  "doc_id long, source string, n_tokens long")
        )
        a = sorted(map(tuple, pack_sequences(
            docs, 64, shard_cols=["source"]).collect()))
        b = sorted(map(tuple, pack_sequences(
            docs.repartition(11), 64, shard_cols=["source"]).collect()))
        assert a == b
        assert not any(t[1] == 999 for t in a)  # zero-token doc dropped

    def test_plan_single_exchange(self, spark):
        from loongcollector_spark.functions.packing import pack_sequences

        plan = (
            pack_sequences(self._docs(spark), 128, shard_cols=["source"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1
        assert "InPandas" not in plan


class TestMinhashMd5Family:
    def test_exact_dups_pair_at_one(self, spark):
        """Identical docs collide in every band and verify at 1.0;
        unrelated docs with disjoint vocab produce no pair."""
        from loongcollector_spark.functions.dedup import (
            minhash_lsh_candidates_md5,
        )

        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha beta gamma delta"),
                (3, "zeta eta theta iota"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in minhash_lsh_candidates_md5(df).collect()
        }
        assert got == {(1, 2): 1.0}

    def test_matches_hashlib_signature(self, spark):
        """Member hashes equal a pure-Python md5 recomputation — the
        independence the DuckDB oracle relies on."""
        import hashlib

        from loongcollector_spark.functions import dedup

        df = spark.createDataFrame([(7, "one two two three")],
                                   "doc_id long, text string")
        from pyspark.sql import functions as F

        sh = dedup.shingles(F.col("text"), 1)
        row = df.select(sh.alias("sh")).select(
            "sh",
            *[
                F.array_min(
                    F.transform(
                        F.col("sh"),
                        (lambda tag: lambda s: F.substring(
                            F.md5(F.concat(s, tag).cast("binary")), 1, 16
                        ))(F.lit(f"#{i}")),
                    )
                ).alias(f"m{i}")
                for i in range(4)
            ],
        ).collect()[0]
        words = set(row["sh"])
        assert words == {"one", "two", "three"}
        for i in range(4):
            want = min(
                hashlib.md5(f"{w}#{i}".encode()).hexdigest()[:16]
                for w in words
            )
            assert row[f"m{i}"] == want, i


class TestSimhashMd5Family:
    def test_exact_dups_hamming_zero(self, spark):
        """Identical docs share every block and verify at Hamming 0;
        disjoint-vocab docs produce no candidate pair."""
        from loongcollector_spark.functions.dedup import (
            simhash_near_dup_pairs_md5,
        )

        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha beta gamma delta"),
                (3, "zeta eta theta iota kappa wholly different vocabulary"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_near_dup_pairs_md5(df).collect()
        }
        assert got == {(1, 2): 0}

    def test_bits_match_pure_python(self, spark):
        """The 64-bit majority string equals a hashlib recomputation —
        the independence the DuckDB oracle relies on."""
        import hashlib

        from pyspark.sql import functions as F

        from loongcollector_spark.functions import dedup

        df = spark.createDataFrame(
            [(9, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        sh = dedup.shingles(F.col("text"), 1)
        row = df.select(
            sh.alias("sh"),
            dedup.simhash_bits_md5(
                F.transform(sh, lambda s: F.md5(s.cast("binary"))),
                F.size(sh),
            ).alias("bits"),
        ).collect()[0]
        hs = [hashlib.md5(w.encode()).hexdigest() for w in row["sh"]]
        want = "".join(
            "1"
            if 2 * sum(h[b // 4] in dedup._HEX_BIT_MEMBERS[b % 4] for h in hs)
            > len(hs)
            else "0"
            for b in range(64)
        )
        assert row["bits"] == want

    def test_hamming_max_guard(self, spark):
        """4-block banding cannot guarantee recall past Hamming 3."""
        import pytest

        from loongcollector_spark.functions.dedup import (
            simhash_near_dup_pairs_md5,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="hamming_max"):
            simhash_near_dup_pairs_md5(df, hamming_max=4)


class TestContextWindowStats:
    """context_window_stats (functions/packing.py) — hand-computed law."""

    def _run(self, spark, rows, budget, overhead=1):
        from loongcollector_spark.functions.packing import (
            context_window_stats,
        )

        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, n_tokens long"
        )
        out = context_window_stats(
            df, budget=budget, turn_overhead=overhead
        )
        return {
            r["turn_idx"]: r
            for r in out.where(F.col("conv_id") == "c").collect()
        }

    def test_hand_computed(self, spark):
        # costs (tokens+1): 5, 3, 10, 4 → cum 5, 8, 18, 22; budget 12
        rows = [("c", 0, 4), ("c", 1, 2), ("c", 2, 9), ("c", 3, 3)]
        got = self._run(spark, rows, budget=12)
        # i=0: whole prefix fits (5<=12) → 1 turn, cost 5, start 0
        assert (got[0]["ctx_turns"], got[0]["ctx_cost"]) == (1, 5)
        assert got[0]["ctx_start_turn"] == 0
        # i=1: whole prefix fits (8<=12) → both turns
        assert (got[1]["ctx_turns"], got[1]["ctx_cost"]) == (2, 8)
        assert got[1]["ctx_start_turn"] == 0
        # i=2: turns 1..2 cost 13 > 12 → only turn 2 (cost 10)
        assert (got[2]["ctx_turns"], got[2]["ctx_cost"]) == (1, 10)
        assert got[2]["ctx_start_turn"] == 2
        # i=3: turns 2..3 cost 14 > 12 → only turn 3 (cost 4)
        assert (got[3]["ctx_turns"], got[3]["ctx_cost"]) == (1, 4)
        assert not got[3]["truncated"]

    def test_overflowing_turn(self, spark):
        # cost 21 > budget 12: nothing fits, truncated; next turn
        # restarts cleanly after the oversized one
        rows = [("c", 0, 20), ("c", 1, 2)]
        got = self._run(spark, rows, budget=12)
        assert (got[0]["ctx_turns"], got[0]["ctx_cost"]) == (0, 0)
        assert got[0]["truncated"]
        assert got[0]["ctx_start_turn"] == 1  # empty-window convention
        assert (got[1]["ctx_turns"], got[1]["ctx_cost"]) == (1, 3)

    def test_exact_budget_boundary(self, spark):
        # cum hits the budget exactly → still fits (<=)
        rows = [("c", 0, 5), ("c", 1, 5)]  # costs 6, 6; cum 6, 12
        got = self._run(spark, rows, budget=12)
        assert (got[1]["ctx_turns"], got[1]["ctx_cost"]) == (2, 12)

    def test_zero_token_turns_cost_overhead(self, spark):
        # zero-token turns still cost the separator → strictly
        # increasing cum keeps the RANGE frame exact
        rows = [("c", 0, 0), ("c", 1, 0), ("c", 2, 0)]
        got = self._run(spark, rows, budget=2)
        assert (got[2]["ctx_turns"], got[2]["ctx_cost"]) == (2, 2)

    def test_validation(self, spark):
        from loongcollector_spark.functions.packing import (
            context_window_stats,
        )

        df = spark.createDataFrame(
            [("c", 0, 1)], "conv_id string, turn_idx int, n_tokens long"
        )
        with pytest.raises(ValueError, match="budget"):
            context_window_stats(df, budget=0)
        with pytest.raises(ValueError, match="turn_overhead"):
            context_window_stats(df, budget=5, turn_overhead=0)


class TestSessions:
    """sessionize + consecutive_runs (functions/sessions.py)."""

    def test_sessionize_gap_law(self, spark):
        import datetime as dt

        from loongcollector_spark.functions.sessions import sessionize

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("c", 0, t0),
            ("c", 1, t0 + dt.timedelta(seconds=10)),     # same session
            ("c", 2, t0 + dt.timedelta(seconds=200)),    # gap 190 > 100
            ("c", 3, t0 + dt.timedelta(seconds=100)),    # NEGATIVE gap
            ("c", 4, t0 + dt.timedelta(seconds=301)),    # gap 201 > 100
            ("d", 0, t0),                                # other conv
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts timestamp"
        )
        got = {
            (r["conv_id"], r["turn_idx"]): (
                r["session_idx"], r["session_turn_idx"]
            )
            for r in sessionize(df, gap_seconds=100).collect()
        }
        assert got[("c", 0)] == (0, 0)
        assert got[("c", 1)] == (0, 1)
        assert got[("c", 2)] == (1, 0)
        assert got[("c", 3)] == (1, 1)  # out-of-order ts never splits
        assert got[("c", 4)] == (2, 0)
        assert got[("d", 0)] == (0, 0)

    def test_gap_boundary_is_strict(self, spark):
        import datetime as dt

        from loongcollector_spark.functions.sessions import sessionize

        t0 = dt.datetime(2024, 1, 1)
        rows = [("c", 0, t0), ("c", 1, t0 + dt.timedelta(seconds=100))]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts timestamp"
        )
        out = sessionize(df, gap_seconds=100).collect()
        assert {r["session_idx"] for r in out} == {0}  # == gap stays

    def test_consecutive_runs_rle(self, spark):
        from loongcollector_spark.functions.sessions import (
            consecutive_runs,
        )

        rows = [
            ("c", 0, "user", "browser"),
            ("c", 1, "user", "browser"),
            ("c", 2, "user", "search"),   # tool change breaks the run
            ("c", 3, "tool", "search"),
            ("c", 4, "tool", "search"),
            ("c", 5, "tool", "search"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, tool string"
        )
        out = consecutive_runs(df, ["role", "tool"])
        got = sorted(
            (r["run_start_turn"], r["run_end_turn"], r["run_len"])
            for r in out.collect()
        )
        assert got == [(0, 1, 2), (2, 2, 1), (3, 5, 3)]
        only_loops = consecutive_runs(df, ["role", "tool"], min_len=3)
        assert [
            (r["run_start_turn"], r["run_len"])
            for r in only_loops.collect()
        ] == [(3, 3)]

    def test_runs_null_safe_keys(self, spark):
        from loongcollector_spark.functions.sessions import (
            consecutive_runs,
        )

        rows = [("c", 0, None), ("c", 1, None), ("c", 2, "x")]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, tool string"
        )
        got = sorted(
            (r["run_start_turn"], r["run_len"])
            for r in consecutive_runs(df, ["tool"]).collect()
        )
        assert got == [(0, 2), (2, 1)]  # NULL == NULL inside a run

    def test_validation(self, spark):
        from loongcollector_spark.functions.sessions import (
            consecutive_runs,
            sessionize,
        )

        df = spark.createDataFrame(
            [("c", 0, None)], "conv_id string, turn_idx int, ts timestamp"
        )
        with pytest.raises(ValueError, match="gap_seconds"):
            sessionize(df, gap_seconds=-1)
        with pytest.raises(ValueError, match="key_cols"):
            consecutive_runs(df, [])
        with pytest.raises(ValueError, match="min_len"):
            consecutive_runs(df, ["ts"], min_len=0)


class TestBigramLm:
    """functions/lm.py — corpus-self-trained add-k bigram LM scoring
    (the CCNet/KenLM perplexity-filter pattern)."""

    def test_hand_computed_model(self, spark):
        # corpus: "a b" x2 and "a c" — vocab(min_count=2) = {a, b}
        # (c occurs once → <unk>); V = |vocab| + 2 = 4
        from loongcollector_spark.functions import lm

        rows = [(1, "a b"), (2, "a b"), (3, "a c")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r.asDict()
            for r in lm.bigram_lm_score(df, min_count=2, add_k=0.5).collect()
        }
        # mapped bigram counts: (<s>,a)=3, (a,b)=2, (a,<unk>)=1,
        # (b,</s>)=2, (<unk>,</s>)=1; histories: <s>=3, a=3, b=2, <unk>=1
        k, V = 0.5, 4

        def p(cb, ch):
            return (cb + k) / (ch + k * V)

        nll_doc1 = -(
            math.log(p(3, 3)) + math.log(p(2, 3)) + math.log(p(2, 2))
        ) / 3
        nll_doc3 = -(
            math.log(p(3, 3)) + math.log(p(1, 3)) + math.log(p(1, 1))
        ) / 3
        assert out[1]["n_bigrams"] == 3
        assert out[1]["avg_nll"] == round(nll_doc1, 6)
        assert out[2]["avg_nll"] == out[1]["avg_nll"]  # identical doc
        assert out[3]["avg_nll"] == round(nll_doc3, 6)
        assert out[3]["pseudo_ppl"] == round(math.exp(nll_doc3), 6)
        # the unseen-continuation doc is LESS fluent under the model
        assert out[3]["pseudo_ppl"] > out[1]["pseudo_ppl"]

    def test_empty_doc_scores_single_frame_bigram(self, spark):
        from loongcollector_spark.functions import lm

        rows = [(1, "a b a b"), (2, ""), (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["n_bigrams"]
            for r in lm.bigram_lm_score(df).collect()
        }
        # empty/NULL text still scores: the (<s>, </s>) bigram
        assert out[2] == 1 and out[3] == 1 and len(out) == 3

    def test_perplexity_filter_keeps_fluent_docs(self, docs):
        from loongcollector_spark.functions import lm

        scored = lm.bigram_lm_score(docs).cache()
        med = scored.approxQuantile("pseudo_ppl", [0.5], 0.0)[0]
        kept = lm.perplexity_filter(docs, max_pseudo_ppl=med)
        n_keep = kept.filter("keep").count()
        n = docs.count()
        assert 0 < n_keep < n  # the threshold separates the corpus
        # keep is exactly the thresholded score
        bad = kept.filter(
            (F.col("keep") & (F.col("pseudo_ppl") > med))
            | (~F.col("keep") & (F.col("pseudo_ppl") <= med))
        ).count()
        assert bad == 0
        scored.unpersist()

    def test_no_python_nodes_and_partial_agg(self, docs):
        from loongcollector_spark.functions import lm

        plan = (
            lm.bigram_lm_score(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InPandas" not in plan and "BatchEvalPython" not in plan
        assert "partial_count" in plan  # map-side combine on the counts


class TestTfidfTopk:
    def test_hand_computed(self, spark):
        from loongcollector_spark.functions.textstats import tfidf_topk

        rows = [(1, "cat cat dog"), (2, "dog bird")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r["doc_id"], r["term"]): r.asDict()
            for r in tfidf_topk(df, k=5).collect()
        }
        # N=2; df: cat=1, dog=2, bird=1
        idf_rare = math.log(3 / 2) + 1  # df=1
        idf_common = math.log(3 / 3) + 1  # df=2
        assert out[(1, "cat")]["tfidf"] == round(2 * idf_rare, 6)
        assert out[(1, "dog")]["tfidf"] == round(1 * idf_common, 6)
        assert out[(2, "bird")]["tfidf"] == round(1 * idf_rare, 6)
        # ranking: doc1 cat (2.81) > dog (1.0); doc2 bird > dog
        assert out[(1, "cat")]["rank"] == 1 and out[(1, "dog")]["rank"] == 2
        assert out[(2, "bird")]["rank"] == 1 and out[(2, "dog")]["rank"] == 2

    def test_topk_and_deterministic_ties(self, spark):
        from loongcollector_spark.functions.textstats import tfidf_topk

        # all terms unique in one doc → equal scores; ties by term asc
        df = spark.createDataFrame([(1, "c b a")], "doc_id long, text string")
        out = [r["term"] for r in
               tfidf_topk(df, k=2).orderBy("rank").collect()]
        assert out == ["a", "b"]

    def test_single_corpus_pass(self, docs):
        from loongcollector_spark.functions.textstats import tfidf_topk

        plan = (
            tfidf_topk(docs)._jdf.queryExecution().executedPlan().toString()
        )
        # document frequency derives from the tf table: exactly one scan
        # of the documents parquet in the whole plan
        assert plan.count("Scan parquet") <= 2  # tf branch + N-count branch
        assert "InPandas" not in plan


class TestTokenWindowChunks:
    def test_window_boundaries_and_overlap(self, spark):
        from loongcollector_spark.functions.packing import token_window_chunks

        text = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = {
            r["chunk_idx"]: r.asDict()
            for r in token_window_chunks(
                df, chunk_size=4, overlap=2
            ).collect()
        }
        # stride 2 → starts 0,2,4,6,8
        assert sorted(out) == [0, 1, 2, 3, 4]
        assert out[0]["chunk_text"] == "w0 w1 w2 w3"
        assert out[1]["chunk_text"] == "w2 w3 w4 w5"  # 2-token overlap
        assert out[4]["chunk_text"] == "w8 w9"  # trailing short chunk
        assert out[4]["n_tokens"] == 2 and out[4]["start_tok"] == 8

    def test_empty_doc_no_chunks_and_validation(self, spark):
        import pytest as _pytest

        from loongcollector_spark.functions.packing import token_window_chunks

        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "one token here")],
            "doc_id long, text string",
        )
        out = token_window_chunks(df, chunk_size=8, overlap=2).collect()
        assert {r["doc_id"] for r in out} == {3}
        with _pytest.raises(ValueError):
            token_window_chunks(df, chunk_size=4, overlap=4)

    def test_zero_shuffle_plan(self, docs):
        from loongcollector_spark.functions.packing import token_window_chunks

        plan = (
            token_window_chunks(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # chunking runs at scan speed
        assert "InPandas" not in plan


class TestQuantizedAnn:
    def test_quantization_bounds_and_dequant_error(self, spark):
        from loongcollector_spark.functions.similarity import quantize_int8

        rows = [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r.asDict() for r in quantize_int8(df).collect()}
        q1, s1 = out[1]["q"], out[1]["q_scale"]
        assert s1 == 1.0 / 127
        assert q1 == [64, -127, 32]  # round(0.5*127)=64 (half-up), etc.
        assert all(-127 <= x <= 127 for x in q1)
        # dequant error bounded by scale/2 per component
        for orig, qq in zip([0.5, -1.0, 0.25], q1):
            assert abs(orig - qq * s1) <= s1 / 2 + 1e-12
        # zero vector: scale 0, all-zero q
        assert out[2]["q_scale"] == 0.0 and out[2]["q"] == [0, 0, 0]

    def test_recall_vs_brute_force(self, embeddings, spark):
        from loongcollector_spark.functions.similarity import (
            brute_force_topk,
            quantized_topk,
        )
        from pyspark.sql import functions as F

        emb = embeddings.withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        qs = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        exact = brute_force_topk(emb, qs, k=10)
        approx = quantized_topk(emb, qs, k=10, candidates=50)
        e = {(r["qid"], r["nid"]) for r in exact.collect()}
        a = {(r["qid"], r["nid"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        # int8 cosine distortion is tiny; with 5x candidate headroom
        # the top-10 should be nearly fully recovered
        assert recall >= 0.9, recall

    def test_self_neighbor_and_ranks(self, embeddings, spark):
        from loongcollector_spark.functions.similarity import quantized_topk
        from pyspark.sql import functions as F

        emb = embeddings.withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        qs = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out = quantized_topk(emb, qs, k=10, candidates=30).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["qid"], []).append(r)
        for qid, rows in by_q.items():
            ranks = sorted(r["rank"] for r in rows)
            assert ranks == list(range(1, len(rows) + 1))
            top = min(rows, key=lambda r: r["rank"])
            assert top["nid"] == qid and top["sim_r"] == 1.0  # self first


class TestIncrementalDedup:
    def test_ledger_and_batch_dedup(self, spark):
        from loongcollector_spark.functions.dedup import (
            incremental_exact_dedup,
        )

        batch = spark.createDataFrame(
            [
                (1, "already seen"),
                (2, "ALREADY   seen"),  # normalizes to a seen digest
                (3, "brand new"),
                (4, "brand  NEW"),  # in-batch dup of 3
                (5, "also new"),
            ],
            "doc_id long, text string",
        )
        from pyspark.sql import functions as F

        from loongcollector_spark.functions.dedup import normalize_text

        seen = spark.createDataFrame(
            [("already seen",)], "text string"
        ).select(F.xxhash64(normalize_text(F.col("text"))).alias("text_hash"))
        out = {
            r["keep_id"]: r["n_dupes_in_batch"]
            for r in incremental_exact_dedup(batch, seen).collect()
        }
        # 1,2 dropped (ledger hit); 3 keeps with in-batch count 2; 5 new
        assert out == {3: 2, 5: 1}

    def test_empty_ledger_equals_exact_dedup(self, docs, spark):
        from loongcollector_spark.functions.dedup import (
            exact_dedup,
            incremental_exact_dedup,
        )

        empty = spark.createDataFrame([], "text_hash long")
        inc = {
            (r["keep_id"], r["n_dupes_in_batch"])
            for r in incremental_exact_dedup(docs, empty).collect()
        }
        base = {
            (r["keep_id"], r["n_dupes"]) for r in exact_dedup(docs).collect()
        }
        assert inc == base


class TestDomainTokenShare:
    def test_shares_and_zipf_cumulative(self, spark):
        from loongcollector_spark.functions.textstats import (
            domain_token_share,
        )

        rows = [
            (1, "a b c d", "big"),    # 4 tokens
            (2, "a b c d", "big"),    # 4 tokens
            (3, "a b", "small"),      # 2 tokens
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r["source"]: r.asDict() for r in domain_token_share(df).collect()}
        assert out["big"]["n_docs"] == 2 and out["big"]["n_tokens"] == 8
        assert out["big"]["rank"] == 1 and out["small"]["rank"] == 2
        assert out["big"]["token_share"] == 0.8
        assert out["big"]["cum_token_share"] == 0.8
        assert out["small"]["cum_token_share"] == 1.0

    def test_full_corpus_sums_to_one(self, docs):
        from loongcollector_spark.functions.textstats import (
            domain_token_share,
        )

        out = domain_token_share(docs).collect()
        last = max(out, key=lambda r: r["rank"])
        assert abs(last["cum_token_share"] - 1.0) < 1e-6
        assert sorted(r["rank"] for r in out) == list(range(1, len(out) + 1))


class TestBoilerplateNgrams:
    def test_template_detection(self, spark):
        from loongcollector_spark.functions.textclean import (
            boilerplate_ngram_score,
        )

        template = "this is the standard footer text of the site"
        rows = [(i, template) for i in range(5)]  # 5 template copies
        rows.append((10, "completely original writing with unique phrasing here"))
        rows.append((11, "short"))  # < n tokens → no grams
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r.asDict()
            for r in boilerplate_ngram_score(df, n=4, min_df=5).collect()
        }
        assert out[0]["boilerplate_frac"] == 1.0  # every gram in 5 docs
        assert out[10]["boilerplate_frac"] == 0.0
        assert out[11]["n_grams"] == 0
        assert out[11]["boilerplate_frac"] is None
        assert len(out) == 7  # short doc kept, not dropped

    def test_distinct_grams_count_docs_not_occurrences(self, spark):
        from loongcollector_spark.functions.textclean import (
            boilerplate_ngram_score,
        )

        # one doc repeats the same 4-gram 10 times; df must stay 1
        rows = [(1, " ".join(["a b c d"] * 10))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = boilerplate_ngram_score(df, n=4, min_df=2).collect()[0]
        assert out["n_boilerplate_grams"] == 0  # df==1 < min_df
