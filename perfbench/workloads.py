"""The benchmark's workloads: one unit of work each, its output check and
its traced decomposition into spans named ``<module>.<function>``.

A unit calls only the package's public functions. Checks run outside the
timed region and compare the unit's committed output with an independent
computation (DuckDB over the package's ``oracle_*`` SQL, the package's
``__spark_entry__`` oracles, or numpy), returning a list of failures.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

from inputs import corpus_dir, llmops_dir

FLAGSHIP_COLS = (
    "conv_id, turn_idx, role, text, tool, ts, grammar, parsed_user, etype, "
    "error_class, tool_class, role_class"
)
METRIC_COLS = "conv_prefix, ts_hour, error_class, n_rows, n_bytes, sink"


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _norm(v) -> str:
    return "<NULL>" if v is None else f"{v:.9g}" if isinstance(v, float) else str(v)


def _rows(con, sql: str) -> list[tuple]:
    return sorted(tuple(_norm(x) for x in r) for r in con.execute(sql).fetchall())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Flagship:
    """``TranscriptPipeline.run_single_pass`` → ``StageMonitor.observe`` →
    ``write_routed`` → ``metrics_from_snapshot`` written to parquet."""

    name = "flagship_single_pass"
    # unit wall and CPU times keep falling for about ten units after the
    # cold one (CPU from ~6.5 s to ~4.7 s on 4 cores) while the JIT compiles
    settle_units = 7

    def __init__(self, spark, work: str, seed: int, cpus: int) -> None:
        from loongcollector_spark.plans.transcript_pipeline import TranscriptPipeline

        self.spark = spark
        self.src = corpus_dir(work, seed)
        self.out = os.path.join(work, "out", self.name)
        self.snap = os.path.join(self.out, "routed")
        self.metrics_path = os.path.join(self.out, "metrics")
        self.cpus = cpus
        self.pipe = TranscriptPipeline()
        self.corpus = spark.read.parquet(self.src)
        self.in_bytes, _ = dir_bytes(self.src)
        self.in_rows = pq.ParquetDataset(self.src).read(columns=["turn_idx"]).num_rows
        self._oracle = None

    def unit(self) -> dict:
        from loongcollector_spark.monitor import StageMonitor

        mon = StageMonitor()
        routed = mon.observe(
            self.pipe.run_single_pass(self.corpus), "routed", error_class_col="error_class"
        )
        self.pipe.write_routed(routed, self.snap)
        self.pipe.metrics_from_snapshot(self.spark, self.snap).write.mode(
            "overwrite"
        ).parquet(self.metrics_path)
        return mon.results()["routed"]

    def out_bytes(self) -> int:
        return dir_bytes(self.snap)[0]

    # -- output check ----------------------------------------------------
    def _connect(self):
        con = duckdb.connect()
        con.execute(f"SET threads = {self.cpus}")
        return con

    def _digest_sql(self, rel: str, sink_col: str) -> str:
        return (
            f"SELECT {sink_col}, count(*), sum(hash({FLAGSHIP_COLS}) % 1000000007) "
            f"FROM {rel} GROUP BY 1"
        )

    def oracle(self) -> tuple[list, list]:
        """(per-sink row digests, metrics rows) from the package's oracle SQL
        run by DuckDB over the input corpus."""
        if self._oracle is None:
            from loongcollector_spark.plans import transcript_pipeline as tp
            from loongcollector_spark.sources.transcripts import transcripts_duckdb_sql

            src = f"SELECT conv_id, turn_idx, role, text, tool, ts FROM '{self.src}/*.parquet'"

            def on_corpus(sql: str) -> str:
                derived = transcripts_duckdb_sql("events")
                if derived not in sql:
                    raise RuntimeError("oracle SQL no longer embeds the transcripts CTE")
                return sql.replace(derived, src)

            con = self._connect()
            digests = []
            for sink in self.pipe.SINKS:
                rel = f"({on_corpus(tp.oracle_sink_rows_sql(sink))})"
                digests += _rows(con, self._digest_sql(rel, f"'{sink}'"))
            metrics = _rows(con, on_corpus(tp.oracle_metrics_sql()))
            con.close()
            self._oracle = (sorted(digests), metrics)
        return self._oracle

    def check(self, observed: dict) -> list[str]:
        want_digest, want_metrics = self.oracle()
        con = self._connect()
        snap = f"read_parquet('{self.snap}/*/*.parquet', hive_partitioning = true)"
        got_digest = _rows(con, self._digest_sql(snap, "__sink__"))
        got_metrics = _rows(
            con, f"SELECT {METRIC_COLS} FROM '{self.metrics_path}/*.parquet'"
        )
        per_sink = dict(
            con.execute(f"SELECT __sink__, count(*) FROM {snap} GROUP BY 1").fetchall()
        )
        metric_rows = dict(
            con.execute(
                f"SELECT sink, sum(n_rows) FROM '{self.metrics_path}/*.parquet' GROUP BY 1"
            ).fetchall()
        )
        con.close()
        bad = []
        if got_digest != want_digest:
            bad.append(f"routed snapshot differs from oracle: {got_digest} != {want_digest}")
        if got_metrics != want_metrics:
            bad.append(f"metrics differ from oracle ({len(got_metrics)} vs {len(want_metrics)} rows)")
        if {k: int(v) for k, v in metric_rows.items()} != per_sink:
            bad.append(f"metrics n_rows {metric_rows} != snapshot rows {per_sink}")
        if observed.get("in_events_total") != sum(per_sink.values()):
            bad.append(
                f"monitor in_events_total {observed.get('in_events_total')} "
                f"!= rows written {sum(per_sink.values())}"
            )
        return bad

    # -- traced decomposition ---------------------------------------------
    def trace(self, tracer) -> None:
        """Cumulative prefixes of the unit's public calls, one action each;
        a span's self time is its prefix time minus its parent's."""
        from pyspark.sql import functions as F

        from loongcollector_spark.monitor import StageMonitor

        pipe = self.pipe

        def parsed():
            return pipe.parse(self.corpus)

        def enriched():
            return pipe.enrich(parsed())

        def routed():
            return pipe.router.route_multicast_exploded(enriched())

        def observed():
            return StageMonitor().observe(routed(), "routed", error_class_col="error_class")

        # every prefix after the parse carries the same observation, so it
        # cancels out of the self times
        unparsed = F.count(F.when(F.col("grammar") == "unparsed", 1)).alias("unparsed")
        tracer.span("sources.scan", lambda o: _noop(o(self.corpus)))
        tracer.span("operators.parse", lambda o: _noop(o(parsed(), unparsed)),
                    parent="sources.scan")
        tracer.span("operators.enrich", lambda o: _noop(o(enriched(), unparsed)),
                    parent="operators.parse")
        tracer.span("routing.route_multicast_exploded", lambda o: _noop(o(routed(), unparsed)),
                    parent="operators.enrich")
        tracer.span("monitor.observe", lambda o: _noop(o(observed(), unparsed)),
                    parent="routing.route_multicast_exploded")
        tracer.span("sinks.write_routed",
                    lambda o: pipe.write_routed(o(observed(), unparsed), self.snap),
                    parent="monitor.observe", out_dir=self.snap)
        tracer.span(
            "aggregators.metrics_from_snapshot",
            lambda o: o(pipe.metrics_from_snapshot(self.spark, self.snap))
            .write.mode("overwrite").parquet(self.metrics_path),
        )


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


class LlmOps:
    """``minhash_lsh_candidates`` → ``dedup_clusters`` over the documents
    (the clustering reads the written candidate pairs), then
    ``brute_force_topk`` and ``quantized_topk(candidates=30)`` with every
    embedding as a query (k=10). Each result is written to parquet."""

    name = "llmops_dedup_ann"
    # one unit runs dozens of small jobs, so one settling unit suffices
    settle_units = 1
    K = 10

    def __init__(self, spark, work: str, seed: int, cpus: int) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        self.src = llmops_dir(work, seed)
        self.out = os.path.join(work, "out", self.name)
        self.docs = spark.read.parquet(os.path.join(self.src, "documents"))
        self.emb = spark.read.parquet(os.path.join(self.src, "embeddings"))
        self.queries = self.emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        self.in_bytes = sum(
            dir_bytes(os.path.join(self.src, d))[0] for d in ("documents", "embeddings")
        )
        self.doc_table = pq.read_table(os.path.join(self.src, "documents"))
        self.emb_table = pq.read_table(os.path.join(self.src, "embeddings"))
        self.in_rows = self.doc_table.num_rows + self.emb_table.num_rows
        self.cpus = cpus

    def _path(self, part: str) -> str:
        return os.path.join(self.out, part)

    def _write(self, df, part: str) -> None:
        df.write.mode("overwrite").parquet(self._path(part))

    def _frames(self):
        from loongcollector_spark.functions.dedup import dedup_clusters, minhash_lsh_candidates
        from loongcollector_spark.functions.similarity import brute_force_topk, quantized_topk

        # the clustering reads the committed candidate pairs
        return {
            "pairs": lambda: minhash_lsh_candidates(self.docs),
            "clusters": lambda: dedup_clusters(self.spark.read.parquet(self._path("pairs"))),
            "brute": lambda: brute_force_topk(self.emb, self.queries, k=self.K),
            "quant": lambda: quantized_topk(self.emb, self.queries, k=self.K, candidates=30),
        }

    def unit(self) -> dict:
        for part, make in self._frames().items():
            self._write(make(), part)
        return {}

    def out_bytes(self) -> int:
        return dir_bytes(self.out)[0]

    def trace(self, tracer) -> None:
        frames = self._frames()
        for span, part in (
            ("functions.minhash_lsh_candidates", "pairs"),
            ("functions.dedup_clusters", "clusters"),
            ("functions.brute_force_topk", "brute"),
            ("functions.quantized_topk", "quant"),
        ):
            # the frame is built inside the span: both scorers collect the
            # query side while their plan is built
            tracer.span(span, lambda o, m=frames[part], p=part: self._write(o(m()), p))

    # -- output check ----------------------------------------------------
    def check(self, _observed: dict) -> list[str]:
        bad: list[str] = []
        texts = self.doc_table.column("text").to_pylist()
        sh = [_shingles(t) for t in texts]
        pairs = pq.read_table(self._path("pairs")).to_pylist()
        seen = set()
        for p in pairs:
            a, b, sim = p["id_a"], p["id_b"], p["jaccard_sim"]
            exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if not (a < b and abs(exact - sim) < 1e-12 and sim >= 0.8) or (a, b) in seen:
                bad.append(f"minhash pair {p} (exact jaccard {exact})")
                break
            seen.add((a, b))
        if not pairs:
            bad.append("minhash found no near-duplicate pairs")
        # connected components by union-find: cluster id = min member id
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in seen:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in list(parent)}
        got = {r["id"]: r["cluster_id"] for r in pq.read_table(self._path("clusters")).to_pylist()}
        if got != want:
            bad.append(f"dedup clusters differ from union-find ({len(got)} vs {len(want)} ids)")

        vecs = np.stack(self.emb_table.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        sims = unit @ unit.T
        kth = -np.sort(-sims, axis=1)[:, self.K - 1]
        for part, col in (("brute", "cosine_sim"), ("quant", "sim_r")):
            rows = pq.read_table(self._path(part)).to_pylist()
            tol = 1e-6 if part == "brute" else 6e-6
            by_q = defaultdict(list)
            for r in rows:
                by_q[r["qid"]].append(r)
            if len(by_q) != len(vecs):
                bad.append(f"{part}: {len(by_q)} queries answered of {len(vecs)}")
                continue
            for q, rs in by_q.items():
                rs.sort(key=lambda r: r["rank"])
                ok = [r["rank"] for r in rs] == list(range(1, self.K + 1)) and all(
                    abs(r[col] - sims[q, r["nid"]]) <= tol for r in rs
                ) and all(x[col] >= y[col] for x, y in zip(rs, rs[1:]))
                if part == "brute":
                    ok = ok and rs[-1][col] >= kth[q] - tol
                if not ok:
                    bad.append(f"{part}: query {q} result wrong: {rs[:3]}")
                    break
        return bad

    def oracle_check(self) -> list[str]:
        """Once per run: the package's own ``__spark_entry__`` oracles of the same
        functions, on the oracle-size cut of this seed's inputs."""
        import __spark_entry__ as entry

        qs, sql = entry.queries(), entry.oracle_sql()
        sf = os.path.join(self.src, "oracle")
        con = duckdb.connect()
        con.execute(f"SET threads = {self.cpus}")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        bad = []
        for name in ("similarity_cosine_topk", "ann_quantized_int8",
                     "dedup_clusters_cc", "dedup_minhash_lsh_md5"):
            got = sorted(tuple(_norm(x) for x in r) for r in qs[name](self.spark, sf).collect())
            want = _rows(con, sql[name])
            if got != want or not got:
                bad.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
        con.close()
        return bad


WORKLOADS = {w.name: w for w in (Flagship, LlmOps)}


def reset_out(work: str) -> None:
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
