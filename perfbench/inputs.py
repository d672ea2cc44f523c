"""Seeded benchmark inputs, generated once per key and cached on disk.

Every input is a pure function of its key, so the same seed always gives
the same files. The cache lives under the benchmark's own work directory:

* the transcript corpus is keyed by (rows, seed, hot share). It is built
  without Spark, so the measuring process starts from a cold JVM whether
  or not the cache was warm;
* ``documents`` and ``embeddings`` are drawn with numpy: word-salad
  documents with planted near-duplicates, and label-clustered
  64-dimensional float32 vectors. A small fixed-size copy of each, cut
  from the same draw, is written for the package's own oracle queries.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_ROWS = 100_000
CORPUS_HOT_FRAC = 0.2
N_DOCS = 500
N_VECS = 300
VEC_DIM = 64
ORACLE_DOCS = 300
ORACLE_VECS = 200
# claims made on the benchmark seeds are re-checked on this one
HELD_OUT_SEED = 20261016
VOCAB = [f"w{i:03d}" for i in range(400)]


def corpus_dir(work: str, seed: int) -> str:
    return os.path.join(
        work, "inputs", f"corpus_r{CORPUS_ROWS}_s{seed}_h{CORPUS_HOT_FRAC}"
    )


def llmops_dir(work: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"llmops_d{N_DOCS}_v{N_VECS}_s{seed}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def ensure_corpus(work: str, seed: int, cpus: int) -> float:
    """Generate the transcript corpus if it is not cached; returns seconds
    spent. The generator runs in a child process, so the measuring process
    imports nothing of the package before its timed set-up."""
    out = corpus_dir(work, seed)
    if _done(out):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), out, str(CORPUS_ROWS), str(seed),
         str(CORPUS_HOT_FRAC), str(cpus)],
        check=True, timeout=170, env=dict(os.environ, PYTHONPATH=os.getcwd()),
    )
    return time.perf_counter() - t0


def _generate_corpus(out: str, n: int, seed: int, hot_frac: float, cpus: int) -> None:
    """Seeded events (one hot conversation holding ``CORPUS_HOT_FRAC``
    of the turns, the rest spread over ``rows // 200`` conversations) are
    shaped into transcripts by the package's own derivation in its DuckDB
    dialect, so turns spread over the five grammars exactly as in
    ``generate_transcripts``. Rows are shuffled into ``4 * cpus`` files."""
    import duckdb

    from loongcollector_spark.sources.transcripts import transcripts_duckdb_sql

    rng = np.random.default_rng([seed, 1])
    hot = rng.random(n) < hot_frac
    user = np.where(hot, 0, rng.integers(1, max(2, n // 200), n))
    etypes = np.array(["signup", "click", "view", "purchase", "error"])
    k = rng.integers(0, 100, n).astype(str)
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": user.astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n)],
        "props": np.char.add(np.char.add('{"k": ', k), "}"),
        "ts": pa.array(np.arange(n, dtype=np.int64) + 1704067200).cast(
            pa.timestamp("s", tz="UTC")),
    })
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {cpus}")
    con.register("perfbench_events", events)
    corpus = con.execute(transcripts_duckdb_sql("perfbench_events")).arrow()
    con.close()
    corpus = corpus.take(pa.array(rng.permutation(n)))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_parts(corpus, tmp, 4 * cpus)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _write_parts(table: pa.Table, path: str, files: int) -> None:
    """``table`` as ``files`` parquet files under ``path``, so that a scan
    splits into several tasks. Timestamps are INT96, as Spark writes them,
    so that Spark and DuckDB both read ``ts`` as a plain timestamp."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       use_deprecated_int96_timestamps=True)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random documents, a fifth of them near-duplicates of an earlier
    original (0-2 word substitutions), so near-dup clusters are stars
    whose members may also match each other."""
    texts: list[list[str]] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < 0.2:
            toks = list(texts[originals[int(rng.integers(0, len(originals)))]])
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))]
            originals.append(i)
        texts.append(toks)
    text = [" ".join(t) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array([("en", "de", "fr", "zh")[int(x)] for x in rng.integers(0, 4, n)]),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 10, n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vecs = (0.6 * centroids[label] + rng.normal(size=(n, dim))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def ensure_llmops(work: str, seed: int, cpus: int) -> float:
    """documents + embeddings (full size, and the oracle-size cut)."""
    out = llmops_dir(work, seed)
    if _done(out):
        return 0.0
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, 7])
    docs = _documents(rng, N_DOCS)
    emb = _embeddings(rng, N_VECS, VEC_DIM)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "oracle"))
    for name, table in (("documents", docs), ("embeddings", emb)):
        _write_parts(table, os.path.join(tmp, name), 4 * cpus)
    pq.write_table(docs.slice(0, ORACLE_DOCS), os.path.join(tmp, "oracle", "documents.parquet"))
    pq.write_table(emb.slice(0, ORACLE_VECS), os.path.join(tmp, "oracle", "embeddings.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return time.perf_counter() - t0


if __name__ == "__main__":
    _generate_corpus(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
                     float(sys.argv[4]), int(sys.argv[5]))
