"""Self-test of the benchmark on tiny inputs (about two minutes).

    python3 perfbench/selftest.py

Run from the repository root. It checks that

* a traced run emits exactly the per-layer metrics BENCHMARK.json names,
  and an untraced run of each workload exactly its end-to-end metrics,
  all with correct outputs;
* a deliberately corrupted output fails its workload's check;
* the package's ``__spark_entry__`` oracles of the llmops functions agree
  with DuckDB on this seed's oracle-size inputs.

Exits 1 on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

SEED = 3


def expect(cond: bool, what: str) -> None:
    if not cond:
        print(f"selftest FAILED: {what}")
        sys.exit(1)
    print(f"ok: {what}")


def shrink() -> None:
    inputs.CORPUS_ROWS = 4_000
    inputs.N_DOCS = 200
    inputs.N_VECS = 60
    inputs.ORACLE_DOCS = 200
    inputs.ORACLE_VECS = 60
    run.WORK = os.path.join(HERE, ".work", "selftest")
    run.MIN_WARM_UNITS = 1


def result_of(argv: list[str]) -> dict:
    """One benchmark run on the tiny inputs, in its own process and JVM."""
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--child", *argv],
                          stdout=subprocess.PIPE, text=True, timeout=600)
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    expect(proc.returncode == 0 and last["correct"], f"run {' '.join(argv)} is correct")
    return last


def corrupted_outputs_fail() -> None:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sys.path.insert(0, os.getcwd())
    from loongcollector_spark.session import get_spark
    from workloads import WORKLOADS

    cpus = run.nproc()
    run.session_env(cpus)
    spark = get_spark(app_name="perfbench_selftest")
    try:
        flag = WORKLOADS["flagship_single_pass"](spark, run.WORK, SEED, cpus)
        observed = flag.unit()
        expect(flag.check(observed) == [], "flagship output passes its check")
        part = os.path.join(flag.snap, "__sink__=sink_errors")
        victim = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0]
        os.remove(os.path.join(part, victim))
        expect(flag.check(observed) != [], "flagship snapshot missing a file fails its check")

        llm = WORKLOADS["llmops_dedup_ann"](spark, run.WORK, SEED, cpus)
        llm.unit()
        expect(llm.check({}) == [], "llmops output passes its check")
        brute = llm._path("brute")
        table = pq.read_table(brute)
        sims = table.column("cosine_sim")
        bumped = pc.add(sims, pc.multiply(pc.equal(table.column("rank"), 2).cast("double"), 1e-3))
        shutil.rmtree(brute)
        os.makedirs(brute)
        pq.write_table(table.set_column(table.schema.get_field_index("cosine_sim"),
                                        "cosine_sim", bumped),
                       os.path.join(brute, "part-0.parquet"))
        expect(llm.check({}) != [], "llmops top-k with a perturbed score fails its check")
        expect(llm.oracle_check() == [], "__spark_entry__ oracles of the llmops functions match")
    finally:
        spark.stop()
        run.stop_jvm()


def main() -> int:
    if not os.path.isdir("loongcollector_spark"):
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    shrink()
    shutil.rmtree(run.WORK, ignore_errors=True)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = {m["name"] for m in bench["per_layer"]}
    end_to_end = {m["name"] for m in bench["end_to_end"]}

    traced = result_of(["--workload", "flagship_single_pass", "--seed", str(SEED),
                        "--seconds", "1", "--trace", "1"])
    missing = per_layer - set(traced["metrics"])
    extra = set(traced["metrics"]) - per_layer
    expect(not missing and not extra,
           f"traced run emits every per-layer metric (missing {sorted(missing)}, "
           f"extra {sorted(extra)})")
    for name in run.WORKLOAD_NAMES:
        plain = result_of(["--workload", name, "--seed", str(SEED),
                           "--seconds", "1", "--trace", "0"])
        expect(set(plain["metrics"]) == end_to_end,
               f"{name} emits every end-to-end metric")
        expect(all(m["value"] > 0 for m in plain["metrics"].values()),
               f"{name} end-to-end metrics are all positive")
    corrupted_outputs_fail()
    shutil.rmtree(run.WORK, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        shrink()
        sys.exit(run.main(sys.argv[2:]))
    host.adopt_orphans()
    try:
        code = main()
    finally:
        host.reap_all(timeout=30)
    sys.exit(code)
