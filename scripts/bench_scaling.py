"""Two-parallelism scaling run: local[8] vs local[32] on the same input.

Sandbox substitute for the N vs 4N executor criterion (no real cluster
here): each parallelism level runs in its OWN process/JVM (fresh
SparkSession, same corpus parquet), pipeline end-to-end with noop sinks,
warmup + min-of-reps. Writes BENCH.md and refreshes the scaling section
in BASELINE.md.

Scaling efficiency = (T_low / T_high) / (P_high / P_low); target >= 0.8.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from loongcollector_spark.session import get_spark
from loongcollector_spark.plans import transcript_pipeline as tp

cpus = int(sys.argv[1]); reps = int(sys.argv[2]); corpus_path = sys.argv[3]
spark = get_spark(app_name=f"lc_scale_{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=max(cpus, 8))
corpus = spark.read.parquet(corpus_path)
n = corpus.count()
pipe = tp.TranscriptPipeline()

def run():
    pipe.run_single_pass(corpus).write.format("noop").mode("overwrite").save()
    pipe.metrics(pipe.run_single_pass(corpus)).write.format(
        "noop").mode("overwrite").save()

run()  # warmup (codegen + JIT)
best = min(
    (lambda t0: (run(), time.time() - t0)[1])(time.time()) for _ in range(reps)
)
print(json.dumps({{"cpus": cpus, "rows": n, "sec": round(best, 3),
                   "rows_per_sec": round(n / best, 1)}}))
"""


CANARY_CHILD = r"""
import json, sys
sys.path.insert(0, {repo!r})
from loongcollector_spark.session import get_spark
from bench import run_canary
spark = get_spark(app_name="lc_canary", master="local[32]")
print(json.dumps(run_canary(spark)))
"""


def run_canary_probe() -> dict:
    """Host canary in a fresh JVM (VERDICT r4 #1): the scaling headline
    is only comparable across rounds when the window is quiet."""
    out = subprocess.run(
        [sys.executable, "-c", CANARY_CHILD.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_level(cpus: int, reps: int, corpus: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cpus), str(reps), corpus],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    rows = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "8000000"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    corpus = f"/tmp/lc_bench/corpus_{rows}"
    if not os.path.exists(corpus + "/_SUCCESS"):
        subprocess.run(
            [
                sys.executable,
                "-c",
                (
                    f"import sys; sys.path.insert(0, {REPO!r});\n"
                    "from loongcollector_spark.session import get_spark\n"
                    "from loongcollector_spark.sources.transcripts import generate_transcripts\n"
                    "spark = get_spark(master='local[32]')\n"
                    f"generate_transcripts(spark, {rows}, partitions=256)"
                    f".write.mode('overwrite').parquet({corpus!r})\n"
                ),
            ],
            check=True,
            timeout=1800,
        )
    p_low = int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "4"))
    p_high = int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "16"))
    # Multiple interleaved rounds per level: this host has JIT-straggler
    # PHASES that survive min-of-reps WITHIN one JVM (a whole run lands in
    # a slow phase); the per-level minimum ACROSS fresh-JVM rounds is the
    # sustained number. Rounds alternate low/high so a host phase hits
    # both levels symmetrically.
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    canary_pre = run_canary_probe()
    lows, highs = [], []
    for _ in range(rounds):
        lows.append(run_level(p_low, reps, corpus))
        highs.append(run_level(p_high, reps, corpus))
    canary_post = run_canary_probe()
    low = min(lows, key=lambda r: r["sec"])
    high = min(highs, key=lambda r: r["sec"])
    speedup = low["sec"] / high["sec"]
    eff = speedup / (p_high / p_low)
    rounds_out = [
        {"low_sec": l["sec"], "high_sec": h["sec"],
         "eff": round((l["sec"] / h["sec"]) / (p_high / p_low), 3)}
        for l, h in zip(lows, highs)
    ]
    # HEADLINE = the MEDIAN same-round pairing (VERDICT r3 #6 asked for
    # same-round pairing): both levels of a round share the host's perf
    # phase, so pairing is phase-fair; the MEDIAN across rounds is the
    # robust same-round statistic — this host's straggler phases swing a
    # single level's run by ±30%, so the worst single pairing measures
    # one unlucky draw and the best measures one lucky one. Min/max are
    # reported as the spread; best-per-level is secondary context.
    ordered = sorted(rounds_out, key=lambda x: x["eff"])
    med_round = ordered[len(ordered) // 2]
    result = {
        "corpus_rows": rows,
        "low": low,
        "high": high,
        "rounds": rounds_out,
        "speedup_n_to_4n_same_round": round(
            med_round["low_sec"] / med_round["high_sec"], 3
        ),
        "scaling_efficiency": med_round["eff"],
        "eff_same_round_spread": [ordered[0]["eff"], ordered[-1]["eff"]],
        "speedup_n_to_4n_best_per_level": round(speedup, 3),
        "scaling_efficiency_best_per_level": round(eff, 3),
        "meets_0.8": med_round["eff"] >= 0.8,
        "canary_pre": canary_pre,
        "canary_post": canary_post,
        "canary_quiet": bool(
            canary_pre["canary_quiet"] and canary_post["canary_quiet"]
        ),
        # the high level PHYSICALLY needs p_high effective cores to show
        # a p_high/p_low speedup — on this hypervisor-overcommitted VM
        # the parallel canary (bench.run_canary par32) decides whether a
        # sub-0.8 efficiency is an engine property or a capacity ceiling
        "capacity_ok": bool(
            min(
                canary_pre.get("canary_effective_cores", 0.0),
                canary_post.get("canary_effective_cores", 0.0),
            )
            >= p_high
        ),
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(result))
    _write_md(result)


def _write_md(r: dict) -> None:
    """Splice the measured numbers into BENCH.md between SCALING markers
    (hand-written analysis outside the markers survives) and refresh the
    one-line summary in BASELINE.md."""
    rounds_rows = "\n".join(
        f"| round {i+1} | {x['low_sec']} | {x['high_sec']} | {x['eff']} |"
        for i, x in enumerate(r.get("rounds", []))
    )
    sys.path.insert(0, REPO)
    import bench as _bench

    cp, cq = r.get("canary_pre", {}), r.get("canary_post", {})
    block = f"""
Measured {r['ts']} — {r['corpus_rows']:,} rows, fresh JVM per level per
round, warmup + min-of-reps inside each JVM, per-level MIN across
interleaved rounds (this host has JIT/host straggler phases that can
swallow a whole JVM run; see caveats below).

Host canary (python loop is the quiet gate, best-known
{_bench.CANARY_PY_BEST} s; jvm range-sum recorded as context): pre
py={cp.get('canary_python_sec')} (ratio {cp.get('canary_ratio_vs_best')})
jvm={cp.get('canary_jvm_sec')}, post
py={cq.get('canary_python_sec')} (ratio {cq.get('canary_ratio_vs_best')})
jvm={cq.get('canary_jvm_sec')} —
**window {"QUIET" if r.get('canary_quiet') else "DEGRADED"}**
(quiet = both python ratios ≤ {_bench.CANARY_DEGRADED_RATIO}; only
quiet-window campaigns update the round-over-round baseline).

Parallel capacity (r5 canary): effective cores pre
{cp.get('canary_effective_cores')} / post
{cq.get('canary_effective_cores')} (par32 walls
{cp.get('canary_par32_sec')} / {cq.get('canary_par32_sec')} s) —
**capacity for local[{r['high']['cpus']}] {"OK" if r.get('capacity_ok') else "INSUFFICIENT"}**.
The 32 vCPUs are hypervisor-overcommitted; when the window offers
fewer than {r['high']['cpus']} effective cores, the high level cannot
physically reach a {r['high']['cpus']}/{r['low']['cpus']}× speedup and
a sub-0.8 efficiency is a host ceiling, not an engine property.

| round | local[{r['low']['cpus']}] sec | local[{r['high']['cpus']}] sec | efficiency |
|---|---|---|---|
{rounds_rows}

| parallelism | best wall sec | turns/s |
|---|---|---|
| local[{r['low']['cpus']}]  (N)  | {r['low']['sec']} | {r['low']['rows_per_sec']:,} |
| local[{r['high']['cpus']}] (4N) | {r['high']['sec']} | {r['high']['rows_per_sec']:,} |

- HEADLINE (MEDIAN same-round pairing — both levels of a round share
  the host's perf phase, so pairing is phase-fair, and the median is
  robust to the ±30% single-run straggler swings this host shows):
  speedup N→4N **{r['speedup_n_to_4n_same_round']}×**, efficiency
  **{r['scaling_efficiency']}** (target ≥ 0.8: {"MET" if r['meets_0.8'] else "NOT MET"});
  same-round spread {r['eff_same_round_spread'][0]}–{r['eff_same_round_spread'][1]}
- secondary, best-per-level across rounds: speedup
  {r['speedup_n_to_4n_best_per_level']}×, efficiency
  {r['scaling_efficiency_best_per_level']}
"""
    bench_path = os.path.join(REPO, "BENCH.md")
    begin, end_m = "<!-- SCALING:BEGIN -->", "<!-- SCALING:END -->"
    try:
        cur = open(bench_path).read()
    except FileNotFoundError:
        cur = f"# BENCH\n\n{begin}\n{end_m}\n"
    if begin in cur and end_m in cur:
        head, rest = cur.split(begin, 1)
        _, tail = rest.split(end_m, 1)
        content = head + begin + block + end_m + tail
    else:
        content = cur + f"\n{begin}{block}{end_m}\n"
    with open(bench_path, "w") as f:
        f.write(content)

    baseline = os.path.join(REPO, "BASELINE.md")
    marker = "\n## Measured scaling (this engine)\n"
    with open(baseline) as f:
        content = f.read()
    content = content.split(marker)[0]
    section = (
        f"{marker}\nSee BENCH.md. Headline = MEDIAN same-round pairing "
        f"(phase-fair, robust to single-run straggler swings): speedup "
        f"{r['speedup_n_to_4n_same_round']}x, efficiency "
        f"{r['scaling_efficiency']} (target >= 0.8: "
        f"{'MET' if r['meets_0.8'] else 'NOT MET'}). Best per level across "
        f"interleaved rounds: local[{r['low']['cpus']}]: {r['low']['sec']}s "
        f"({r['low']['rows_per_sec']:,.0f} turns/s); local[{r['high']['cpus']}]: "
        f"{r['high']['sec']}s ({r['high']['rows_per_sec']:,.0f} turns/s), "
        f"efficiency {r['scaling_efficiency_best_per_level']}.\n"
    )
    with open(baseline, "w") as f:
        f.write(content + section)


if __name__ == "__main__":
    main()
