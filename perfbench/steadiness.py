"""Steadiness check: run the benchmark on several seeds, in one or more
sets, and summarize per workload:

- each end-to-end metric per set: median, quartiles, spread (IQR /
  median) and the set median's drift from the first set's;
- warm-up coverage: the time of each op type's n-th run (the cold pass,
  then the steady window) over that type's median in the steady window,
  as the median across op types and runs;
- the traced runs: their per-layer metrics, whether the layers covered
  op wall time, and tracing overhead (the traced window minus the
  untraced window of the same run).

    python3 perfbench/steadiness.py --seeds 1-10 --sets 2 --trace 2 --out perfbench/STEADINESS.json

Run from the root of a checkout. Each run's two output lines are kept
in ``--log`` (JSON lines) so a summary can be rebuilt with
``--from-log`` without re-running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]  # fmt: skip
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    report, result = p.stdout.strip().splitlines()[-2:]
    return {"workload": workload, "seed": seed, "trace": trace, **json.loads(report), **json.loads(result)}


def summarize(runs: list[dict], bench: dict) -> dict:
    out: dict = {}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        per_metric = {}
        for name, bound in bounds.items():
            rows = []
            for s in sorted({r["set"] for r in plain}):
                vals = [r["metrics"][name]["value"] for r in plain if r["set"] == s]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                rows.append({"set": s, "n": len(vals), "q1": q1, "median": med, "q3": q3, "spread": (q3 - q1) / med})
            for row in rows:
                row["median_vs_first"] = row["median"] / rows[0]["median"] - 1
            if rows:
                per_metric[name] = {"bound": bound, "sets": rows}
        curves = []  # per run and op type: time of the n-th run / steady median
        for r in plain:
            rep = r["report"]
            for kind, steady in rep["steady_by_op_s"].items():
                seq = [rep["cold_by_op_s"][kind], *steady]
                curves.append([t / statistics.median(steady) for t in seq])
        drift = [statistics.median(c[i] for c in curves) for i in range(min(map(len, curves), default=0))]
        out[w] = {"end_to_end": per_metric, "rep_time_over_steady_median": drift}
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        if traced:
            out[w]["traced_runs"] = [
                {
                    "seed": r["seed"],
                    "per_layer": {k: v["value"] for k, v in r["metrics"].items()},
                    "layers_cover_wall": r["report"]["layers_cover_wall"],
                    "tracing_overhead": r["report"]["tracing_overhead"],
                }
                for r in traced
            ]
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, help="also make this many traced runs per workload")
    ap.add_argument("--log", default=".perfbench_work/steadiness.jsonl")
    ap.add_argument("--from-log", action="store_true")
    ap.add_argument("--out", default="")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    runs = []
    if a.from_log:
        with open(a.log) as f:
            runs = [json.loads(line) for line in f]
    else:
        os.makedirs(os.path.dirname(a.log) or ".", exist_ok=True)
        with open(a.log, "a") as log:
            for s in range(a.sets):
                for seed in parse_seeds(a.seeds):
                    for w in workloads:  # workloads interleaved within each seed
                        r = run_once(w, seed, bench["run_seconds"], 0)
                        r["set"] = s
                        runs.append(r)
                        log.write(json.dumps(r) + "\n")
                        log.flush()
                        print(w, seed, s, {k: round(v["value"], 4) for k, v in r["metrics"].items()}, file=sys.stderr)
            for w in workloads:
                for seed in parse_seeds(a.seeds)[: a.trace]:
                    r = run_once(w, seed, bench["run_seconds"], 1)
                    r["set"] = -1
                    runs.append(r)
                    log.write(json.dumps(r) + "\n")
    summary = summarize(runs, bench)
    text = json.dumps(summary, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
