"""Run-to-run spread of the benchmark, the way its acceptance is judged.

    python3 perfbench/spread.py --workloads relational_mr llm_corpus --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per (workload, seed), sequentially, and
prints for every end-to-end metric the median and the inter-quartile
range as a share of the median (``statistics.quantiles(values, n=4)``),
next to the metric's bound from BENCHMARK.json. ``--trace`` also makes one
traced run per seed and reports the tracing overhead, 1 - traced /
untraced wall-clock ``ops_per_s`` (from the run record). The timed
figures of the run record are printed beside the metrics. Raw results are
appended to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """The result line and the run record of one run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}")
    with open(os.path.join(".bench_out", f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.loads(lines[-1]), json.load(f)["info"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=".bench_out/spread.jsonl")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    for wl in args.workloads:
        vals: dict[str, list[float]] = {}
        overhead = []
        for seed in args.seeds:
            res, info = run_once(wl, seed, bench["run_seconds"], 0)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "trace": 0, **res}) + "\n")
            if not res["correct"]:
                print(f"{wl} seed {seed}: INCORRECT ({res['failed']}/{res['attempted']} failed)")
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            for k, v in info["timings"].items():
                vals.setdefault(f"timings.{k}", []).append(v)
            print(f"{wl} seed {seed}: steal {info['cpu_steal_share']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                  + " " + " ".join(f"{k}={v:.4g}" for k, v in info["timings"].items()), flush=True)
            if args.trace:
                tr, _ = run_once(wl, seed, bench["run_seconds"], 1)
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "trace": 1, **tr}) + "\n")
                traced = tr["metrics"]["trace.ops_per_s"]["value"]
                overhead.append(1 - traced / info["timings"]["ops_per_s"])
        print(f"== {wl}: {len(args.seeds)} seeds")
        for k, v in vals.items():
            spread = iqr_share(v) if len(v) > 1 else 0.0
            bound = bounds.get(k)  # none for the timed figures of the run record
            flag = "" if bound is None or spread < bound / 3 or k == "setup_s" else "  <-- above bound/3"
            print(f"{k:20s} median {statistics.median(v):10.4f}  iqr/median {spread:6.3f}"
                  f"  bound {bound}{flag}")
        if overhead:
            print(f"tracing overhead (1 - traced/untraced ops_per_s): median "
                  f"{statistics.median(overhead):.3f} over {len(overhead)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
