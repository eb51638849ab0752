"""Steadiness of the benchmark: repeat runs, report spreads against bounds.

Usage (from the root of a checkout)::

    python3 perfbench/steady.py --seeds 1,2 --runs 5
    python3 perfbench/steady.py --seeds 1,2,3,4,5,6,7,8,9,10 --runs 1
    python3 perfbench/steady.py --workloads etl_load --seeds 1 --runs 3 --traced

Each workload runs ``--runs`` times on every seed of ``--seeds``, one
run at a time, for the ``run_seconds`` of ``BENCHMARK.json``. For every
end-to-end metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
``(q3 - q1) / median`` of each seed's runs and of all runs pooled,
next to the metric's bound, plus how far each seed's median lies from
the first seed's, and the same figures for the workload's own
``detail`` values. ``--traced`` adds as many traced runs and reports the
tracing overhead: the traced median over the untraced one, per metric.
The raw results end the output as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run in a child process; its parsed result, with its
    wall time and the traced run's end-to-end line under ``traced``."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t0
    for line in lines:
        if line.startswith("traced end_to_end: "):
            out["traced"] = json.loads(line.split(": ", 1)[1])
        elif line.startswith("detail: "):
            out["detail"] = json.loads(line.split(": ", 1)[1])
    return out


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) < 2:
        return {"n": len(values), "median": med}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def _fmt(s: dict, bound: float) -> str:
    text = f"n={s['n']:2d} median={s['median']:.4g}"
    if "spread" in s:
        flag = "ok" if s["spread"] <= bound / 3 else ("within bound" if s["spread"] <= bound else "OVER")
        text += f" q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f} ({flag})"
    return text


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    for workload in args.workloads.split(","):
        runs = {seed: [run_once(workload, seed, bench["run_seconds"], 0)
                       for _ in range(args.runs)] for seed in seeds}
        traced = {seed: [run_once(workload, seed, bench["run_seconds"], 1)
                         for _ in range(args.runs)] for seed in seeds} if args.traced else {}
        raw[workload] = {"untraced": runs, "traced": traced}
        every = [r for rs in runs.values() for r in rs]
        wall = statistics.mean(r["wall_s"] for r in every)
        print(f"== {workload}: {len(every)} runs of {wall:.1f}s wall on average, "
              "failed/attempted per seed: "
              + ", ".join(f"{s}: {sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}"
                          for s, rs in runs.items()))
        for name in every[0]["metrics"]:
            bound = bounds[name]
            print(f"  {name} (bound {bound})")
            first = None
            for seed, rs in runs.items():
                s = spread([r["metrics"][name]["value"] for r in rs])
                first = first or s["median"]
                drift = (s["median"] - first) / first
                print(f"    seed {seed:>3}: {_fmt(s, bound)} vs first seed {drift:+.3f}")
            if len(runs) > 1:
                print(f"    pooled  : {_fmt(spread([r['metrics'][name]['value'] for r in every]), bound)}")
            if traced:
                t = [r["traced"][name]["value"] for rs in traced.values() for r in rs]
                u = statistics.median([r["metrics"][name]["value"] for r in every])
                print(f"    traced  : median={statistics.median(t):.4g} "
                      f"overhead={(statistics.median(t) - u) / u:+.3f}")
        for name in every[0]["detail"]:
            s = spread([r["detail"][name] for r in every])
            print(f"  detail {name}: {_fmt(s, float('inf'))}")
    print(json.dumps(raw))
    return 0


if __name__ == "__main__":
    sys.exit(main())
