"""Spread command: are the benchmark's numbers steady?

    python3 perfbench/spread.py [--runs 5] [--traced 1]

Runs two sets of ``--runs`` untraced runs per workload, each run with its
own seed (the first is 1000), interleaving workloads. For every workload and
end-to-end metric it reports the median and quartiles of each set and of
all runs, the spread (interquartile distance over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), and whether
the second set's median is within the metric's bound of the first's, as
``BENCHMARK.json`` fixes it. ``--traced N`` adds N traced runs per
workload and reports the tracing overhead: the traced requests' median
latency against the untraced runs' median latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETS = 2
FIRST_SEED = 1000


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def worse_by(first: float, second: float, better: str) -> float:
    """Share of ``first`` by which ``second`` is worse (negative = better)."""
    if not first:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    args = ap.parse_args(argv)
    seconds = bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    runs: dict[str, list[list[dict]]] = {w: [[] for _ in range(SETS)] for w in workloads}
    seed = FIRST_SEED
    for s in range(SETS):
        for _ in range(args.runs):
            for w in workloads:
                r = run_once(w, seed, seconds, 0)
                runs[w][s].append(r)
                print(f"set {s} {w} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
                seed += 1
    traced = {w: [run_once(w, seed + i, seconds, 1) for i in range(args.traced)]
              for w in workloads}

    report: dict[str, dict] = {}
    ok = True
    for w in workloads:
        all_runs = [r for st in runs[w] for r in st]
        rep = {
            "all_correct": all(r["correct"] for r in all_runs),
            "failed_ops_ratio": sum(r["failed"] for r in all_runs)
            / sum(r["attempted"] for r in all_runs),
            "metrics": {},
        }
        ok &= rep["all_correct"]
        for name, m in metrics.items():
            sets = [summarize([r["metrics"][name]["value"] for r in st]) for st in runs[w]]
            every = summarize([r["metrics"][name]["value"] for r in all_runs])
            drift = worse_by(sets[0]["median"], sets[-1]["median"], m["better"])
            entry = {
                "unit": m["unit"], "bound": m["bound"], "sets": sets, "all": every,
                "values": [[r["metrics"][name]["value"] for r in st] for st in runs[w]],
                "second_vs_first": drift,
                "agree": drift <= m["bound"],
                "steady": every["spread"] <= m["bound"],
                "spread_below_third_of_bound": every["spread"] < m["bound"] / 3,
            }
            ok &= entry["agree"] and entry["steady"]
            rep["metrics"][name] = entry
        if traced[w]:
            on = statistics.median(r["metrics"]["trace.latency_p50_s"]["value"] for r in traced[w])
            off = rep["metrics"]["latency_p50_s"]["all"]["median"]
            rep["tracing_overhead"] = {
                "traced_latency_p50_s": on, "untraced_latency_p50_s": off,
                "overhead_ratio": on / off - 1,
                "in_run_overhead_ratio": statistics.median(
                    r["metrics"]["trace.overhead_ratio"]["value"] for r in traced[w]
                ),
            }
            # per-layer metrics the workload reaches, median over its traced runs
            rep["per_layer"] = {
                name: (statistics.median(r["metrics"][name]["value"] for r in traced[w]), unit)
                for name, unit in ((m["name"], m["unit"]) for m in bench["per_layer"])
                if any(r["metrics"][name]["value"] for r in traced[w])
            }
        report[w] = rep

    for w, rep in report.items():
        print(f"\n## {w}  (correct: {rep['all_correct']}, failed_ops_ratio "
              f"{rep['failed_ops_ratio']:.4f})")
        print("| metric | unit | set medians | all q1 / median / q3 | spread | bound | 2nd vs 1st "
              "| agree | spread < bound/3 |")
        print("|---|---|---|---|---|---|---|---|---|")
        for name, e in rep["metrics"].items():
            meds = " / ".join(f"{s['median']:.4g}" for s in e["sets"])
            a = e["all"]
            print(f"| {name} | {e['unit']} | {meds} | {a['q1']:.4g} / {a['median']:.4g} / "
                  f"{a['q3']:.4g} | {a['spread']:.3f} | {e['bound']} | "
                  f"{e['second_vs_first']:+.3f} | {'yes' if e['agree'] and e['steady'] else 'NO'} | "
                  f"{'yes' if e['spread_below_third_of_bound'] else 'no'} |")
        if "tracing_overhead" in rep:
            t = rep["tracing_overhead"]
            print(f"\ntracing overhead: traced p50 {t['traced_latency_p50_s']:.4g} s vs untraced "
                  f"{t['untraced_latency_p50_s']:.4g} s ({t['overhead_ratio']:+.3f}); "
                  f"in-run {t['in_run_overhead_ratio']:+.3f}")
            print(f"\nper-layer metrics (traced, median of {len(traced[w])} run(s); "
                  "layers this workload never enters read 0 and are left out):")
            for name, (v, unit) in rep["per_layer"].items():
                print(f"* {name}: {v:.4g} {unit}")
        print("\nper-run values (first set | second set):")
        for name, e in rep["metrics"].items():
            print(f"* {name}: " + " | ".join(", ".join(f"{v:.4g}" for v in st) for st in e["values"]))
    print(f"\nall agree within bounds: {ok}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
