"""Steadiness runner: K rounds over every workload, one run each.

    python3 perfbench/steady.py --rounds 10 --seed0 1 --out steadiness.json

Round r runs each workload once, in turn, with seed `seed0 + r` and
BENCHMARK.json's run_seconds, each as its own `perfbench/run.py`
process (so each gets a fresh JVM, as when the benchmark is run for
real). It prints, per workload and end-to-end metric, the median, the
quartiles and their spread, (q3 - q1) / median, next to the metric's
bound; the bounds in BENCHMARK.json are set from this output. With
`--trace` it adds one traced run per workload and reports its per-layer
metrics and the tracing overhead: the traced run's apply_events_per_s
(wall) against the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    info = next((json.loads(x[5:]) for x in lines if x.startswith("info ")), {})
    return {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
            "wall_s": wall, "result": res, "info": info,
            "stderr_tail": p.stderr.strip().splitlines()[-5:] if p.returncode else []}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="write every run and the summary here (JSON)")
    ap.add_argument("--trace", action="store_true", help="add one traced run per workload")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    runs = []
    for r in range(args.rounds):
        for w in names:
            run = one_run(w, args.seed0 + r, spec["run_seconds"], 0)
            runs.append(run)
            ok = run["result"] and run["result"]["correct"]
            print(f"round {r} {w} seed {run['seed']}: rc {run['rc']} "
                  f"{'ok' if ok else 'FAILED'} {run['wall_s']:.1f}s "
                  f"steal {run['info'].get('host.steal_share', float('nan')):.3f}", flush=True)
    traced = [one_run(w, args.seed0, spec["run_seconds"], 1) for w in names] if args.trace else []

    summary: dict = {}
    for w in names:
        good = [x["result"] for x in runs
                if x["workload"] == w and x["result"] and x["result"]["correct"]]
        rows = {}
        for m in spec["end_to_end"]:
            vals = [g["metrics"][m["name"]]["value"] for g in good]
            if vals:
                rows[m["name"]] = {**spread(vals), "bound": m["bound"], "unit": m["unit"]}
        infos = [x["info"] for x in runs
                 if x["workload"] == w and x["result"] and x["result"]["correct"]]
        wall_rows = {k: spread([i["wall"][k] for i in infos]) for k in infos[0]["wall"]} if infos else {}
        walls = [x["wall_s"] for x in runs if x["workload"] == w]
        summary[w] = {"runs": len(walls), "correct_runs": len(good),
                      "wall_s_median": statistics.median(walls) if walls else None,
                      "metrics": rows, "wall_metrics": wall_rows}
        for t in traced:
            if t["workload"] == w and t["result"]:
                layers = {k: v["value"] for k, v in t["result"]["metrics"].items()}
                untraced = wall_rows.get("apply_events_per_s", {}).get("median")
                summary[w]["traced"] = {
                    "per_layer": layers, "wall_s": t["wall_s"], "correct": t["result"]["correct"],
                    "tracing_overhead_share": (
                        1 - layers["trace.apply_events_per_s"] / untraced if untraced else None),
                }

    for w, s in summary.items():
        print(f"\n{w}: {s['correct_runs']}/{s['runs']} runs correct, "
              f"median wall {s['wall_s_median']:.1f}s")
        for name, row in s["metrics"].items():
            flag = "ok" if row["spread"] <= row["bound"] / 3 else (
                "WIDE" if row["spread"] > row["bound"] else "near")
            print(f"  {name:26s} median {row['median']:12.4f} {row['unit']:9s} "
                  f"q1 {row['q1']:12.4f} q3 {row['q3']:12.4f} spread {row['spread']:.3f} "
                  f"bound {row['bound']:.2f} {flag}")
        for name, row in s["wall_metrics"].items():
            print(f"  wall {name:21s} median {row['median']:12.4f}           "
                  f"q1 {row['q1']:12.4f} q3 {row['q3']:12.4f} spread {row['spread']:.3f}")
        if "traced" in s:
            print(f"  tracing overhead: {s['traced']['tracing_overhead_share']}")
            for k, v in s["traced"]["per_layer"].items():
                print(f"    {k:36s} {v:.6g}")
    n_runs = 4 + 22 * len(spec["workloads"])
    mean_wall = statistics.mean(x["wall_s"] for x in runs) if runs else 0
    print(f"\nprojected regression check: {n_runs} runs x {mean_wall:.1f}s = "
          f"{n_runs * mean_wall:.0f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"host": {"cpus": len(os.sched_getaffinity(0))},
                       "run_seconds": spec["run_seconds"], "seed0": args.seed0,
                       "runs": runs, "traced": traced, "summary": summary}, f, indent=1)
    return 0 if all(s["correct_runs"] == s["runs"] for s in summary.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
