"""Run every workload several times, interleaved, and print the median and
quartiles of each metric with its spread (interquartile range over median).

    python3 perfbench/steady.py --runs 10            # the steadiness check
    python3 perfbench/steady.py --runs 1             # all workloads once
    python3 perfbench/steady.py --runs 1 --trace 1   # per-layer figures

Run ``i`` uses seed ``--seed0 + i`` for every workload. Each run is its own
process (``run.py``) with its own Spark session; this command waits for each
to exit. Per run it keeps the host's load average at start and end, the
hypervisor steal share, other processes that used more than half a core,
the Spark settings, and the operations attempted and failed. The summary is
also written to ``.perfbench_work/steady-<time>.json``.
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
ALL = ("changelog_ingest", "table_serve", "near_dup_index")


def run_seconds() -> int:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return int(json.load(f)["run_seconds"])
    except (OSError, KeyError, ValueError):
        return 15


def one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    out = {"workload": workload, "seed": seed, "rc": proc.returncode, "wall_s": time.monotonic() - t0}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        out["stderr_tail"] = proc.stderr[-2000:]
    if lines:
        out["result"] = json.loads(lines[-1])
    rec = os.path.join(ROOT, ".perfbench_work", "records", f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(rec):
        with open(rec) as f:
            out["host"] = json.load(f)["host"]
    return out


def summarize(runs: list[dict]) -> dict:
    out = {}
    for w in dict.fromkeys(r["workload"] for r in runs):
        rs = [r for r in runs if r["workload"] == w and "result" in r]
        metrics = {}
        for name in rs[0]["result"]["metrics"] if rs else ():
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            metrics[name] = {
                "unit": rs[0]["result"]["metrics"][name]["unit"],
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
                "values": vals,
            }
        out[w] = {
            "runs": len([r for r in runs if r["workload"] == w]),
            "correct": all(r.get("rc") == 0 and r["result"]["correct"] for r in rs) and len(rs) == len([r for r in runs if r["workload"] == w]),
            "attempted": sum(r["result"]["attempted"] for r in rs),
            "failed": sum(r["result"]["failed"] for r in rs),
            "wall_s_median": statistics.median([r["wall_s"] for r in runs if r["workload"] == w]),
            "metrics": metrics,
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(ALL))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run_seconds())
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    runs = []
    for i in range(args.runs):
        for w in workloads:
            r = one(w, args.seed0 + i, args.seconds, args.trace)
            runs.append(r)
            res = r.get("result", {})
            host = r.get("host", {})
            print(
                f"run {i} {w} seed {r['seed']} rc {r['rc']} wall {r['wall_s']:.1f}s correct {res.get('correct')} "
                f"attempted {res.get('attempted')} failed {res.get('failed')} load {host.get('loadavg_start')}->{host.get('loadavg_end')} "
                f"steal {host.get('steal_share', 0):.3f} heavy {host.get('heavy_processes')}",
                file=sys.stderr,
                flush=True,
            )
            if "stderr_tail" in r:
                print(r["stderr_tail"], file=sys.stderr)
    summary = summarize(runs)
    for w, s in summary.items():
        print(f"\n{w}: runs {s['runs']} correct {s['correct']} attempted {s['attempted']} failed {s['failed']} median wall {s['wall_s_median']:.1f}s")
        for name, m in s["metrics"].items():
            if args.trace and name.startswith("spark."):
                continue
            print(f"  {name:<44} {m['median']:>14.4f} {m['unit']:<8} q1 {m['q1']:.4f} q3 {m['q3']:.4f} spread {m['spread']:.3f}")
    path = os.path.join(ROOT, ".perfbench_work", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"args": vars(args), "summary": summary, "runs": runs}, f, indent=1)
    print(f"\nwritten {os.path.relpath(path, ROOT)}")
    return 0 if all(s["correct"] for s in summary.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
