#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each end-to-end
metric per workload: median, quartiles and spread (interquartile
distance over the median), next to the bound in BENCHMARK.json.

    python3 perfbench/baseline.py [--workloads a,b] [--seeds 1-10] [--sets 2] [--write]

``--sets N`` runs N sets of the same seeds interleaved (for each seed,
one run of every set, the sets' order alternating from seed to seed),
so that the sets share the host's slow and quiet periods; each later
set's medians are compared with the first set's, against the bound.
With ``--write`` the summary, with every run's host stamp, replaces the
workloads it ran in ``perfbench/BASELINE.json``. Runs are sequential,
one process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import quartiles, spread  # noqa: E402

NOTE = (
    "4-core baseline of this benchmark. The BENCH_r01..r13 and "
    "BENCH_LOCAL_r* records at the repository root were taken on 32 cores "
    "with bench.py's own suites and inputs; they are not comparable."
)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    elapsed = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({out.returncode}):\n{out.stderr[-3000:]}")
    host = next((json.loads(x[len("# host "):]) for x in lines if x.startswith("# host ")), {})
    result = json.loads(lines[-1])
    failures = [x[len("# FAILED "):] for x in lines if x.startswith("# FAILED ")]
    return {"seed": seed, "elapsed_s": round(elapsed, 1), "host": host,
            "failures": failures, **result}


def summarise(runs: list[dict], bounds: dict[str, float], first: dict | None) -> dict:
    """Medians, quartiles and spreads of one set; with ``first``, each
    median's drift from the first set's."""
    metrics = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = quartiles(values)
        row = {"median": med, "q1": q1, "q3": q3, "spread": spread(values),
               "bound": bound, "unit": runs[0]["metrics"][name]["unit"], "values": values}
        flag = "ok" if row["spread"] <= bound / 3 else (
            "WITHIN BOUND" if row["spread"] <= bound else "OVER BOUND")
        line = (f"  {name:>12}: median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
                f"spread {row['spread']:.3f} / bound {bound}  {flag}")
        if first is not None:
            row["drift"] = med / first["metrics"][name]["median"] - 1
            line += f"  drift from set 1 {row['drift']:+.3f} {'ok' if row['drift'] <= bound else 'OVER BOUND'}"
        print(line, flush=True)
        metrics[name] = row
    return {
        "seeds": [r["seed"] for r in runs],
        "failed": sum(r["failed"] for r in runs),
        "failures": [f for r in runs for f in r["failures"]],
        "attempted": sum(r["attempted"] for r in runs),
        "elapsed_s": [r["elapsed_s"] for r in runs],
        "metrics": metrics,
        "hosts": [r["host"] for r in runs],
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    path = os.path.join(HERE, "BASELINE.json")
    summary: dict = {"workloads": {}}
    if args.write and os.path.exists(path):
        with open(path) as f:
            summary = json.load(f)
    summary.update(note=NOTE, run_seconds=spec["run_seconds"])
    for workload in args.workloads.split(","):
        runs: list[list[dict]] = [[] for _ in range(args.sets)]
        for i, seed in enumerate(args.seeds):
            order = range(args.sets) if i % 2 == 0 else reversed(range(args.sets))
            for k in order:
                r = run_once(workload, seed, spec["run_seconds"])
                runs[k].append(r)
                vals = {n: round(v["value"], 4) for n, v in r["metrics"].items()}
                print(f"{workload} set {k + 1} seed {seed}: {r['elapsed_s']} s "
                      f"correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
                      flush=True)
                for failure in r["failures"]:
                    print(f"  FAILED {failure}", flush=True)
        sets = []
        for k in range(args.sets):
            print(f"{workload} set {k + 1}", flush=True)
            sets.append(summarise(runs[k], bounds, sets[0] if sets else None))
        summary["workloads"][workload] = {"sets": sets}
    if args.write:
        with open(path, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
