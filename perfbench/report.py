#!/usr/bin/env python3
"""Write ``perfbench/REPORT.md`` from the newest traced run of each
workload in ``perfbench/out/traces/``:

- self time by layer for each workload, per pass of the workload;
- the 20 costliest ``cold_catalog`` queries, each with its dominant layer;
- a check that the layers' self times sum to the traced ``wall_s``
  within the measured tracing overhead.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds 10 --trace 1   # each workload
    python3 perfbench/report.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LAYERS = ("plans", "streaming", "exec", "sources", "stats", "ml")
# spans of the benchmark itself: its loop (bench) and the traced run's
# waits for the query execution listener (trace)
HARNESS = ("bench", "trace")


def newest_traces() -> dict[str, dict]:
    out: dict[str, tuple[float, dict]] = {}
    for path in glob.glob(os.path.join(HERE, "out", "traces", "*.json")):
        with open(path) as f:
            trace = json.load(f)
        mtime = os.path.getmtime(path)
        if trace["workload"] not in out or out[trace["workload"]][0] < mtime:
            out[trace["workload"]] = (mtime, trace)
    return {w: t for w, (_, t) in sorted(out.items())}


def untraced_reference(workload: str) -> tuple[float, float] | None:
    """(median, interquartile distance) of the untraced ``wall_s`` of
    the workload's first set of ten-seed runs in BASELINE.json, the
    reference the traced run's ``trace.overhead_s`` is taken from."""
    path = os.path.join(HERE, "BASELINE.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        sets = json.load(f)["workloads"].get(workload, {}).get("sets")
    if not sets:
        return None
    wall = sets[0]["metrics"]["wall_s"]
    return wall["median"], wall["q3"] - wall["q1"]


def sum_check(trace: dict, ref: tuple[float, float] | None) -> dict:
    """Layer self times summed per pass against the traced ``wall_s``.

    The gap between them is the benchmark's own loop and the traced
    run's extra work, so it should stay within the tracing overhead.
    That can be judged only when the overhead stands above the untraced
    runs' own spread (``ref``, from ``untraced_reference``); otherwise
    the verdict is "undetermined"."""
    passes = max(1, trace["passes"])
    layers = sum(v for k, v in trace["self_s"].items() if k not in HARNESS) / passes
    wall = trace["traced_wall_s"]
    if ref is None:
        return {"layers": layers, "wall": wall, "untraced": None, "iqr": None,
                "overhead": None, "verdict": "undetermined"}
    untraced, iqr = ref
    overhead = wall - untraced
    if overhead <= iqr:
        verdict = "undetermined"
    else:
        verdict = "yes" if abs(wall - layers) <= overhead else "NO"
    return {"layers": layers, "wall": wall, "untraced": untraced, "iqr": iqr,
            "overhead": overhead, "verdict": verdict}


def render(traces: dict[str, dict]) -> str:
    lines = [
        "# Traced-run report",
        "",
        "Written by `python3 perfbench/report.py` from one traced run per workload",
        "(`perfbench/run.py --trace 1`). Times are seconds per pass of the workload",
        "(a 16-query round, the cold set, or one clean -> select -> train DAG).",
        "Self time is a span's duration minus the part its child spans cover;",
        "`bench` is the benchmark's own loop and `trace` the traced run's waits",
        "for the query execution listener that reports `catalyst.plan_s`.",
        "",
        "## Runs",
        "",
        "| workload | seed | passes | traced wall_s | cpus | steal % | git sha |",
        "|---|---|---|---|---|---|---|",
    ]
    for w, t in traces.items():
        h = t["host"]
        lines.append(
            f"| {w} | {t['seed']} | {t['passes']} | {t['traced_wall_s']:.3f} | "
            f"{h['cpus']} | {h['steal_pct']} | {h['git_sha'][:12]} |")
    cols = LAYERS + HARNESS
    lines += ["", "## Self time by layer (s per pass)", "",
              "| workload | " + " | ".join(cols) + " |",
              "|---|" + "---|" * len(cols)]
    for w, t in traces.items():
        passes = max(1, t["passes"])
        lines.append(f"| {w} | " + " | ".join(
            f"{t['self_s'].get(c, 0.0) / passes:.3f}" for c in cols) + " |")
    lines += ["", "## Self times against the traced wall", "",
              "The layers' self times (without `bench` and `trace`) should sum to the",
              "traced `wall_s` to within the tracing overhead: the traced `wall_s`",
              "minus the median untraced `wall_s` of the first ten-seed set in",
              "`BASELINE.json`. The check is undetermined when that overhead is not",
              "above the untraced runs' interquartile distance (q3 - q1), or when",
              "the baseline has no set for the workload.", "",
              "| workload | sum of layers s | traced wall_s | gap s | untraced median s | "
              "untraced q3-q1 s | overhead s | within overhead |",
              "|---|---|---|---|---|---|---|---|"]

    def num(x, fmt=".3f"):
        return "-" if x is None else format(x, fmt)

    for w, t in traces.items():
        c = sum_check(t, untraced_reference(w))
        lines.append(f"| {w} | {c['layers']:.3f} | {c['wall']:.3f} | "
                     f"{c['wall'] - c['layers']:+.3f} | {num(c['untraced'])} | "
                     f"{num(c['iqr'])} | {num(c['overhead'], '+.3f')} | {c['verdict']} |")
    if "cold_catalog" in traces:
        t = traces["cold_catalog"]
        lines += ["", "## cold_catalog: the 20 costliest queries", "",
                  f"Seed {t['seed']}; each query ran once, cold, at sf0.01.", "",
                  "| # | query | s | dominant layer | plans s | streaming s | exec s |",
                  "|---|---|---|---|---|---|---|"]
        for i, op in enumerate(t["ops"][:20], 1):
            s = op["self_s"]
            lines.append(
                f"| {i} | {op['query']} | {op['seconds']:.3f} | {op['dominant_layer']} | "
                f"{s.get('plans', 0.0):.3f} | {s.get('streaming', 0.0):.3f} | "
                f"{s.get('exec', 0.0):.3f} |")
    metrics = {w: t["metrics"] for w, t in traces.items()}
    names = sorted({n for m in metrics.values() for n in m})
    lines += ["", "## Per-layer metrics", "",
              "| metric | " + " | ".join(metrics) + " |", "|---|" + "---|" * len(metrics)]
    for n in names:
        lines.append(f"| {n} | " + " | ".join(
            f"{m[n]:.4g}" if n in m else "" for m in metrics.values()) + " |")
    return "\n".join(lines) + "\n"


def main() -> int:
    traces = newest_traces()
    if not traces:
        print("no traced runs in perfbench/out/traces/", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "REPORT.md"), "w") as f:
        f.write(render(traces))
    return 0


if __name__ == "__main__":
    sys.exit(main())
