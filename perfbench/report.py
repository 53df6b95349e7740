#!/usr/bin/env python3
"""Runs interleaved untraced/traced pairs of each workload on one seed and
writes the per-layer table and the tracing overhead to perfbench/TRACE.md.

    python3 perfbench/report.py [--seed N] [--seconds S] [--pairs K] [workload ...]

Each workload runs K interleaved untraced/traced pairs (about 2 minutes per
pair; `scale`, which is not in BENCHMARK.json, takes about twice that).
"""
import argparse
import json
import statistics
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402

EXPECT = {
    "chain": "`steps.susie_credible_sets.s` is the largest step",
    "query_mix": "`queries.build_s` + `sql.*` is a large share of a pass",
    "scale": "`exec` is the largest self time",
}


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["config"], json.loads(lines[-1])


def value(res, name):
    return res["metrics"][name]["value"]


def section(workload, seed, seconds, pairs):
    """Interleaved untraced/traced pairs on one seed; the layer table is the
    traced run with the median traced wall time."""
    plain, traced = [], []
    for i in range(pairs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            cfg, res = run(workload, seed, seconds, trace)
            (traced if trace else plain).append(res)
    walls = [value(r, "wall_s") for r in plain]
    twalls = [value(r, "traced.wall_s") for r in traced]
    wall, twall = statistics.median(walls), statistics.median(twalls)
    ok = all(r["correct"] for r in plain + traced)
    traced = sorted(traced, key=lambda r: value(r, "traced.wall_s"))[len(traced) // 2]
    mid = sorted(plain, key=lambda r: value(r, "wall_s"))[len(plain) // 2]
    tw = value(traced, "traced.wall_s")
    out = [f"## {workload}", "",
           f"seed {seed}, `{cfg['master']}`, base scale {cfg['base_scale']}, "
           f"clone factor {cfg['clone_factor']}, {cfg['passes']} timed "
           f"pass(es) per run; {pairs} interleaved untraced/traced pairs; "
           f"all correct: {ok}.", "",
           f"- `wall_s` untraced {', '.join(f'{w:.2f}' for w in walls)} s "
           f"(median {wall:.2f}); traced {', '.join(f'{w:.2f}' for w in twalls)} s "
           f"(median {twall:.2f}). Tracing overhead: {twall - wall:+.2f} s "
           f"({(twall - wall) / wall:+.1%}) on the medians.",
           f"- median untraced run: `setup_s` {value(mid, 'setup_s'):.2f} s, "
           f"`cpu_s` {value(mid, 'cpu_s'):.2f} s, "
           f"`peak_rss_mb` {value(mid, 'peak_rss_mb'):.0f} MB.", "",
           "| layer | self time (s) | share of traced pass |",
           "|---|---|---|"]
    selfs = {layer: value(traced, f"self.{layer}_s") for layer in spans.LAYERS}
    for layer, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        out.append(f"| {layer} | {v:.3f} | {v / tw:.1%} |")
    top = max(selfs, key=selfs.get)
    steps = {k: v["value"] for k, v in traced["metrics"].items()
             if k.startswith("steps.") and k.endswith(".s")}
    build_sql = value(traced, "queries.build_s") + sum(
        value(traced, f"sql.{p}_s") for p in ("analysis", "optimizer", "planning"))
    plan_self = selfs["queries"] + selfs["sql"]
    out += ["", f"Expected: {EXPECT[workload]}. Measured: largest self time "
            f"is `{top}` ({selfs[top]:.2f} s, {selfs[top] / tw:.1%}); "
            f"`queries.build_s` + `sql.*` = {build_sql:.2f} s, and the "
            f"queries + sql self time is {plan_self:.2f} s ({plan_self / tw:.1%} "
            "of the pass)"
            + (f"; largest step is `{max(steps, key=steps.get)}`"
               f" ({max(steps.values()):.2f} s)" if any(steps.values()) else "")
            + f"; `cache.residual_mb` = {value(traced, 'cache.residual_mb'):.3f}.",
            "", "<details><summary>all per-layer metrics</summary>", "",
            "| metric | value | unit |", "|---|---|---|"]
    for k, v in traced["metrics"].items():
        out.append(f"| `{k}` | {v['value']:.6g} | {v['unit']} |")
    out += ["", "</details>", ""]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=7)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("workloads", nargs="*",
                    default=["chain", "query_mix", "scale"])
    a = ap.parse_args()
    lines = ["# Traced run: where each workload's pass goes", "",
             "Generated by `python3 perfbench/report.py`. Self time of a layer is "
             "the time its spans (or Spark jobs, or Catalyst phases) cover minus "
             "what their children cover; the layers partition the traced pass up "
             "to jobs that overlap planning phases. Values are medians over the "
             "run's timed passes. Host: 4 vCPU, 15 GB RAM, `local[4]`. This host's "
             "effective CPU speed drifts by up to 2x over minutes (`setup_s`, "
             "`wall_s` and `cpu_s` move together), so single readings carry that "
             "noise.", ""]
    for w in a.workloads:
        lines += section(w, a.seed, a.seconds, a.pairs)
    with open(os.path.join(HERE, "TRACE.md"), "w") as fh:
        fh.write("\n".join(lines))


if __name__ == "__main__":
    main()
