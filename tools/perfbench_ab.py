"""Alternating A/B runs of the benchmark of record between two checkouts.

For each seed, runs ``python3 perfbench/run.py --workload W --seed S
--seconds 10 --trace 0`` once in the parent checkout and once in the
change checkout, alternating which side goes first (even-numbered pairs
parent first, odd-numbered change first), so drift on the host lands on
both sides alike. Each run is a separate process started in its own
checkout; this script reads only the two JSON lines a run prints and
imports nothing from ``perfbench/``.

It prints one line per seed (``op_cpu_ms``, ``setup_s``, ``correct``
and ``failed_ops_ratio`` for both sides), then each side's median and
quartiles, each side's median ``setup_wall_s`` (the set-up wall time
from the run's detail line; reported only, so that wall-time effects of
a set-up change show, and never part of a claim) and each side's mean
failed-op ratio. For each gated metric
(``op_cpu_ms`` and ``setup_s``, both lower-is-better) it prints the
parent's interquartile range, the change's win count (pairs where the
change's value is lower) and whether a gain claim on that metric holds:
every run is correct, the change's mean failed-op ratio is not above
the parent's, the change wins at least 9 of every 10 pairs, and its
median is below the parent's by more than the parent's IQR.

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload rag_turns --seeds 41-44,51-56
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")
METRICS = ("op_cpu_ms", "setup_s")  # BENCHMARK.json's gated metrics
SECONDS = 10  # the run length BENCHMARK.json fixes for both sides


def parse_seeds(spec: str) -> list[int]:
    """``"41-44,51"`` -> [41, 42, 43, 44, 51]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One untraced run in ``checkout``; its gated metrics and checks."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        tail = proc.stderr.strip().splitlines()[-5:]
        raise RuntimeError(f"{checkout} seed {seed} failed "
                           f"(exit {proc.returncode}): {tail}")
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    m = result["metrics"]
    return {"op_cpu_ms": m["op_cpu_ms"]["value"],
            "setup_s": m["setup_s"]["value"],
            "setup_wall_s": info["detail"]["setup_wall_s"],
            "correct": result["correct"],
            "failed_ops_ratio": info["detail"]["failed_ops_ratio"]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); ``statistics.quantiles`` exclusive method."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(runs: list[dict]) -> dict:
    """Per side and metric, ``{side}.{metric}`` quartiles; per metric,
    ``metric`` -> wins, IQR, median gap and whether its claim holds."""
    failed = {side: statistics.fmean(r[side]["failed_ops_ratio"]
                                     for r in runs) for side in SIDES}
    all_correct = all(r[s]["correct"] for r in runs for s in SIDES)
    clean = all_correct and failed["change"] <= failed["parent"]
    out = {"pairs": len(runs), "failed_ops_ratio": failed,
           "all_correct": all_correct,
           "setup_wall_s": {side: statistics.median(
               r[side]["setup_wall_s"] for r in runs) for side in SIDES}}
    for metric in METRICS:
        for side in SIDES:
            q1, med, q3 = quartiles([r[side][metric] for r in runs])
            out[f"{side}.{metric}"] = {"median": med, "q1": q1, "q3": q3}
        p = out[f"parent.{metric}"]
        c = out[f"change.{metric}"]
        wins = sum(r["change"][metric] < r["parent"][metric] for r in runs)
        iqr = p["q3"] - p["q1"]
        gap = p["median"] - c["median"]
        out[metric] = {"change_wins": wins, "parent_iqr": iqr,
                       "median_gap": gap,
                       "median_change_pct": 100.0 * -gap / p["median"],
                       "claim_holds": (clean and wins * 10 >= 9 * len(runs)
                                       and gap > iqr)}
    return out


def report(s: dict) -> list[str]:
    """The summary lines ``main`` prints for ``summarize``'s result."""
    lines = []
    for side in SIDES:
        for metric in METRICS:
            q = s[f"{side}.{metric}"]
            lines.append(f"{side:6} {metric:9} median {q['median']:.3f} "
                         f"quartiles {q['q1']:.3f}/{q['q3']:.3f}")
    w = s["setup_wall_s"]
    lines.append(f"setup_wall_s median parent {w['parent']:.3f} "
                 f"change {w['change']:.3f} (reported, not claimed)")
    f = s["failed_ops_ratio"]
    lines.append(f"failed_ops_ratio mean parent {f['parent']:g} "
                 f"change {f['change']:g}; all correct {s['all_correct']}")
    for metric in METRICS:
        m = s[metric]
        lines.append(
            f"{metric}: parent IQR {m['parent_iqr']:.3f}; median gap "
            f"{m['median_gap']:.3f} ({m['median_change_pct']:+.1f} %); "
            f"change wins {m['change_wins']}/{s['pairs']}; claim holds "
            f"{m['claim_holds']}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-44,51-56")
    args = ap.parse_args(argv)
    dirs = {"parent": os.path.abspath(args.parent),
            "change": os.path.abspath(args.change)}

    runs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        res = {side: run_once(dirs[side], args.workload, seed)
               for side in order}
        runs.append(res)
        p, c = res["parent"], res["change"]
        print(f"seed {seed} ({order[0]} first): op_cpu_ms parent "
              f"{p['op_cpu_ms']:.1f} change {c['op_cpu_ms']:.1f} | setup_s "
              f"parent {p['setup_s']:.3f} change {c['setup_s']:.3f} | "
              f"correct {p['correct']}/{c['correct']} | failed_ops_ratio "
              f"{p['failed_ops_ratio']:g}/{c['failed_ops_ratio']:g}",
              flush=True)

    print("\n".join(report(summarize(runs))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
