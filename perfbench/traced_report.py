"""Traced report for one workload: an untraced and a traced run on the same
seed, written as `results/<workload>.md` (tables) and `.json` (raw records).

    python3 perfbench/traced_report.py --workload import_export --seed 7

The tracing overhead is the traced run's cold_s + warm_s over the untraced
run's; both are per-item sums (cold run plus median warm run).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int, out: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--report", out]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def item_table(traced: dict) -> list[str]:
    """Per layer, the time and Spark tasks of its spans under each item and
    repetition (`c` cold, `w` warm)."""
    spans = traced["spans"]
    cells: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(lambda: [0.0, 0]))
    cols: list[str] = []
    for s in spans:
        if not s["item"]:
            continue
        col = f"{s['item']} {'c' if s['rep'] == 0 else 'w'}"
        if col not in cols:
            cols.append(col)
        cell = cells[s["name"]][col]
        cell[0] += s["end"] - s["start"]
        cell[1] += s["tasks"]
    out = ["| layer | " + " | ".join(cols) + " |", "|---|" + "---|" * len(cols)]
    for name in sorted(cells):
        vals = [f"{cells[name][c][0]:.2f}s {cells[name][c][1]}t" if c in cells[name] else ""
                for c in cols]
        out.append(f"| {name} | " + " | ".join(vals) + " |")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40)
    args = ap.parse_args()

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    base = os.path.join(HERE, "results", args.workload)
    plain = run(args.workload, args.seed, args.seconds, 0, base + ".untraced.json")
    traced = run(args.workload, args.seed, args.seconds, 1, base + ".json")
    os.remove(base + ".untraced.json")
    traced["untraced"] = plain
    with open(base + ".json", "w") as f:
        json.dump(traced, f, indent=1)

    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    u, t = plain["end_to_end"], traced["end_to_end"]
    work_u, work_t = u["cold_s"] + u["warm_s"], t["cold_s"] + t["warm_s"]
    pl = traced["per_layer"]
    lines = [
        f"# Traced run: {args.workload}, seed {args.seed}",
        "",
        "Written by `python3 perfbench/traced_report.py "
        f"--workload {args.workload} --seed {args.seed}` on a {cores}-core, {mem_gb:.0f} GB "
        f"{platform.machine()} machine (local[{cores}]). Times are seconds.",
        "",
        "## End to end, untraced vs traced",
        "",
        "| metric | untraced | traced |",
        "|---|---|---|",
    ]
    lines += [f"| {k} | {u[k]:.4g} | {t[k]:.4g} |" for k in u]
    lines += [
        "",
        f"Tracing overhead: cold_s + warm_s is {work_t:.2f} s traced vs {work_u:.2f} s "
        f"untraced ({(work_t / work_u - 1) * 100:+.1f}%).",
        f"Traced window {pl['trace.window_s']['value']:.2f} s: top-level spans cover "
        f"{pl['trace.window_s']['value'] - pl['trace.unattributed_s']['value']:.2f} s, "
        f"{pl['trace.unattributed_s']['value']:.2f} s is outside every span (loop and bookkeeping).",
        "",
        "## Layers (whole traced run)",
        "",
        "| span | calls | total s | self s |",
        "|---|---|---|---|",
    ]
    for name, d in sorted(traced["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"| {name} | {d['calls']} | {d['total_s']:.3f} | {d['self_s']:.3f} |")
    lines += ["", "## Per item (seconds in the layer's spans, tasks of the jobs they ran)", ""]
    lines += item_table(traced)
    lines += ["", "## Per-layer metrics", "", "| metric | value |", "|---|---|"]
    lines += [f"| {k} | {v['value']:.6g} {v['unit']} |" for k, v in pl.items()]
    failures = [o for o in traced["ops"] if not o["ok"]]
    if failures:
        lines += ["", "## Failed checks", ""]
        lines += [f"- {o['kind']} {o['item']} rep {o['rep']}: {o['error']}" for o in failures]
    with open(base + ".md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(base + ".md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
