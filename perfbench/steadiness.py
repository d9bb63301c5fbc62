"""Repeat the benchmark over several seeds and summarise each end-to-end
metric by its median, quartiles and spread (interquartile range over the
median), the way the benchmark's acceptance check does.

    python3 perfbench/steadiness.py --workload point_sql --seeds 1-10 --out runs.jsonl
    python3 perfbench/steadiness.py --summarise runs.jsonl

Runs are sequential; each appends its JSON result line to ``--out``.
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


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed_list: list[int], out: str) -> None:
    cmd = spec()["command"]
    for seed in seed_list:
        t = time.perf_counter()
        proc = subprocess.run(
            [*cmd, "--workload", workload, "--seed", str(seed),
             "--seconds", str(spec()["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "null"
        with open(out, "a") as f:
            f.write(json.dumps({"workload": workload, "seed": seed,
                                "rc": proc.returncode, "wall_s": time.perf_counter() - t,
                                "result": json.loads(last)}) + "\n")


def summarise(path: str) -> str:
    rows = [json.loads(line) for line in open(path) if line.strip()]
    names = [m["name"] for m in spec()["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    out = []
    for workload in dict.fromkeys(r["workload"] for r in rows):
        runs = [r for r in rows if r["workload"] == workload]
        bad = [r["seed"] for r in runs if r["rc"] != 0]
        walls = [r["wall_s"] for r in runs if "wall_s" in r]
        out.append(f"**{workload}** — {len(runs)} runs, seeds "
                   f"{min(r['seed'] for r in runs)}–{max(r['seed'] for r in runs)}"
                   + (f", failed seeds {bad}" if bad else "")
                   + (f", wall time per run {min(walls):.0f}–{max(walls):.0f} s" if walls else ""))
        out.append("")
        out.append("| metric | median | Q1 | Q3 | spread (IQR/median) | bound |")
        out.append("|---|---|---|---|---|---|")
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            out.append(f"| {name} | {med:.6g} | {q1:.6g} | {q3:.6g} | {spread:.4f} | "
                       f"{bounds[name]} |")
        out.append("")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--summarise", metavar="RUNS_JSONL")
    args = ap.parse_args()
    if args.summarise:
        print(summarise(args.summarise))
        return 0
    if not (args.workload and args.out):
        ap.error("--workload and --out are required to run")
    run(args.workload, seeds(args.seeds), args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
