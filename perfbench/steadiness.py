#!/usr/bin/env python3
"""Collect steadiness evidence: two sets of runs of the same code, taken
either interleaved (A, B, A, B, ...) or as separate blocks (all of A,
then all of B), and report each end-to-end metric's per-set median,
quartiles and the gap between the set medians.

    python3 perfbench/steadiness.py --arrangement blocks --runs 10 --out perfbench/steadiness/blocks
    python3 perfbench/steadiness.py --summarize perfbench/steadiness/blocks.jsonl

Run from the checkout root. Every run uses a different seed. Raw results
go to <out>.jsonl (one line per run) and the summary to <out>.md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(b, workload, seed):
    cmd = b["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(b["run_seconds"]), "--trace", "0"]
    t = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} exit {p.returncode}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    return {"workload": workload, "seed": seed, "wall_s": round(time.time() - t, 1), **r}


def summarize(rows, b):
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    out = ["| workload | metric | bound | set | n | median | q1 | q3 | iqr/median |",
           "|---|---|---|---|---|---|---|---|---|"]
    gaps = ["| workload | metric | bound | median A | median B | gap (B-A)/A |",
            "|---|---|---|---|---|---|"]
    for wl in sorted({r["workload"] for r in rows}):
        for m in bounds:
            med = {}
            for s in ("A", "B"):
                v = [r["metrics"][m]["value"] for r in rows if r["workload"] == wl and r["set"] == s]
                if len(v) < 2:
                    continue
                q1, _, q3 = statistics.quantiles(v, n=4)
                med[s] = statistics.median(v)
                out.append(f"| {wl} | {m} | {bounds[m]} | {s} | {len(v)} | {med[s]:.4f} | "
                           f"{q1:.4f} | {q3:.4f} | {(q3 - q1) / med[s]:.3f} |")
            if len(med) == 2:
                gaps.append(f"| {wl} | {m} | {bounds[m]} | {med['A']:.4f} | {med['B']:.4f} | "
                            f"{(med['B'] - med['A']) / med['A']:+.3f} |")
    failed = sum(r["failed"] for r in rows)
    attempted = sum(r["attempted"] for r in rows)
    return "\n".join(out + ["", *gaps, "",
                            f"Ops failed: {failed} of {attempted} attempted over {len(rows)} runs."])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--arrangement", choices=("interleaved", "blocks"))
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out")
    ap.add_argument("--summarize")
    a = ap.parse_args()
    b = bench()
    if a.summarize:
        with open(a.summarize) as f:
            print(summarize([json.loads(l) for l in f], b))
        return
    wls = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    if a.arrangement == "blocks":
        order = [(s, wl, i) for s in ("A", "B") for wl in wls for i in range(a.runs)]
    else:
        order = [(s, wl, i) for wl in wls for i in range(a.runs) for s in ("A", "B")]
    rows = []
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out + ".jsonl", "w") as f:
        for s, wl, i in order:
            seed = 1000 * (1 if s == "A" else 2) + i
            r = dict(run_one(b, wl, seed), set=s)
            rows.append(r)
            f.write(json.dumps(r) + "\n")
            f.flush()
            print(s, wl, seed, r["wall_s"], {k: round(v["value"], 4) for k, v in r["metrics"].items()},
                  file=sys.stderr, flush=True)
    with open(a.out + ".md", "w") as f:
        f.write(f"# Steadiness: {a.arrangement}, {a.runs} runs per set and workload\n\n")
        f.write(summarize(rows, b) + "\n")


if __name__ == "__main__":
    main()
