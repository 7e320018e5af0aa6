"""Steadiness tool: runs every workload in two sets of seeds and prints,
per workload and end-to-end metric, the median, the quartiles and the
spread ((Q3 - Q1) / median, quartiles as Python's
`statistics.quantiles(values, n=4)` gives them) against the metric's
bound from BENCHMARK.json, plus how far the second set's median moved
from the first's. A metric is "unresolved" when its spread exceeds its
bound (setup_s is exempt from the spread test) or when the median moved
by more than the bound; "watch" when the spread is above a third of it.

    python3 perfbench/steady.py [--seeds 10] [--sets 2] [--first-seed 1]
        [--workloads llm_ops,dbt_run]

Runs are interleaved across workloads. Every result line is kept in
.bench_build/perfbench/steady.jsonl, so an interrupted study can be
summarised again with --summarize-only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOG = os.path.join(ROOT, ".bench_build", "perfbench", "steady.jsonl")


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return {"error": f"exit {r.returncode}", "stderr": r.stderr[-2000:]}
    return json.loads(lines[-1])


def summarize(bench, rows):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    status_all = True
    for w in sorted({r["workload"] for r in rows}):
        print(f"\n== {w}")
        print(f"{'metric':<14}{'set':>4}{'n':>4}{'median':>12}{'q1':>12}"
              f"{'q3':>12}{'spread':>9}{'bound':>7}  status")
        for name, bound in bounds.items():
            medians = []
            for s in sorted({r["set"] for r in rows if r["workload"] == w}):
                vals = [r["result"]["metrics"][name]["value"] for r in rows
                        if r["workload"] == w and r["set"] == s
                        and name in r["result"].get("metrics", {})]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                medians.append(med)
                status = "ok"
                if name != "setup_s" and spread > bound:
                    status = "unresolved"
                elif name != "setup_s" and spread > bound / 3:
                    status = "watch"
                if len(medians) > 1:
                    drift = medians[-1] / medians[0] - 1
                    status += f" (median moved {drift:+.1%})"
                    if abs(drift) > bound:
                        status = "unresolved " + status
                status_all &= not status.startswith("unresolved")
                print(f"{name:<14}{s:>4}{len(vals):>4}{med:>12.4f}{q1:>12.4f}"
                      f"{q3:>12.4f}{spread:>9.3f}{bound:>7.2f}  {status}")
        bad = [r for r in rows if r["workload"] == w and
               (not r["result"].get("correct") or r["result"].get("failed"))]
        if bad:
            status_all = False
            print(f"  {len(bad)} run(s) not correct: seeds "
                  f"{[r['seed'] for r in bad]}")
    return status_all


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--summarize-only", action="store_true")
    a = ap.parse_args(argv)
    bench = load_bench()
    workloads = ([w for w in a.workloads.split(",") if w] or
                 [w["name"] for w in bench["workloads"]])
    if not a.summarize_only:
        os.makedirs(os.path.dirname(LOG), exist_ok=True)
        open(LOG, "w").close()
        for s in range(a.sets):
            for i in range(a.seeds):
                seed = a.first_seed + s * a.seeds + i
                for w in workloads:
                    res = run_once(bench, w, seed)
                    row = {"set": s, "workload": w, "seed": seed,
                           "result": res}
                    with open(LOG, "a") as fh:
                        fh.write(json.dumps(row) + "\n")
                    m = res.get("metrics", {})
                    print(f"set {s} seed {seed} {w}: " + (
                        res.get("error") or " ".join(
                            f"{k}={v['value']:.4g}" for k, v in m.items())),
                        flush=True)
    with open(LOG) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    rows = [r for r in rows if r["workload"] in workloads]
    return 0 if summarize(bench, rows) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
