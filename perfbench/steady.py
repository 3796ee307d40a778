#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of the same build.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--seed 1000]
                                [--sets 1|2]

Each set makes --runs runs of every workload, one seed per run (the sets
use different seeds), interleaving the workloads. For every workload and
end-to-end metric it prints each set's median and quartiles, the spread
(third minus first quartile, over the median), and whether the two sets
agree within the metric's bound from BENCHMARK.json: each spread within the
bound, the two medians apart by no more than the bound (either way), and
the same share of failed operations. The spread of setup_s is printed but
not held to its bound: it is the median of a few sub-second set-ups, whose
spread across runs follows the shared host's load (see README). With
--sets 1 it makes one set and checks only the spreads and the failed share. It exits 1 when a check
fails. Run it from the checkout root; the bounds and the pass counts in
src/perfbench/Workloads.scala are set from its output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {res.returncode}")
    record = next((json.loads(l)["run_record"] for l in lines
                   if l.startswith('{"run_record"')), {})
    return json.loads(lines[-1]), record


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--sets", type=int, default=2, choices=[1, 2])
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    sets = []
    for s in range(a.sets):
        runs = {w: [] for w in workloads}
        for i in range(a.runs):
            for w in workloads:
                seed = a.seed + 1000 * s + i
                out, rec = one_run(w, seed, spec["run_seconds"])
                runs[w].append({"result": out, "record": rec, "seed": seed})
                vals = " ".join(f"{k}={v['value']:.4g}"
                                for k, v in out["metrics"].items()
                                if k in {m["name"] for m in spec["end_to_end"]})
                print(f"set {s + 1} {w} seed {seed}: correct={out['correct']}"
                      f" attempted={out['attempted']} failed={out['failed']}"
                      f" passes={rec.get('passes')} {vals}", flush=True)
        sets.append(runs)

    agree = True
    for w in workloads:
        shares = [{r["result"]["failed"] / r["result"]["attempted"]
                   for r in st[w]} for st in sets]
        same_share = len(set().union(*shares)) == 1
        correct = all(r["result"]["correct"] for st in sets for r in st[w])
        print(f"\n{w}: correct in every run: {correct}; failed share per"
              f" set: {' / '.join(str(sorted(x)) for x in shares)}")
        agree &= same_share and correct
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["result"]["metrics"][name]["value"] for r in st[w]]
                    for st in sets]
            sums = [summary(v) for v in vals]
            line = f"  {name:<26}" + " |".join(
                f" set{i + 1} {x['median']:.4g} [{x['q1']:.4g}, {x['q3']:.4g}]"
                f" spread {x['spread']:.3f}" for i, x in enumerate(sums))
            ok = name == "setup_s" or all(x["spread"] <= bound for x in sums)
            if len(sums) == 2:
                shift = (sums[1]["median"] - sums[0]["median"]) / sums[0]["median"]
                ok &= abs(shift) <= bound
                line += f" | shift {shift:+.3f}"
            agree &= ok
            print(line + f" | bound {bound} {'ok' if ok else 'FAIL'}")
    print("\nwithin the bounds" if agree else "\nNOT within the bounds")
    sys.exit(0 if agree else 1)


if __name__ == "__main__":
    main()
