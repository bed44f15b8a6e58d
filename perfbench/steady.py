#!/usr/bin/env python3
"""Steadiness check and traced baseline for the graft benchmark.

    python3 perfbench/steady.py [--workloads a,b] [--runs 5] [--sets 2]
                                [--seconds S] [--trace] [--record]

Run from the repository root. For each workload it makes `--sets` sets
of `--runs` untraced runs, every run with its own seed, and prints per
set, and over all runs together, the median and quartiles of each
end-to-end metric and the spread (interquartile range over median,
quartiles as `statistics.quantiles(n=4)` gives them). A metric is flagged when a set's
spread exceeds its bound, or when two sets' medians disagree by more
than the bound (the bounds are those of BENCHMARK.json; setup_s is
exempt from the spread test). With --trace it adds one traced run per
workload and prints the per-layer self-time shares, the share of timed
wall time no span covers, and the tracing overhead: the traced run's
end-to-end figures against the untraced medians. --record writes the
traced split to perfbench/baseline.json. Exits 1 when anything is
flagged or any run fails its checks.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    full = next(json.loads(x.split(": ", 1)[1]) for x in lines if x.startswith("perfbench-all: "))
    result["all"] = full["metrics"]
    result["notes"] = full["notes"]
    return result


def quartiles(xs: list) -> tuple:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> None:
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--seed", type=int, default=1, help="first seed; each run adds one")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    flagged = []
    baseline = {}
    seed = args.seed
    for w in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            rs = []
            for _ in range(args.runs):
                r = run(w, seed, args.seconds, 0)
                seed += 1
                if not r["correct"]:
                    flagged.append(f"{w}: seed {seed - 1} failed {r['failed']} of "
                                   f"{r['attempted']}: {r['notes']}")
                rs.append(r)
            sets.append(rs)
        print(f"== {w}: {args.sets} sets x {args.runs} runs")
        medians = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            row = []
            for i, rs in enumerate(sets):
                xs = [r["metrics"][name]["value"] for r in rs]
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                medians.setdefault(name, []).append(med)
                row.append(f"set{i + 1} med {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f}")
                if name != "setup_s" and spread > bound:
                    flagged.append(f"{w}.{name}: set{i + 1} spread {spread:.3f} > bound {bound}")
            q1, med, q3 = quartiles([r["metrics"][name]["value"] for rs in sets for r in rs])
            row.append(f"all med {med:.4g} spread {(q3 - q1) / med:.3f}")
            meds = medians[name]
            drift = (max(meds) - min(meds)) / min(meds)
            if drift > bound:
                flagged.append(f"{w}.{name}: set medians {meds} differ by {drift:.3f} > {bound}")
            print(f"  {name} [{m['unit']}] " + " | ".join(row) + f" | drift {drift:.3f}")
        if args.trace:
            t = run(w, seed, args.seconds, 1)
            seed += 1
            layers = {k[len("self."):-len("_share")]: v for k, v in t["all"].items()
                      if k.startswith("self.") and k.endswith("_share") and v > 0}
            overhead = {}
            for m in bench["end_to_end"]:
                name = m["name"]
                untraced = statistics.median(medians[name])
                overhead[name] = (t["all"][name] - untraced) / untraced
            print("  traced self-time shares: " +
                  ", ".join(f"{k} {v:.3f}" for k, v in sorted(layers.items(), key=lambda x: -x[1])))
            print(f"  uncovered share {t['all']['trace.uncovered_share']:.3f}; "
                  "tracing overhead (traced vs untraced median): " +
                  ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()))
            baseline[w] = {"self_share": {k: round(v, 4) for k, v in layers.items()},
                           "uncovered_share": round(t["all"]["trace.uncovered_share"], 4),
                           "overhead": {k: round(v, 4) for k, v in overhead.items()},
                           "untraced_median": {k: round(statistics.median(v), 6)
                                               for k, v in medians.items()}}
    if args.record and baseline:
        path = os.path.join(HERE, "baseline.json")
        old = json.load(open(path)) if os.path.exists(path) else {}
        old.update(baseline)
        with open(path, "w") as fh:
            json.dump(old, fh, indent=1, sort_keys=True)
    for f in flagged:
        print("FLAG " + f)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
