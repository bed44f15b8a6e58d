#!/usr/bin/env python3
"""graft benchmark: transport and batch workloads, end to end and per layer.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json for why each
was chosen, the metric units and the layer map):

  log_pipeline  closed-loop bulk drain through the sharded-log transport
  log_tail      open-loop tail with watermark dedup; record latency
  batch_heavy   the 20 heaviest q/e/d registry entries
  batch_light   the other 62 q- and e-family entries

Each run builds the program from source when needed (perfbench/build.py),
starts one fresh JVM with build.sbt's JVM flags, and checks the outputs
outside the timed region: the transport workloads check exactly-once
delivery in the JVM, the batch workloads compare each entry's result
with its DuckDB oracle here. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
end-to-end ones untraced (--trace 0) and the per-layer ones traced
(--trace 1). A traced run also writes its spans to
<build>/results/<workload>-s<seed>-t1/spans.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("log_pipeline", "log_tail", "batch_heavy", "batch_light")
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
JVM_TIMEOUT_S = 165
# Heap of the benchmark JVM (the -Xmx flag build.sbt reads from this
# variable); fixed so that runs on different hosts compare.
DRIVER_MEM = "4g"


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def metric_table(kind: str) -> list:
    with open("BENCHMARK.json") as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
        env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
        flags = build.jvm_flags(env)
    except (build.BuildError, OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if not os.path.isfile(os.path.join(DATA, "sf0.01", "lineitem.parquet")):
        fail(f"batch input tables missing under {DATA}")

    root = build.build_dir()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(root, "runs", f"{tag}-{os.getpid()}")
    res_dir = os.path.join(root, "results", tag)
    shutil.rmtree(res_dir, ignore_errors=True)
    os.makedirs(res_dir)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(res_dir, "result.json")
    t0_ms = int(time.time() * 1000)
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    cmd = (["java", "-XX:-UsePerfData"] + flags + [f"-Djava.io.tmpdir={work}/tmp", "-cp",
                               build.classpath(classes), "graft.perfbench.Main",
                               "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--t0-ms", str(t0_ms), "--work", work, "--data", DATA,
                               "--out", out])
    try:
        with open(os.path.join(res_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"JVM exceeded {JVM_TIMEOUT_S} s (log: {res_dir}/jvm.log)")
        if rc != 0 or not os.path.exists(out):
            fail(f"JVM exited {rc} (log: {res_dir}/jvm.log)")
        with open(out) as fh:
            r = json.load(fh)
        failed = int(r["failed"])
        notes = list(r["notes"])
        manifest = os.path.join(work, "oracle.json")
        if os.path.exists(manifest):
            bad = oracle.check(manifest, os.path.join(DATA, "sf0.001"),
                               os.path.join(root, "oracle_cache.json"))
            failed += len(bad)
            notes += bad
    finally:
        if not os.environ.get("PERFBENCH_KEEP_WORK"):
            shutil.rmtree(work, ignore_errors=True)

    m = r["metrics"]
    print("perfbench-all: " + json.dumps({"workload": args.workload, "seed": args.seed,
                                          "trace": args.trace, "notes": notes,
                                          "metrics": m}, sort_keys=True))
    metrics = {}
    for name, unit in metric_table("per_layer" if args.trace else "end_to_end"):
        v = m.get(name)
        if v is None and not args.trace:
            fail(f"end-to-end metric {name} missing from {args.workload}")
        metrics[name] = {"value": float(v or 0.0), "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": int(r["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
