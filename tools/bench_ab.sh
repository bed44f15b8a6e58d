#!/usr/bin/env bash
# Parent/change A/B of the benchmark: runs perfbench/run.py on a base
# revision and on this checkout's working tree, alternately, with
# matching seeds, and prints each end-to-end metric's two medians.
#
# Usage: tools/bench_ab.sh <rev> <workload> <pairs>
#   e.g. tools/bench_ab.sh HEAD~1 log_pipeline 5
#
# Both sides run from fresh copies in a temporary directory (under
# $TMPDIR, default /tmp; removed at exit): the base side is <rev>
# exported with `git archive`, the change side is this checkout's
# tracked and untracked, not ignored, files as they are now. (Runs from
# the checkout itself read 0.3-1.8 s more log_tail setup_s than the same
# code in a fresh copy, on a 4-core host.) Each side builds into its own
# CARGO_TARGET_DIR there (perfbench/build.py's build directory), so
# neither side reuses the other's classes. Pair i runs seed 1000 + i on
# both sides, base first on odd pairs and change first on even pairs,
# for `run_seconds` from BENCHMARK.json, untraced. perfbench/ is called
# as is on both sides.
#
# Output: one line per run, then per end-to-end metric the base and
# change medians and change/base, then `correct` and `failed` per side.
set -euo pipefail
cd "$(dirname "$0")/.."

REV="${1:?usage: tools/bench_ab.sh <rev> <workload> <pairs>}"
WORKLOAD="${2:?usage: tools/bench_ab.sh <rev> <workload> <pairs>}"
PAIRS="${3:?usage: tools/bench_ab.sh <rev> <workload> <pairs>}"
SECONDS_PER_RUN=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

WORK=$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")
trap 'rm -rf "$WORK"' EXIT
mkdir -p "$WORK/base" "$WORK/change"
git archive "$REV" | tar -x -C "$WORK/base"
git ls-files -z --cached --others --exclude-standard \
  | tar --null --ignore-failed-read -T - -cf - 2>/dev/null | tar -x -C "$WORK/change"
RESULTS="$WORK/results.jsonl"

# run <side> <dir> <seed>: one run; appends {"side", "seed", "result"}
# (result null when run.py failed) to $RESULTS
run() {
  local side=$1 dir=$2 seed=$3 out
  out=$(cd "$dir" && CARGO_TARGET_DIR="$WORK/build-$side" python3 -B perfbench/run.py \
        --workload "$WORKLOAD" --seed "$seed" --seconds "$SECONDS_PER_RUN" --trace 0 \
        2>"$WORK/last-$side.err" | tail -1) || out=""
  python3 - "$side" "$seed" "$out" "$RESULTS" <<'EOF'
import json, sys
side, seed, line, path = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
try:
    r = json.loads(line)
except ValueError:
    r = None
with open(path, "a") as fh:
    fh.write(json.dumps({"side": side, "seed": seed, "result": r}) + "\n")
m = r["metrics"] if r else {}
print(f"{side:6s} seed={seed} " + (" ".join(f"{k}={v['value']:.4g}" for k, v in m.items())
                                   + f" correct={r['correct']} failed={r['failed']}"
                                   if r else "RUN FAILED"), flush=True)
EOF
}

for i in $(seq 1 "$PAIRS"); do
  seed=$((1000 + i))
  if [ $((i % 2)) -eq 1 ]; then
    run base "$WORK/base" "$seed"; run change "$WORK/change" "$seed"
  else
    run change "$WORK/change" "$seed"; run base "$WORK/base" "$seed"
  fi
done

python3 - "$RESULTS" "$REV" "$WORKLOAD" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
rev, workload = sys.argv[2], sys.argv[3]
ok = {s: [r["result"] for r in rows if r["side"] == s and r["result"]] for s in ("base", "change")}
names = list(json.load(open("BENCHMARK.json"))["end_to_end"])
print(f"\n{workload}: base {rev} vs working tree, medians of {len(ok['base'])} / {len(ok['change'])} runs")
print(f"{'metric':16s} {'base':>12s} {'change':>12s} {'change/base':>12s}")
for m in names:
    n = m["name"]
    b = [r["metrics"][n]["value"] for r in ok["base"] if n in r["metrics"]]
    c = [r["metrics"][n]["value"] for r in ok["change"] if n in r["metrics"]]
    if not b or not c:
        print(f"{n:16s} {'-':>12s} {'-':>12s}")
        continue
    mb, mc = statistics.median(b), statistics.median(c)
    ratio = f"{mc / mb:.3f}" if mb else "-"
    print(f"{n:16s} {mb:12.4g} {mc:12.4g} {ratio:>12s}  ({m['better']} is better)")
for s in ("base", "change"):
    runs = [r for r in rows if r["side"] == s]
    failed_runs = sum(1 for r in runs if not r["result"])
    print(f"{s}: correct={all(r['correct'] for r in ok[s]) and not failed_runs} "
          f"failed={sum(int(r['failed']) for r in ok[s])} runs_failed={failed_runs}")
EOF
