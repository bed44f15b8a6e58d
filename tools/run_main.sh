#!/usr/bin/env bash
# Run a graft main class in a JVM configured exactly like build.sbt's
# forked `sbt runMain` JVM. The flags (module opens, page size, code
# cache, codegen caches, heap) are read from build.sbt's javaOptions by
# perfbench/build.py's jvm_flags — the same parser the benchmark uses —
# so this script never carries its own copy of them.
# Usage: tools/run_main.sh graft.Bench [args...]
# Used for kill-resilience tests (a bare java process is killable without
# orphaning, unlike sbt's fork) and fast local timing loops.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
FLAGS=()
while IFS= read -r f; do FLAGS+=("$f"); done < <(python3 -B -c '
import os, sys
sys.path.insert(0, "perfbench")
import build
print("\n".join(build.jvm_flags(dict(os.environ))))')
[ "${#FLAGS[@]}" -gt 0 ] || { echo "run_main.sh: no JVM flags parsed from build.sbt" >&2; exit 2; }
exec java "${FLAGS[@]}" -cp "$CP" "$@"
