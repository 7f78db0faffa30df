#!/usr/bin/env bash
# Run a graft main class on the compiled classes without sbt (no build
# lock, so probes / generators / benches can run in parallel).
# Usage: run_main.sh [-Xmx<mem>] <mainClass> [args...]
set -euo pipefail
MEM="${SPARK_DRIVER_MEM:-8g}"
if [[ "${1:-}" == -Xmx* ]]; then MEM="${1#-Xmx}"; shift; fi
CLS="$1"; shift
# the classes of the checkout this script lives in, wherever it is, and
# the Spark jar directory its build.sbt names
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes"
[[ -d "$CLASSES" ]] || { echo "run_main.sh: no $CLASSES (run sbt compile)" >&2; exit 2; }
JARS="$(sed -n 's/^unmanagedBase *:= *file("\(.*\)").*/\1/p' "$ROOT/build.sbt")"
[[ -d "$JARS" ]] || { echo "run_main.sh: build.sbt names no jar directory" >&2; exit 2; }
# src/main/resources too: `sbt compile` leaves the service registrations
# (the "sheet" data source) out of the classes directory, and a provider
# listed twice still loads once
CP="$CLASSES:$ROOT/src/main/resources:$JARS/*"
OPENS=(java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java -cp "$CP" "${FLAGS[@]}" "-Xmx$MEM" "$CLS" "$@"
