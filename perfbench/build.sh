#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and
# the benchmark's engine side (perfbench/scala) with the Scala compiler
# that ships in the Spark distribution, into .bench_build/perfbench.
# Skips the compile when the sources are unchanged since the last build.
# Run from the repository root; prints the classes directory.
set -euo pipefail
root="$(pwd)"
out="$root/.bench_build/perfbench"
if [ ! -d "$root/src/main/scala" ] || [ ! -d "$root/perfbench/scala" ]; then
  echo "build.sh: run from the repository root (src/main/scala and perfbench/scala needed)" >&2
  exit 2
fi
if [ -z "${SPARK_HOME:-}" ]; then
  submit="$(command -v spark-submit || true)"
  [ -n "$submit" ] || { echo "build.sh: SPARK_HOME unset and spark-submit not on PATH" >&2; exit 2; }
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$submit")")/.." && pwd)"
fi
jars="$SPARK_HOME/jars"
mapfile -t srcs < <(find "$root/src/main/scala" "$root/perfbench/scala" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${srcs[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  echo "$out/classes"
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out/classes" -classpath "$jars/*" "${srcs[@]}" >&2
echo "$stamp" > "$out/stamp"
echo "$out/classes"
