#!/usr/bin/env bash
# Build file of the serving benchmark. Compiles the server (src/main/scala)
# and the harness (perfbench/src) with the Scala compiler that ships in the
# Spark distribution ($SPARK_HOME/jars), into <out>/main and <out>/harness.
# A tree whose source hash matches the one stamped in its output is skipped,
# so repeated runs of one checkout compile once.
#
# Usage (from the repository root): bash perfbench/build.sh [out-dir]
set -euo pipefail

out=${1:-.bench_build}
jars="${SPARK_HOME:?SPARK_HOME must point at a Spark 4 distribution}/jars/*"

mapfile -t main_src < <(find src/main/scala -name '*.scala' 2>/dev/null | LC_ALL=C sort)
mapfile -t bench_src < <(find perfbench/src -name '*.scala' | LC_ALL=C sort)
if [[ ${#main_src[@]} -eq 0 ]]; then
  echo "build.sh: no server sources under src/main/scala" >&2
  exit 1
fi

# build <name> <stamp-salt> <classpath> <sources...>
build() {
  local name=$1 salt=$2 cp=$3
  shift 3
  local stamp
  stamp=$( (echo "$salt"; cat "$@") | sha256sum | cut -d' ' -f1)
  if [[ -f $out/$name/.stamp && $(cat "$out/$name/.stamp") == "$stamp" ]]; then
    return 0
  fi
  echo "build.sh: compiling $name (${#@} files)" >&2
  rm -rf "$out/$name.tmp"
  mkdir -p "$out/$name.tmp"
  java -Xss8m -Xmx3g -XX:-UsePerfData -cp "$jars" scala.tools.nsc.Main -nowarn \
    -d "$out/$name.tmp" -classpath "$cp" "$@"
  echo "$stamp" > "$out/$name.tmp/.stamp"
  rm -rf "${out:?}/$name"
  mv "$out/$name.tmp" "$out/$name"
}

build main "" "$jars" "${main_src[@]}"
build harness "$(cat "$out/main/.stamp")" "$out/main:$jars" "${bench_src[@]}"
