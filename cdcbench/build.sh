#!/usr/bin/env bash
# Compiles the program (src/main/scala of the checkout) together with the
# benchmark's JVM program (cdcbench/scala) into cdcbench/.build/classes, with
# the Scala compiler that ships among the jars of $SPARK_HOME. Offline; no
# sbt. A build whose sources are unchanged is reused.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
out="$here/.build"
[ -d "$root/src/main/scala" ] || { echo "build: no program sources at $root/src/main/scala" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar > /dev/null 2>&1 || { echo "build: no Scala compiler in $jars" >&2; exit 2; }
mapfile -t srcs < <(find "$root/src/main/scala" "$here/scala" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${srcs[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -d "$out/classes" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out/classes.tmp"
# -classpath replaces scalac's default ".", which would let directories of
# the working directory (such as cdcbench/scala) shadow packages
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -classpath "$out/classes.tmp" -d "$out/classes.tmp" "${srcs[@]}"
mv "$out/classes.tmp" "$out/classes"
echo "$stamp" > "$out/stamp"
