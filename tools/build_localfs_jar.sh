#!/usr/bin/env bash
# Build lakehouse/jvm/lakehouse-localfs.jar from the Java sources next to it.
#
#     tools/build_localfs_jar.sh
#
# Compiles lakehouse/jvm/*.java with `javac --release 17` against the
# hadoop-client-api jar that ships inside the installed pyspark, and
# records the sha256 of the sources (concatenated in byte order of their
# names) as the jar manifest's `Source-SHA256` attribute, which
# tests/test_localfs.py checks against the committed sources. Entry
# timestamps are pinned, so a rebuild from the same sources and JDK gives
# the same bytes. Run it after any edit to a .java file and commit the jar.
set -euo pipefail
export LC_ALL=C

repo="$(cd "$(dirname "$0")/.." && pwd)"
src="$repo/lakehouse/jvm"
jar_out="$src/lakehouse-localfs.jar"

pyspark_dir="$(python3 -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')"
hadoop_api=("$pyspark_dir"/jars/hadoop-client-api-*.jar)
[ -f "${hadoop_api[0]}" ] || { echo "no hadoop-client-api jar under $pyspark_dir/jars" >&2; exit 1; }

build="$(mktemp -d)"
trap 'rm -rf "$build"' EXIT

sources=("$src"/*.java)
javac --release 17 -nowarn -cp "${hadoop_api[0]}" -d "$build/classes" "${sources[@]}"

sha="$(cat "${sources[@]}" | sha256sum | cut -d' ' -f1)"
printf 'Source-SHA256: %s\n' "$sha" > "$build/manifest.txt"

jar --create --file "$jar_out" --manifest "$build/manifest.txt" \
    --date 2000-01-01T00:00:02Z -C "$build/classes" .
echo "$jar_out  Source-SHA256: $sha"
