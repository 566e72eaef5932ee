#!/usr/bin/env bash
# Builds the benchmark: compiles the engine's main sources (src/main) and the
# benchmark program (perfbench/scala) with the Scala compiler that ships with
# Spark ($SPARK_JARS, else $SPARK_HOME/jars), into .bench_build/classes. Run
# from the repository root:
#   bash perfbench/build.sh
set -euo pipefail
jars="${SPARK_JARS:-${SPARK_HOME:?set SPARK_HOME or SPARK_JARS}/jars}"
out=".bench_build/classes"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here; run from the repository root" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar "$jars"/scala-reflect-2.13*.jar | tr '\n' ':')
rm -rf "$out" && mkdir -p "$out"
find src/main/scala perfbench/scala -name '*.scala' > .bench_build/sources.txt
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn -d "$out" -classpath "$jars/*" @.bench_build/sources.txt
cp -r src/main/resources/. "$out/"
