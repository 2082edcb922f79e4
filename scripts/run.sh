#!/bin/bash
# Run one of the repo's entry points on the compiled classes, sized to this
# machine:  scripts/run.sh <MainClass> [args…]
# e.g.      scripts/run.sh graft.Bench
#           scripts/run.sh graft.Verify <sfDir> <outDir>
#           scripts/run.sh graft.Diag time <sfDir> q22_ngram_jaccard_topk
#
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8g (in local
# mode driver and executors share this one heap). Cores: SPARK_GRAFT_CPUS,
# else nproc. Build first with `sbt compile`.
set -eu
cd "$(dirname "$0")/.."
[ $# -ge 1 ] || { echo "usage: scripts/run.sh <MainClass> [args...]" >&2; exit 2; }
MAIN=$1; shift
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's jdk17AddOpens).
ADD_OPENS=$(printf -- '--add-opens %s=ALL-UNNAMED ' java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar)
# The Spark jars are wherever build.sbt's unmanagedBase points.
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
[ -n "$JARS" ] || { echo "run.sh: no unmanagedBase in build.sbt" >&2; exit 2; }
exec java $ADD_OPENS -Xmx"$HEAP" -cp "target/scala-2.13/classes:$JARS/*" "$MAIN" "$@"
