# Sourced by the tools/*.sh launchers: the run classpath (compiled
# classes + the Spark jars), the JDK 17 --add-opens list Spark needs
# when a SparkSession starts outside spark-submit, and the run size —
# the rule the tier-1 tests and perfbench/run.py use: every core (a
# SPARK_GRAFT_CPUS the caller set wins) and a heap of half of
# MemTotal, clamped to 2..8 GiB.
# Usage: . tools/env.sh  (from the repo root)
#        → $CP, $ADD_OPENS, $HEAP, exported $SPARK_GRAFT_CPUS
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
