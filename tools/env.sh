# Sourced by the tools/*.sh launchers: the run classpath (compiled
# classes + the Spark jars) and the JDK 17 --add-opens list Spark needs
# when a SparkSession starts outside spark-submit.
# Usage: . tools/env.sh  (from the repo root) → $CP, $ADD_OPENS
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
