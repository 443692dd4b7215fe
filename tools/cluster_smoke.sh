#!/usr/bin/env bash
# One-command multi-JVM deployment smoke (DEPLOY.md "Deployment profile"):
# packages the library and spark-submits graft.ClusterSmoke against
# local-cluster[2,4,2048] — two real executor JVMs. The session builder
# (GraftSession.build) applies the recommended conf; this script sets only
# the deployment-sized values. Exit 0 + one {"smoke":"ok"} line = no code
# path assumes a single JVM.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch package >&2
JAR=$(ls target/scala-2.13/breadspark_2.13-*.jar | grep -v tests | head -1)
exec /opt/spark/bin/spark-submit \
  --master 'local-cluster[2,4,2048]' \
  --driver-memory 4g \
  --conf spark.executor.memory=1536m \
  --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=16 \
  --class graft.ClusterSmoke "$JAR" "${1:-/root/testdata/sf0.001}"
