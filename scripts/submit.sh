#!/usr/bin/env bash
# Cluster launch via spark-submit --py-files (north-rule deployment shape).
#
#   scripts/submit.sh <master-url> <config.yml> [extra spark-submit args...]
#
# Packages the library as a zip shipped to every executor; the driver
# entry is the same CLI as `python -m log_formatter_spark`.
set -euo pipefail

MASTER="${1:?usage: submit.sh <master-url> <config.yml> [args...]}"
CONFIG="${2:?usage: submit.sh <master-url> <config.yml> [args...]}"
shift 2

REPO_DIR="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$(mktemp -d)/log_formatter_spark.zip"
(cd "$REPO_DIR" && zip -qr "$ZIP" log_formatter_spark)

# the forkless local file system (log_formatter_spark/jvm/), built by the
# same helper get_spark uses; spark-submit launches the JVM here, so the
# jar and the file-system conf go on its command line
JVM_ARGS="$(cd "$REPO_DIR" && python3 -c '
from log_formatter_spark.session import jvm_jar, local_fs_conf
jar = jvm_jar()
print("--jars", jar, "--driver-class-path", jar, sep="\n")
for k, v in local_fs_conf(jar).items():
    if k.startswith("spark.hadoop."):
        print("--conf", f"{k}={v}", sep="\n")
')"
mapfile -t JVM_ARGS <<< "$JVM_ARGS"

exec spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  "${JVM_ARGS[@]}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  "$@" \
  "$REPO_DIR/log_formatter_spark/__main__.py" -c "$CONFIG"
