#!/usr/bin/env bash
# Package the engine as a zip and launch the flagship matching job via
# spark-submit --py-files (north-rule launch mode; on a real cluster
# swap --master for the cluster manager URL).
set -euo pipefail
cd "$(dirname "$0")/.."
rm -f /tmp/pfaedle_spark.zip
python - <<'PY'
import shutil
shutil.make_archive("/tmp/pfaedle_spark", "zip", ".", "pfaedle_spark")
PY
# spark-submit starts the driver JVM itself, before any session
# builder runs, so the driver's JIT option (pfaedle_spark.session)
# goes on its command line
driver_opts="$(python -c 'from pfaedle_spark.session import DRIVER_JAVA_OPTIONS; print(DRIVER_JAVA_OPTIONS)')"
exec spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-8}]" \
  --conf spark.sql.shuffle.partitions="${SPARK_GRAFT_CPUS:-8}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.ui.enabled=false \
  --conf spark.driver.defaultJavaOptions="$driver_opts" \
  --py-files /tmp/pfaedle_spark.zip \
  tools/submit_main.py "$@"
