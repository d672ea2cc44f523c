#!/usr/bin/env bash
# The north rule's deployment shape, literally: spark-submit --py-files
# with the packaged library zip. On a real cluster swap --master for
# yarn/k8s; everything else is identical.
set -euo pipefail
cd "$(dirname "$0")/.."
bash scripts/package.sh > /dev/null
exec spark-submit \
  --master "${SPARK_MASTER:-local[8]}" \
  --py-files dist/loongcollector_spark.zip \
  jobs/run_pipeline.py \
  --input "${1:-/root/testdata/sf0.001}" --from-events \
  --output "${2:-/tmp/lc_submit_out}"
