#!/usr/bin/env bash
# spark-submit entry for the crawl engine — the north rule's deployment shape
# ("run via spark-submit --py-files on multi-executor clusters at N and 4N
# executors"). In the sandbox this still runs local[...]; on a real cluster
# point --master at YARN/K8s and the same zip rides along unchanged.
#
# Usage: scripts/submit_crawl.sh [cores] [spark-submit args...] APP.py [app args...]
# APP.py is the driver program, e.g. one that builds a CrawlEngine and runs it.
set -euo pipefail
cd "$(dirname "$0")/.."

CORES="${1:-${SPARK_GRAFT_CPUS:-32}}"
shift || true

ZIP=/tmp/rcspark_pyfiles.zip
rm -f "$ZIP"
python - <<EOF
import zipfile, pathlib
z = zipfile.ZipFile("$ZIP", "w")
for p in pathlib.Path("rcspark").rglob("*.py"):
    z.write(p, p.as_posix())
z.close()
EOF

exec spark-submit \
  --master "local[${CORES}]" \
  --conf spark.sql.shuffle.partitions="${CORES}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.driver.memory="${RCSPARK_DRIVER_MEM:-48g}" \
  --py-files "$ZIP" \
  "$@"
