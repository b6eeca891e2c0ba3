#!/usr/bin/env bash
# Package the engine for spark-submit --py-files deployment.
#
#   tools/package.sh               # builds dist/jsoup_spark.zip
#   spark-submit --py-files dist/jsoup_spark.zip your_job.py
#
# The library is pure Python (stdlib + pyspark/pandas/pyarrow provided by
# the cluster), so a zip of the package is the whole deployment artifact.
# zipimport cannot load extension modules, so local C builds (_build/,
# *.so) stay out and a zipped package runs the Python twins.
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/jsoup_spark.zip
zip -qr dist/jsoup_spark.zip jsoup_spark pyspark_worker_zipcache.py \
    -x '*__pycache__*' 'jsoup_spark/_native/_build/*' '*.so'
echo "built dist/jsoup_spark.zip ($(du -h dist/jsoup_spark.zip | cut -f1))"
