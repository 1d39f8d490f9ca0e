#!/usr/bin/env bash
# Package the engine and run the pipeline via spark-submit at two
# parallelism levels (the sandbox stand-in for N vs 4N executors).
set -euo pipefail
cd "$(dirname "$0")/.."

N_TURNS="${N_TURNS:-20000}"
OUT="${OUT:-/tmp/submit_out}"

mkdir -p dist
rm -f dist/sqlite_otel_spark.zip
(zip -qr dist/sqlite_otel_spark.zip sqlite_otel_spark -x '*__pycache__*')

python - <<PY
from sqlite_otel_spark.fixtures import write_transcripts_parquet
import os
os.makedirs('.bench_cache', exist_ok=True)
p = '.bench_cache/transcripts_submit.parquet'
if not os.path.exists(p):
    write_transcripts_parquet(p, ${N_TURNS}, seed=42)
print(p)
PY

for MASTER in "local[8]" "local[32]"; do
  rm -rf "${OUT}-${MASTER//[^0-9]/}"
  spark-submit --master "$MASTER" \
    --py-files dist/sqlite_otel_spark.zip \
    scripts/submit_pipeline.py \
    --input .bench_cache/transcripts_submit.parquet \
    --output "${OUT}-${MASTER//[^0-9]/}" 2>/dev/null
done
