"""spark-submit entry point for the transcript pipeline (north rule:
'ships as spark-submit --py-files jobs run at N and 4N executors').

Use scripts/run_spark_submit.sh — it rebuilds dist/sqlite_otel_spark.zip
from the working tree first (the zip is a build artifact, not committed),
then runs:

    spark-submit --master local[8]  --py-files dist/sqlite_otel_spark.zip \
        scripts/submit_pipeline.py --input <transcripts.parquet> --output <dir>
    spark-submit --master local[32] --py-files dist/sqlite_otel_spark.zip \
        scripts/submit_pipeline.py --input <transcripts.parquet> --output <dir>

On a real cluster the --master/--num-executors pair carries the N vs 4N
comparison; locally the core count stands in (BASELINE.md §3).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path or table")
    ap.add_argument("--output", required=True, help="sink directory")
    ap.add_argument("--checkpointed", action="store_true",
                    help="use the resumable per-bucket plan")
    ap.add_argument("--run-id", default="submit-run")
    args = ap.parse_args()

    from sqlite_otel_spark.config import PipelineConfig
    from sqlite_otel_spark.session import get_spark
    from sqlite_otel_spark.sources.transcripts import health_check, read_transcripts

    # the library's session defaults; spark-submit's --master wins
    spark = get_spark(app_name="submit-pipeline")
    assert health_check(spark)
    transcripts = read_transcripts(spark, args.input)
    cfg = PipelineConfig()

    t0 = time.monotonic()
    if args.checkpointed:
        from sqlite_otel_spark.plans.checkpoint import run_checkpointed

        status = run_checkpointed(spark, transcripts, args.output, cfg,
                                  run_id=args.run_id)
        n = transcripts.count()
    else:
        from sqlite_otel_spark.operators.aggregates import sink_counts
        from sqlite_otel_spark.plans.pipeline import run_pipeline, write_sinks

        result = run_pipeline(spark, transcripts, cfg)
        write_sinks(result, args.output)
        status = {"sinks": sink_counts(result.sinks)}
        n = transcripts.count()
    wall = time.monotonic() - t0
    print(json.dumps({
        "master": spark.sparkContext.master,
        "n_turns": n,
        "wall_sec": round(wall, 3),
        "turns_per_sec": round(n / wall, 1),
        "status": status,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
