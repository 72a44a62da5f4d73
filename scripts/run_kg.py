"""spark-submit entrypoint for the KG construction pipeline.

    spark-submit --py-files darkbo_spark.zip scripts/run_kg.py \
        --pages 5000 --out /tmp/kg_out --cores 32

Prints one JSON line with stage rows, skip/run sets, wall time and
docs/sec (the bench/scaling harness consumes this).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    from darkbo_spark.kg.materialize import DEFAULT_BUCKETS

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", default="/tmp/kg_out")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=DEFAULT_BUCKETS)
    ap.add_argument("--facts-asof", default=None,
                    help="YYYY-MM-DD: add the temporal fusion stages")
    ap.add_argument("--mine-nil", action="store_true",
                    help="publish the kg_nil_candidates dictionary-growth stage")
    args = ap.parse_args()

    from darkbo_spark.session import get_spark

    master = f"local[{args.cores}]" if args.cores else None
    spark = get_spark("darkbo-kg", master=master,
                      shuffle_partitions=(2 * args.cores if args.cores else None))
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(args.out + "/_checkpoints")

    from darkbo_spark.kg.pipeline import run_pipeline

    # warm-up: spawn JVM task threads + python/Arrow workers before timing
    # (cluster-manager startup is not pipeline throughput)
    from darkbo_spark.functions.textnorm import clean_text_udf
    import pyspark.sql.functions as F

    spark.range(0, 10000, numPartitions=spark.sparkContext.defaultParallelism).select(
        clean_text_udf(F.lit("warm up text.")).alias("t")
    ).write.format("noop").mode("overwrite").save()

    t0 = time.time()
    res = run_pipeline(
        spark,
        args.out,
        n_pages=args.pages,
        seed=args.seed,
        n_buckets=args.buckets,
        facts_asof=args.facts_asof,
        mine_nil=args.mine_nil,
    )
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "pages": args.pages,
                "wall_s": round(wall, 3),
                "docs_per_sec": round(args.pages / wall, 2),
                "stages_run": res.stages_run,
                "stages_skipped": res.stages_skipped,
                "rows": res.rows,
                "timings": res.timings,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
