#!/usr/bin/env python
"""spark-submit entrypoint (north_rule launch config).

Packages the engine and runs a named pipeline on a cluster:

    python -m zipfile -c geograypher_spark.zip geograypher_spark/
    spark-submit --py-files geograypher_spark.zip submit_job.py \
        --pipeline label_polygons --sf-dir /data/sfX --out /data/out

In the sandbox the same script runs on local[*]; on a real cluster the
master/conf come from spark-submit. Every stage goes through the
checkpoint manager → resumable with lineage (see plans/checkpoints.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline", required=True,
                    help="a queries() name from __spark_entry__ "
                         "(e.g. label_polygons, visibility_zbuffer, tile_argmax)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="parquet output dir")
    ap.add_argument("--checkpoint-root", default=None,
                    help="enable checkpoint-resumable execution")
    args = ap.parse_args()

    # under spark-submit the session inherits the submit conf; get_spark's
    # defaults only fill gaps
    from geograypher_spark.session import get_spark

    spark = get_spark(f"geograypher-{args.pipeline}")

    from geograypher_spark.plans import driver_queries as DQ

    q = DQ.QUERIES.get(args.pipeline)
    if q is None:
        print(f"unknown pipeline {args.pipeline}; known: {sorted(DQ.QUERIES)}",
              file=sys.stderr)
        sys.exit(2)

    if args.checkpoint_root:
        from geograypher_spark.plans.checkpoints import CheckpointManager

        mgr = CheckpointManager(spark, args.checkpoint_root)
        df, key = mgr.run(args.pipeline, {"sf_dir": args.sf_dir}, [],
                          lambda: q(spark, args.sf_dir))
        print(json.dumps({"stage_key": key,
                          "lineage": mgr.lineage()[-1]}, default=str))
    else:
        df = q(spark, args.sf_dir)

    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    else:
        print(json.dumps({"rows": df.count()}))
    spark.stop()


if __name__ == "__main__":
    main()
