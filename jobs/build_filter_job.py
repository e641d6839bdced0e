#!/usr/bin/env python
"""spark-submit entry point: build (or resume) a sharded cuckoo filter over
a pages table and write the merged filter + a metrics report.

The north-rule execution mode::

    zip -r sketchlib.zip sketchlib
    spark-submit --py-files sketchlib.zip jobs/build_filter_job.py \
        --input /data/pages.parquet --key url \
        --output /data/filters/urls --name urls \
        --capacity 1000000000 --fpsize 2 --num-shards 4096 \
        --checkpoint /data/ckpt/urls

Both modes run one build: each input partition makes map-side
canonical-pair partials (~12 B/key shuffled), and one per-(name, shard)
stage merges them. Without --checkpoint that is ``build_filter_direct``.
With --checkpoint it is ``checkpointed_build``, which also persists the
partials under the checkpoint directory, so a re-run rebuilds only the
missing ones. The bytes are the same, so the report's ``digest`` is the
same either way.

The merge stage runs in ``spark.sql.shuffle.partitions`` tasks, each
merging whole shards, so use at least that many shards to keep every merge
task busy. Size --capacity to the expected distinct keys (the per-shard
byte size is derived via the reference's size_for: +20% pad → ≤80% fill).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of the input table")
    ap.add_argument("--key", required=True, help="key column (hashed with xxhash64)")
    ap.add_argument("--output", required=True, help="output dir for the merged filter table")
    ap.add_argument("--name", default="filter")
    ap.add_argument("--capacity", type=int, required=True, help="expected distinct keys")
    ap.add_argument("--fpsize", type=int, default=2, choices=[1, 2, 4])
    ap.add_argument("--num-shards", type=int, default=32)
    ap.add_argument("--checkpoint", default=None, help="enable resumable build")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sketchlib.kernels.cuckoo import size_for
    from sketchlib.pipeline import checkpointed_build
    from sketchlib.spark.cuckoo import CuckooSpec, ShardedCuckoo, build_filter_direct

    spark = SparkSession.builder.appName(f"sketchlib-build-{args.name}").getOrCreate()
    per_shard = size_for(int(args.capacity * 1.05) // args.num_shards, args.fpsize)
    spec = CuckooSpec(args.name, per_shard, args.fpsize, num_shards=args.num_shards)
    df = spark.read.parquet(args.input)

    t0 = time.time()
    if args.checkpoint:
        merged = checkpointed_build(df, spec, F.col(args.key), args.checkpoint)
    else:
        merged = build_filter_direct(df, spec, key=F.col(args.key)).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(args.output)
    merged = spark.read.parquet(args.output)
    sc = ShardedCuckoo.from_df(merged, spec)
    wall = time.time() - t0
    report = {
        "name": args.name,
        "rows": sc.rows,
        "fpcount": sc.count() if not sc.is_broken() else None,
        "dropped": sc.dropped,
        "toofull": sc.is_toofull(),
        "broken": sc.is_broken(),
        "shards": len(sc.filters),
        "bytes_per_shard": spec.size,
        "memory_bytes": sc.memory_usage(),
        "digest": sc.digest(),
        "seconds": round(wall, 2),
        "docs_per_sec": round(sc.rows / wall, 1) if wall else None,
    }
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
