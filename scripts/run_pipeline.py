#!/usr/bin/env python
"""spark-submit entry point for the record-linkage pipeline.

Cluster usage (north rule: spark-submit --py-files at N and 4N executors)::

    cd /root/repo && zip -r /tmp/amr_spark.zip address_match_recommend_spark
    spark-submit \
      --master <cluster-master> \
      --num-executors $N --executor-cores 4 --executor-memory 16g \
      --py-files /tmp/amr_spark.zip \
      --conf spark.sql.shuffle.partitions=$((N*8)) \
      scripts/run_pipeline.py \
      --input  <path-or-iceberg-table>  \
      --output /path/to/run_output \
      --checkpoint /path/to/ck --run-id run1

Sandbox usage (local master from SPARK_GRAFT_MASTER/CPUS)::

    python scripts/run_pipeline.py --synthetic 200 --output /tmp/out

Reads transcripts (input_hint schema), runs canonicalize → dedup → TF-IDF
→ blocking → scoring → connected components with every stage checkpointed
(resume = re-run the same command), writes clusters + the lineage/metrics
ledger, and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path or iceberg table of transcripts")
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "iceberg", "text"])
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic entities instead of reading --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--reliable",
        action="store_true",
        help="swap in-memory localCheckpoints for durable rdd checkpoints "
        "under --checkpoint/_rdd (survives executor decommission; use on "
        "spot/preemptible clusters)",
    )
    args = ap.parse_args()
    if args.reliable and not args.checkpoint:
        ap.error("--reliable requires --checkpoint")

    from address_match_recommend_spark.config import PipelineConfig
    from address_match_recommend_spark.plans.pipeline import run_pipeline
    from address_match_recommend_spark.session import get_spark
    from address_match_recommend_spark.sources import readers
    from address_match_recommend_spark.sources.checkpoint import Checkpointer

    spark = get_spark(
        app_name=f"amr-pipeline-{args.run_id}",
        shuffle_partitions=args.shuffle_partitions,
    )

    if args.synthetic:
        from address_match_recommend_spark.datagen import corpus_to_spark, generate_corpus

        transcripts = corpus_to_spark(
            spark, generate_corpus(n_entities=args.synthetic, seed=7)
        )["transcripts"]
    elif args.input_format == "iceberg":
        transcripts = readers.read_transcripts_iceberg(spark, args.input)
    elif args.input_format == "text":
        transcripts = readers.read_transcripts_text(spark, args.input)
    else:
        transcripts = readers.read_transcripts_parquet(spark, args.input)

    ck = (
        Checkpointer(spark, args.checkpoint, run_id=args.run_id)
        if args.checkpoint
        else None
    )
    cfg = PipelineConfig(
        reliable_checkpoint=args.reliable,
        checkpoint_dir=args.checkpoint,
    )

    t0 = time.monotonic()
    result = run_pipeline(transcripts, cfg, checkpointer=ck)
    result.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    wall = time.monotonic() - t0

    n_pairs = result.scored.count()
    summary = {
        "run_id": args.run_id,
        "wall_sec": round(wall, 2),
        "n_conversations": result.conversations.count(),
        "n_representatives": result.representatives.count(),
        "pairs_scored": n_pairs,
        "pairs_per_sec": round(n_pairs / wall, 1) if wall else None,
        "n_clusters": result.clusters.select("entity_id").distinct().count(),
        "resumed_stages": ck.stages_resumed if ck else [],
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
