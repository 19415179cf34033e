"""spark-submit entry point: an end-to-end LM training-data pipeline
composing the engine's training-data operators over a documents table.

    zip -qr xqspark.zip xqspark
    spark-submit --master <cluster> --py-files xqspark.zip \
        examples/training_pipeline.py --docs <sf_dir>/documents.parquet \
        --out <dir>

Stages (each one the scale-shaped variant from xqspark/queries.py):
  1. quality + language gate   — pure column expressions, no UDF
  2. exact dedup               — hash-groupBy on the md5 fingerprint
  3. MinHash+LSH near-dup drop — banded bucket join, hot bands capped
  4. deterministic hash split  — md5-bucket train/val/test
  5. sequence packing          — two-phase distributed cumulative sum

Prints one JSON line of per-stage row counts (the pipeline's lineage).
"""

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--docs", required=True, help="documents parquet path")
    parser.add_argument("--out", required=True, help="output dir")
    parser.add_argument("--min-alpha", type=float, default=0.5)
    parser.add_argument("--band-cap", type=int, default=64)
    parser.add_argument("--chunk-tokens", type=int, default=1024)
    args = parser.parse_args()

    spark = (
        SparkSession.builder.appName("xqspark-training-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    from pyspark.sql import Window as W

    counts = {}
    docs = spark.read.parquet(args.docs)
    counts["input"] = docs.count()

    # 1. quality + language gate (JVM-side column expressions)
    text = F.col("text")
    alpha = F.size(F.regexp_extract_all(text, F.lit("[A-Za-z]"), F.lit(0)))
    gated = docs.filter(
        (F.length("text") > 0)
        & (alpha / F.length("text") >= args.min_alpha)
    )
    counts["after_quality"] = gated.count()

    # 2. exact dedup: first doc_id per content fingerprint
    fp = gated.withColumn("fp", F.md5(F.encode(F.trim("text"), "UTF-8")))
    w = W.partitionBy("fp").orderBy("doc_id")
    exact = (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    counts["after_exact_dedup"] = exact.count()

    # 3. MinHash+LSH near-dup drop with CLUSTER-level representative
    # selection (r5): label each pair-graph component with its
    # component-min doc_id (one driver pass when the pair graph fits
    # the broadcast threshold, alternating large-star/small-star
    # otherwise) and keep only that doc_id —
    # the C4/RefinedWeb-style whole-cluster drop (transitive: a~b~c
    # keeps one doc even when a and c never paired directly). Stage 3
    # reads the MATERIALIZED stage-2 output back, so later stages never
    # re-run the quality gate + dedup window against the source.
    tmp_dir = args.out + "/_neardup_in"
    exact.write.mode("overwrite").parquet(tmp_dir + "/documents.parquet")
    exact = spark.read.parquet(tmp_dir + "/documents.parquet")
    from xqspark.queries import _connected_components, lsh_pairs, pack_chunks_df

    dropped = []
    pairs = lsh_pairs(
        spark, tmp_dir, band_cap=args.band_cap, on_dropped=dropped.append
    )
    cc = _connected_components(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    losers = cc.filter(F.col("u") != F.col("v")).select(
        F.col("u").alias("doc_id")
    )
    kept = exact.join(losers, "doc_id", "left_anti").persist()
    counts["hot_bands_dropped"] = dropped[0] if dropped else 0
    counts["after_near_dedup"] = kept.count()

    # 4. deterministic CONTENT-hash split (same recipe as q_hash_split:
    # identical text lands in the same split on every engine and run,
    # even if doc_ids are reassigned on re-ingestion)
    bucket = F.conv(
        F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 2), 16, 10
    ).cast("int")
    split = kept.withColumn(
        "split",
        F.when(bucket < 204, "train")   # ~80%
        .when(bucket < 230, "val")      # ~10%
        .otherwise("test"),
    )

    # 5. sequence packing per split (shared two-phase distributed cumsum)
    toks = F.size(
        F.regexp_extract_all(F.trim("text"), F.lit(r"\S+"), F.lit(0))
    ).cast("long")
    with_tok = split.select("doc_id", "split", "text", toks.alias("n_tok"))
    packed = pack_chunks_df(
        with_tok, chunk_tokens=args.chunk_tokens, partition_cols=("split",)
    ).select("doc_id", "split", "text", "chunk_id")
    packed.write.mode("overwrite").partitionBy("split").parquet(
        args.out + "/packed"
    )
    kept.unpersist()
    out = spark.read.parquet(args.out + "/packed")
    counts["output_rows"] = out.count()
    counts["output_chunks"] = out.select("split", "chunk_id").distinct().count()
    print("xqspark-training-pipeline: " + json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
