"""spark-submit entry point (north rule: `spark-submit --py-files`).

Examples:
  spark-submit --master local[32] --py-files ffg.zip spark_submit_main.py \
      --synth-ticks 64x50000 --output /tmp/features
  spark-submit ... spark_submit_main.py --input ticks.parquet \
      --output /data/features_table --resume --batch-sources 8

Package the repo for --py-files with:
  (cd /root/repo && zip -qr ffg.zip forex_feature_generator_spark)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="ticks parquet/csv (source, ts, bid, ask)")
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "csv"])
    ap.add_argument("--csv-seq-mode", default="window",
                    choices=["window", "split-offsets"],
                    help="dense-seq strategy for CSV input: 'window' (lazy, "
                         "one sort task per source - fine for the "
                         "reference's per-pair files) or 'split-offsets' "
                         "(per-split counts + map-side offsets, no sort - "
                         "the multi-GB single-file path)")
    ap.add_argument("--synth-ticks", help="SOURCESxTICKS deterministic corpus, e.g. 64x50000")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", default="features",
                    choices=["features", "tokens", "labels", "stream-features",
                             "bpe", "bpe-learn", "curate"])
    ap.add_argument("--min-words", type=int, default=50,
                    help="--mode curate: Gopher word-count floor")
    ap.add_argument("--bpe-merges",
                    help="merges.txt (one 'left right' pair per line, rank "
                         "order) for --mode bpe; omit for the frozen demo "
                         "table. Tables past the codegen gate use the "
                         "broadcast pandas-UDF encoder automatically")
    ap.add_argument("--n-merges", type=int, default=1000,
                    help="--mode bpe-learn: number of merge rules to learn")
    ap.add_argument("--resume", action="store_true",
                    help="snapshot-manifest checkpoint/resume (per-partition lineage)")
    ap.add_argument("--batch-sources", type=int, default=8)
    ap.add_argument("--normalize", action="store_true",
                    help="also write the normalized table + stats csv")
    ap.add_argument("--calculators",
                    help="comma-separated calculator families to keep "
                         "(FeatureConfiguration equivalent), e.g. "
                         "Directional,Position,TechnicalIndicators")
    ap.add_argument("--validate", action="store_true",
                    help="tick-quality scan before processing "
                         "(spread stats, ordering violations)")
    ap.add_argument("--overwrite", action="store_true",
                    help="recompute even if outputs already exist (default "
                         "mirrors the reference's file-existence memoization)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from forex_feature_generator_spark.engine import (normalize as enorm,
                                                      pipeline as epipe,
                                                      skew as eskew,
                                                      snapshots as esnap,
                                                      tokens as etok)

    spark = SparkSession.builder.appName("forex_feature_generator_spark").getOrCreate()
    t0 = time.time()

    if args.synth_ticks:
        from forex_feature_generator_spark import synth
        try:
            n_sources, n_ticks = (int(x) for x in args.synth_ticks.split("x"))
        except ValueError:
            ap.error(f"--synth-ticks expects SOURCESxTICKS (e.g. 64x50000), "
                     f"got {args.synth_ticks!r}")
        pdf = synth.gen_ticks(n_sources=n_sources, ticks_per_source=n_ticks)
        ticks = spark.createDataFrame(pdf)
    elif args.input:
        if args.input_format == "csv":
            # reference CSV shape Timestamp,Bid,Ask (TickLoader.cs:92-115);
            # malformed rows dropped + counted, comment/blank lines skipped
            from forex_feature_generator_spark.engine import tick_source
            ticks = tick_source.load_ticks_csv(spark, args.input,
                                               seq_mode=args.csv_seq_mode)
            diag = tick_source.csv_diagnostics(spark, args.input)
            print(json.dumps({"csv_source": diag}))
        else:
            ticks = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth-ticks is required")

    if args.mode == "stream-features":
        # the full 148-feature kernel as a stateful stream over a parquet
        # file source (engine/streaming.py::streaming_features_stateful):
        # state carries the 620-bar halo per source; new files -> new
        # emissions. availableNow drains what exists and stops (replay /
        # backfill); a deployment would drop that trigger and keep running.
        if not args.input or args.input_format != "parquet":
            ap.error("--mode stream-features needs --input <parquet dir>")
        from forex_feature_generator_spark.engine.streaming import (
            streaming_features_stateful)
        schema = spark.read.parquet(args.input).schema
        stream = spark.readStream.schema(schema).parquet(args.input)
        q = (streaming_features_stateful(stream)
             .writeStream.format("parquet").outputMode("append")
             .option("path", args.output)
             .option("checkpointLocation", args.output.rstrip("/") + "_ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        try:
            n = spark.read.parquet(args.output).count()
        except Exception:
            n = 0
    elif args.mode == "tokens":
        out = etok.full_features(ticks)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    elif args.mode == "bpe":
        # --input here is a documents table (doc_id, text); vocab from
        # --bpe-merges or the frozen demo table. Path selection (codegen
        # replace chain vs broadcast pandas-UDF) is automatic on table size.
        from forex_feature_generator_spark.ops import bpe as BPE
        merges = BPE.load_merges(args.bpe_merges) if args.bpe_merges else None
        out = BPE.bpe_encode(ticks, merges=merges)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    elif args.mode == "bpe-learn":
        # learn a merge table from the corpus (--input documents table) and
        # write it as merges.txt (the shape --bpe-merges reads back)
        from forex_feature_generator_spark.ops import bpe as BPE
        merges = BPE.learn_merges(ticks, n_merges=args.n_merges)
        os.makedirs(args.output, exist_ok=True)
        path = os.path.join(args.output, "merges.txt")
        with open(path, "w") as f:
            f.write("# learned bpe merges, rank order\n")
            for a, b in merges:
                f.write(f"{a} {b}\n")
        print(json.dumps({"merges_learned": len(merges), "path": path}))
        n = len(merges)
    elif args.mode == "curate":
        # --input is a documents table (doc_id, text[, ...]): the curation
        # sweep every crawl shard gets before training — exact-dup flag
        # (earliest doc per normalized-text hash is the keeper; ONE
        # bounded hash shuffle), heuristic quality score, Gopher hard
        # rules (reasons bitmask), language ID — all pure projections on
        # the same scan. Output: the input columns + the verdict columns;
        # a JSON summary of drop reasons goes to stdout.
        from pyspark.sql import functions as F
        from forex_feature_generator_spark.ops import dedup as DD
        from forex_feature_generator_spark.ops import text as OTXT
        # NULL text would hash to a NULL key (md5(normalize(NULL)) IS
        # NULL) and silently vanish through the null-unsafe keeper join —
        # coalesce to '' so every input doc gets a verdict row (dirty
        # shards keep the len(out) == len(in) contract; a null-text doc
        # behaves like an empty one: never canonical-unique, never kept)
        docs = ticks.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        keepers = DD.exact_dedup(docs).select("text_hash", "kept_id")
        scored = OTXT.detect_language(
            OTXT.quality_score(OTXT.token_counts(docs)))
        gop = OTXT.gopher_rules(docs, min_words=args.min_words).select(
            "doc_id", "reasons", "keep")
        hashed = (scored.join(gop, "doc_id")
                  .withColumn("text_hash",
                              F.md5(DD.normalize_text(F.col("text")))))
        out = (hashed.join(keepers, "text_hash")
               .withColumn("is_canonical", F.col("doc_id") == F.col("kept_id"))
               .withColumn("curated",
                           F.col("is_canonical") & F.col("keep"))
               .drop("kept_id"))
        out.write.mode("overwrite").parquet(args.output)
        res = spark.read.parquet(args.output)
        n = res.count()
        summary = res.agg(
            F.sum((~F.col("is_canonical")).cast("long")).alias("exact_dupes"),
            F.sum((F.col("is_canonical") & ~F.col("keep")).cast("long"))
            .alias("gopher_dropped"),
            F.sum(F.col("curated").cast("long")).alias("curated"),
        ).collect()[0]
        print(json.dumps({"curate": {k: int(summary[k]) for k in
                                     ("exact_dupes", "gopher_dropped",
                                      "curated")}}))
    elif args.mode == "labels":
        # full LabelResult surface (confidence/profits/MAE/MFE/tt/RR/quality)
        # — the reference computes these but persists only the label
        out = eskew.label_table(spark, ticks)
        out.write.mode("overwrite").partitionBy("source").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    elif args.resume:
        stats = esnap.run_resumable(spark, ticks, args.output,
                                    batch_sources=args.batch_sources)
        print(json.dumps({"resume": stats}, default=str))
        n = spark.read.parquet(args.output).count()
    else:
        if args.validate:
            from forex_feature_generator_spark.engine import tick_source
            print(json.dumps({"validation": tick_source.validate_ticks(ticks)}))
        # phase memoization (Program.cs:54,89): an existing output skips the
        # generation phase; normalization reuses the stats CSV when present
        # and skips when the normalized table exists
        done_marker = os.path.join(args.output, "_SUCCESS")
        if os.path.exists(done_marker) and not args.overwrite:
            print(json.dumps({"skipped": "features (output exists)"}))
            n = spark.read.parquet(args.output).count()
        else:
            # halo-chunked: bounded memory per task regardless of source skew
            out = eskew.run_pipeline_salted(spark, ticks)
            if args.calculators:
                out = epipe.select_calculators(
                    out, [c.strip() for c in args.calculators.split(",")])
            out.write.mode("overwrite").partitionBy("source").parquet(args.output)
            try:
                n = spark.read.parquet(args.output).count()
            except Exception:
                # inputs shorter than the 260-bar warm-up emit nothing: the
                # partitioned dir has no files and the re-read cannot infer a
                # schema — an empty result, not an error
                n = 0
        if args.normalize and n:
            stats_path = args.output.rstrip("/") + "_statistics.csv"
            norm_path = args.output.rstrip("/") + "_normalized"
            feats = spark.read.parquet(args.output)
            if os.path.exists(stats_path) and not args.overwrite:
                st = enorm.load_stats(stats_path)
                print(json.dumps({"loaded_stats": stats_path}))
            else:
                # n is the already-known output row count: the quantile gate
                # decides exact-vs-sketch without a dedicated count() scan
                st = enorm.compute_stats(feats, n_rows=n)
                st.to_csv(stats_path, index=False)
            if (not os.path.exists(os.path.join(norm_path, "_SUCCESS"))
                    or args.overwrite):
                enorm.normalize(feats, st).write.mode("overwrite").parquet(norm_path)
            else:
                print(json.dumps({"skipped": "normalize (output exists)"}))

    dt = time.time() - t0
    print(json.dumps({"rows": n, "wall_sec": round(dt, 2),
                      "rows_per_sec": round(n / dt, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
