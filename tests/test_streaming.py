"""Streaming bars == batch bars on a bounded replay (event-time only, so the
availableNow replay must agree with the batch aggregation for every window
the watermark closed)."""

import numpy as np

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.engine import bars as ebars
from forex_feature_generator_spark.engine import streaming as estream


def test_streaming_bars_match_batch(spark, tmp_path, small_ticks):
    src_dir = str(tmp_path / "ticks_in")
    out_dir = str(tmp_path / "bars_out")
    ckpt = str(tmp_path / "ckpt")
    sdf = spark.createDataFrame(small_ticks)
    sdf.write.parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (estream.streaming_bars(stream, 1)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = (spark.read.parquet(out_dir)
           .orderBy("source", "bar_ts_us").toPandas())
    batch = (ebars.aggregate_bars(sdf, 1)
             .orderBy("source", "bar_ts_us").toPandas())

    # append-mode emits only watermark-closed windows; every emitted bar must
    # exactly match its batch counterpart, and coverage must be near-complete
    bkey = batch.set_index(["source", "bar_ts_us"])
    assert len(got) >= 0.9 * len(batch)
    merged = got.join(bkey, on=["source", "bar_ts_us"], how="inner",
                      rsuffix="_b")
    assert len(merged) == len(got[got.set_index(["source", "bar_ts_us"]).index
                                  .isin(bkey.index)])
    for c in ("open", "high", "low", "close"):
        np.testing.assert_array_equal(merged[c].to_numpy(),
                                      merged[f"{c}_b"].to_numpy(), err_msg=c)
    np.testing.assert_array_equal(merged["tick_volume"].to_numpy(),
                                  merged["tick_volume_b"].to_numpy())
    np.testing.assert_allclose(merged["avg_spread"], merged["avg_spread_b"],
                               rtol=1e-12)


def test_streaming_bars_stateful_exact_parity(spark, tmp_path, small_ticks):
    """applyInPandasWithState bars == batch bars EXACTLY, including up/down
    tick direction across bar AND micro-batch boundaries (the batch drops the
    final never-completed bar; the stateful stream holds it in state — same
    emitted set)."""
    import os
    import pandas as pd

    src_dir = tmp_path / "ticks_in"
    src_dir.mkdir()
    # 3 time-ordered files -> 3 micro-batches (maxFilesPerTrigger=1), so bars
    # and direction spans cross batch boundaries mid-bar
    ordered = small_ticks.sort_values("ts").reset_index(drop=True)
    cuts = [0, len(ordered) // 3, 2 * len(ordered) // 3, len(ordered)]
    for i in range(3):
        part = ordered.iloc[cuts[i]:cuts[i + 1]]
        path = str(src_dir / f"part{i}.parquet")
        part.to_parquet(path)
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    sdf = spark.createDataFrame(small_ticks)
    schema = spark.createDataFrame(ordered).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))

    from forex_feature_generator_spark.engine.streaming import (
        streaming_bars_stateful)
    out_dir = str(tmp_path / "bars_out2")
    ckpt = str(tmp_path / "ckpt2")
    q = (streaming_bars_stateful(stream, 1)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = (spark.read.parquet(out_dir)
           .orderBy("source", "bar_ts_us").toPandas().reset_index(drop=True))
    batch = (ebars.aggregate_bars(ebars.with_seq(sdf), 1)
             .select("source", "bar_ts_us", "open", "high", "low", "close",
                     "tick_volume", "up", "down", "avg_spread", "max_spread",
                     "min_spread")
             .orderBy("source", "bar_ts_us").toPandas().reset_index(drop=True))
    assert len(got) == len(batch) > 50
    for c in ("source", "bar_ts_us", "open", "high", "low", "close",
              "tick_volume", "up", "down"):
        np.testing.assert_array_equal(got[c].to_numpy(), batch[c].to_numpy(),
                                      err_msg=c)
    for c in ("avg_spread", "max_spread", "min_spread"):
        np.testing.assert_allclose(got[c], batch[c], rtol=1e-12, err_msg=c)


def test_streaming_exact_dedup(spark, tmp_path):
    """First arrival of each normalized text survives; duplicates within the
    watermark horizon are dropped."""
    import pandas as pd
    from forex_feature_generator_spark.engine.streaming import (
        streaming_exact_dedup)
    rows = []
    for i in range(60):
        rows.append((i, f"unique doc {i}" if i % 3 else "A repeated   doc!",
                     pd.Timestamp("2024-01-02") + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "docs_in"
    src.mkdir()
    pdf.to_parquet(str(src / "p0.parquet"))
    schema = spark.createDataFrame(pdf).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    out_dir = str(tmp_path / "dedup_out")
    q = (streaming_exact_dedup(stream)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir).toPandas()
    # 40 unique docs (i % 3 != 0) + exactly one survivor of the 20 repeats
    assert len(got) == 41
    assert (got["text"] == "A repeated   doc!").sum() == 1


def test_streaming_labels_match_batch(spark, tmp_path, small_ticks):
    """Streaming 600-tick-lookahead labels == batch labels for every
    emission whose full forward window exists (the streamed set); the batch
    tail (truncated windows) stays pending by design."""
    import os
    from pyspark.sql import functions as F
    from forex_feature_generator_spark.engine import skew as eskew
    from forex_feature_generator_spark.engine.streaming import (
        streaming_labels_stateful)

    src_dir = tmp_path / "ticks_lab"
    src_dir.mkdir()
    ordered = small_ticks.sort_values("ts").reset_index(drop=True)
    cuts = [0, len(ordered) // 3, 2 * len(ordered) // 3, len(ordered)]
    for i in range(3):
        path = str(src_dir / f"part{i}.parquet")
        ordered.iloc[cuts[i]:cuts[i + 1]].to_parquet(path)
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    sdf = spark.createDataFrame(small_ticks)
    schema = spark.createDataFrame(ordered).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    out_dir = str(tmp_path / "labels_out")
    q = (streaming_labels_stateful(stream, 1)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt_lab"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = (spark.read.parquet(out_dir)
           .orderBy("source", "ts_us").toPandas())

    batch = (eskew.run_pipeline_salted(spark, sdf)
             .select("source", "ts_us", "label")
             .orderBy("source", "ts_us").toPandas())
    # the streamed set = emissions with >= 600 ticks after the entry tick
    m1 = ebars.aggregate_bars(ebars.with_seq(sdf), 1)
    counts = sdf.groupBy("source").count()
    full_win = (m1.filter(F.col("bar_index") >= 260).join(counts, "source")
                .filter(F.col("count") - 1 - F.col("completion_seq") >= 600)
                .select("source", F.col("bar_ts_us").alias("ts_us"))
                .orderBy("source", "ts_us").toPandas())
    assert len(got) == len(full_win) > 100
    assert (got["ts_us"].to_numpy() == full_win["ts_us"].to_numpy()).all()
    merged = got.merge(batch, on=["source", "ts_us"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged["label_s"].to_numpy() == merged["label_b"].to_numpy()).all()


def test_streaming_features_stateful_parity(spark, tmp_path, small_ticks):
    """The stateful streaming feature kernel == the batch builder's feature
    columns EXACTLY on replay (all 148 features + timestamp/completion_seq),
    with micro-batch boundaries landing mid-bar and mid-window. The batch
    pipeline's label column is excluded: labels stream separately
    (streaming_labels_stateful)."""
    import os
    import pandas as pd
    from forex_feature_generator_spark.engine import skew as eskew
    from forex_feature_generator_spark.engine.streaming import (
        streaming_features_stateful)
    from forex_feature_generator_spark.oracle.pipeline import FEATURE_NAMES

    src_dir = tmp_path / "ticks_feat_in"
    src_dir.mkdir()
    ordered = small_ticks.sort_values(["ts"]).reset_index(drop=True)
    cuts = [0, len(ordered) // 3, 2 * len(ordered) // 3, len(ordered)]
    for i in range(3):
        part = ordered.iloc[cuts[i]:cuts[i + 1]]
        path = str(src_dir / f"part{i}.parquet")
        part.to_parquet(path)
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = spark.createDataFrame(ordered).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    out_dir = str(tmp_path / "feat_out")
    ckpt = str(tmp_path / "feat_ckpt")
    q = (streaming_features_stateful(stream)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = (spark.read.parquet(out_dir)
           .orderBy("source", "ts_us").toPandas().reset_index(drop=True))
    batch = (eskew.run_pipeline_salted(spark, spark.createDataFrame(small_ticks))
             .orderBy("source", "ts_us").toPandas().reset_index(drop=True))
    # the stream cannot emit the final bars whose completing window hasn't
    # closed? No — bars complete on the next tick, same rule as batch: the
    # emitted SETS are identical.
    assert len(got) == len(batch) > 300
    np.testing.assert_array_equal(got["source"], batch["source"])
    np.testing.assert_array_equal(got["ts_us"], batch["ts_us"])
    np.testing.assert_array_equal(got["timestamp"], batch["timestamp"])
    # completion_seq isn't in the builder's persisted surface; check it
    # against the batch bar stream instead
    from pyspark.sql import functions as F
    bars = (ebars.aggregate_bars(ebars.with_seq(
                spark.createDataFrame(small_ticks)), 1)
            .select("source", F.col("bar_ts_us").alias("ts_us"),
                    "completion_seq")
            .orderBy("source", "ts_us").toPandas())
    merged = got.merge(bars, on=["source", "ts_us"], how="left",
                       suffixes=("", "_bar"))
    np.testing.assert_array_equal(merged["completion_seq"],
                                  merged["completion_seq_bar"])
    for c in FEATURE_NAMES:
        np.testing.assert_array_equal(got[c].to_numpy(), batch[c].to_numpy(),
                                      err_msg=c)


def test_streaming_features_halo_trim(spark, tmp_path):
    """Parity must survive state TRIMMING: >620 completed bars per source so
    the tail is truncated mid-stream (the 620-bar halo bound in action), with
    4 micro-batches. Every emission after trimming must still be exact."""
    import os
    from forex_feature_generator_spark.engine import skew as eskew
    from forex_feature_generator_spark.engine.streaming import (
        streaming_features_stateful, FEATURE_HALO)
    from forex_feature_generator_spark.oracle.pipeline import FEATURE_NAMES

    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=10000,
                            hot_sources=0, seed=23, mean_gap_s=6.0)
    src_dir = tmp_path / "trim_in"
    src_dir.mkdir()
    ordered = ticks.sort_values("ts").reset_index(drop=True)
    cuts = [len(ordered) * i // 4 for i in range(5)]
    for i in range(4):
        path = str(src_dir / f"part{i}.parquet")
        ordered.iloc[cuts[i]:cuts[i + 1]].to_parquet(path)
        os.utime(path, (1_700_000_000 + i * 60,) * 2)

    schema = spark.createDataFrame(ordered).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    out_dir, ckpt = str(tmp_path / "trim_out"), str(tmp_path / "trim_ckpt")
    q = (streaming_features_stateful(stream)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = (spark.read.parquet(out_dir)
           .orderBy("ts_us").toPandas().reset_index(drop=True))
    batch = (eskew.run_pipeline_salted(spark, spark.createDataFrame(ticks))
             .orderBy("ts_us").toPandas().reset_index(drop=True))
    # enough bars that the tail was genuinely cut (bars ~ minutes of data)
    assert len(batch) > FEATURE_HALO - 260
    assert len(got) == len(batch)
    np.testing.assert_array_equal(got["ts_us"], batch["ts_us"])
    for c in FEATURE_NAMES:
        np.testing.assert_array_equal(got[c].to_numpy(), batch[c].to_numpy(),
                                      err_msg=c)


def test_streaming_incremental_dedup(spark, tmp_path):
    """Stream deduplicated against a static seen table AND itself: seen
    content never emits, fresh content emits once (first arrival), and the
    emitted set equals the batch incremental_dedup keepers."""
    import pandas as pd
    from forex_feature_generator_spark.engine.streaming import (
        streaming_incremental_dedup)
    from forex_feature_generator_spark.ops.dedup import (exact_dedup,
                                                         incremental_dedup)
    old = spark.createDataFrame(
        [(900, "already ingested one"), (901, "already ingested two")],
        "doc_id int, text string")
    seen = exact_dedup(old)

    rows = []
    for i in range(30):
        if i % 5 == 0:
            text = "Already INGESTED one!"          # dup of seen (normalized)
        elif i % 3 == 0:
            text = "a fresh repeated doc"           # in-stream dup
        else:
            text = f"fresh unique doc {i}"
        rows.append((i, text,
                     pd.Timestamp("2024-01-02") + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "inc_in"
    src.mkdir()
    pdf.to_parquet(str(src / "p0.parquet"))
    schema = spark.createDataFrame(pdf).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    out_dir = str(tmp_path / "inc_out")
    q = (streaming_incremental_dedup(stream, seen)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir).toPandas()
    assert (got["text"].str.contains("INGESTED")).sum() == 0   # seen dropped
    assert (got["text"] == "a fresh repeated doc").sum() == 1  # one survivor
    # batch equivalence: same keeper hash set as incremental_dedup
    batch = incremental_dedup(spark.createDataFrame(pdf[["doc_id", "text"]]),
                              seen)
    assert len(got) == batch.count()


def test_streaming_near_dedup(spark, tmp_path):
    """Streaming MinHash-LSH near-dup vs the static seen corpus: the
    row-local signature expressions must equal the grouped batch
    signatures, and the streamed (doc, seen, est) pairs must equal the
    batch band-join pairs over the same data (one row per pair despite
    multi-band collisions)."""
    import pandas as pd
    import pyspark.sql.functions as F
    from forex_feature_generator_spark.engine.streaming import (
        streaming_near_dedup)
    from forex_feature_generator_spark.ops.dedup import (
        _banded, _est_jaccard, minhash_signatures,
        minhash_signatures_rowlocal)

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark woods tonight")
    old_rows = [(900 + i, base + f" variant {i}") for i in range(4)]
    old_rows.append((950, "completely unrelated corpus text about stock "
                          "markets interest rates and bond yields today"))
    seen_docs = spark.createDataFrame(old_rows, "doc_id int, text string")

    rows = []
    for i in range(20):
        if i % 4 == 0:
            text = base + f" variant {i % 3}"       # near-dup of seen
        else:
            text = (f"fresh document number {i} with its own words "
                    f"pattern {i * 7} nothing shared here at all {i}")
        rows.append((i, text,
                     pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    new_docs = spark.createDataFrame(pdf[["doc_id", "text"]])

    # 1. row-local signatures == grouped signatures (both doc sets)
    for frame in (seen_docs, new_docs):
        a = {r.id: list(r.sig)
             for r in minhash_signatures(frame, 16).collect()}
        b = {r.id: list(r.sig)
             for r in minhash_signatures_rowlocal(frame, 16).collect()}
        assert a == b

    # 2. stream the batch vs the seen signature table
    seen_sigs = minhash_signatures(seen_docs, 16)
    src = tmp_path / "nd_in"
    src.mkdir()
    pdf.to_parquet(str(src / "p0.parquet"))
    schema = spark.createDataFrame(pdf).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    out_dir = str(tmp_path / "nd_out")
    q = (streaming_near_dedup(stream, seen_sigs, num_hashes=16, bands=8,
                              threshold=0.3)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir).toPandas()
    got_pairs = {(int(r.doc_id), int(r.seen_id), float(r.est_jaccard))
                 for r in got.itertuples()}
    assert len(got) == len(got_pairs)        # watermark state deduped bands

    # batch reference: same band join + rerank over batch signatures
    sn = minhash_signatures(new_docs, 16)
    nb = _banded(sn, 16, 8, keep_sig=True)
    sb = _banded(seen_sigs, 16, 8, keep_sig=True)
    ref = (nb.alias("x").join(sb.alias("y"), ["band", "bhash"])
           .select(F.col("x.id").alias("doc_id"),
                   F.col("y.id").alias("seen_id"),
                   F.round(_est_jaccard(F.col("x.sig"), F.col("y.sig"), 16),
                           6).alias("est"))
           .filter(F.col("est") >= 0.3).distinct().toPandas())
    ref_pairs = {(int(r.doc_id), int(r.seen_id), float(r.est))
                 for r in ref.itertuples()}
    assert got_pairs == ref_pairs
    assert any(d % 4 == 0 for d, _, _ in got_pairs)   # planted dups found
    assert all(d % 4 == 0 for d, _, _ in got_pairs)   # fresh docs clean
