"""Resume-equivalence property (SURVEY §5.4c): kill after snapshot k, resume,
output equals the single-run output; completed partitions are skipped."""

import numpy as np

from forex_feature_generator_spark.engine import skew as eskew
from forex_feature_generator_spark.engine import snapshots as snap
from forex_feature_generator_spark.oracle import pipeline as opipe


def test_resume_equivalence(spark, small_ticks, tmp_path):
    table = str(tmp_path / "features_table")
    sdf = spark.createDataFrame(small_ticks)

    # interrupted run: one batch of one source, then "crash"
    r1 = snap.run_resumable(spark, sdf, table, batch_sources=1, max_batches=1)
    assert r1["snapshots"] == 1 and len(r1["processed"]) == 1

    # resume: must skip the committed partition and finish the rest
    r2 = snap.run_resumable(spark, sdf, table, batch_sources=1)
    assert set(r2["skipped"]) == set(r1["processed"])

    # lineage recorded for every partition
    done = snap.SnapshotLog(table).completed_partitions()
    assert set(done) == set(small_ticks["source"].unique())
    assert all(v["rows_out"] > 0 and v["rows_in"] > 0 for v in done.values())

    # equivalence with the single-shot builder
    resumed = (spark.read.parquet(table)
               .orderBy("source", "ts_us").toPandas())
    single = (eskew.run_pipeline_salted(spark, sdf)
              .orderBy("source", "ts_us").toPandas())
    assert len(resumed) == len(single)
    assert (resumed["label"].to_numpy() == single["label"].to_numpy()).all()
    for c in opipe.FEATURE_NAMES:
        assert np.array_equal(resumed[c].to_numpy(), single[c].to_numpy(),
                              equal_nan=True), c
