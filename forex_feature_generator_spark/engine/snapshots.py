"""Snapshot-manifest checkpoint/resume + per-partition lineage — the sandbox
stand-in for Iceberg table commits (SURVEY §7.4: no Iceberg jars/network).

Layout under the output table path:

  <table>/source=<s>/…parquet          partitioned data (dynamic overwrite)
  <table>/_snapshots/<id>.json         snapshot manifests (monotone ids)

A manifest records: snapshot id, parent id, the partitions committed in this
snapshot, and per-partition lineage (rows_in, rows_out, wall ms). A resumed
run loads the latest manifest, skips every completed partition, and processes
only the remainder — the reference's file-existence memoization
(Program.cs:54,89) generalized to per-partition granularity.

The TableIO surface is deliberately thin so a real Iceberg catalog
(`writeTo(...).overwritePartitions()` + snapshot metadata) can replace it via
configuration on a real cluster."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .skew import run_pipeline_salted


class SnapshotLog:
    def __init__(self, table_path: str):
        self.table_path = table_path
        self.dir = os.path.join(table_path, "_snapshots")

    def _ids(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        return sorted(int(f[:-5]) for f in os.listdir(self.dir) if f.endswith(".json"))

    def latest(self) -> dict | None:
        ids = self._ids()
        if not ids:
            return None
        with open(os.path.join(self.dir, f"{ids[-1]}.json")) as f:
            return json.load(f)

    def completed_partitions(self) -> dict[str, dict]:
        """Union of per-partition lineage across the snapshot chain."""
        done: dict[str, dict] = {}
        for sid in self._ids():
            with open(os.path.join(self.dir, f"{sid}.json")) as f:
                snap = json.load(f)
            for part, lineage in snap["partitions"].items():
                done[part] = lineage
        return done

    def commit(self, partitions: dict[str, dict], inputs: str | None = None) -> dict:
        os.makedirs(self.dir, exist_ok=True)
        parent = self.latest()
        snap = {
            "snapshot_id": (parent["snapshot_id"] + 1) if parent else 0,
            "parent_id": parent["snapshot_id"] if parent else None,
            "committed_at_ms": int(time.time() * 1000),
            "inputs": inputs,
            "partitions": partitions,
        }
        tmp = os.path.join(self.dir, f".{snap['snapshot_id']}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=2)
        os.replace(tmp, os.path.join(self.dir, f"{snap['snapshot_id']}.json"))
        return snap


def run_resumable(spark: SparkSession, ticks: DataFrame, table_path: str,
                  batch_sources: int = 4, max_batches: int | None = None,
                  inputs: str | None = None) -> dict:
    """Process per-source partitions in batches through the feature builder
    (engine/skew.py), committing a snapshot (with lineage) after each batch.
    Re-running resumes from the latest snapshot.
    Returns {"snapshots": n, "skipped": [...], "processed": {...}}."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    log = SnapshotLog(table_path)
    done = set(log.completed_partitions())

    in_counts = {r["source"]: r["cnt"] for r in
                 ticks.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    todo = sorted(s for s in in_counts if s not in done)
    skipped = sorted(s for s in in_counts if s in done)

    processed: dict[str, dict] = {}
    n_snaps = 0
    for i in range(0, len(todo), batch_sources):
        if max_batches is not None and n_snaps >= max_batches:
            break
        batch = todo[i:i + batch_sources]
        t0 = time.time()
        sub = ticks.filter(F.col("source").isin(batch))
        result = run_pipeline_salted(spark, sub)
        (result.write.mode("overwrite").partitionBy("source")
         .option("compression", "snappy").parquet(table_path))
        # lineage counts from the just-written files (partition-pruned
        # columnar scan) — re-counting `result` would recompute the whole
        # pipeline a second time
        try:
            out_counts = {r["source"]: r["cnt"] for r in
                          spark.read.parquet(table_path)
                          .filter(F.col("source").isin(batch))
                          .groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
                          .collect()}
        except Exception:
            # every source in the batch was shorter than the warm-up: the
            # partitioned dir has no data files yet and the re-read cannot
            # infer a schema — an empty batch, not an error (same guard as
            # spark_submit_main)
            out_counts = {}
        elapsed_ms = int((time.time() - t0) * 1000)
        lineage = {s: {"rows_in": int(in_counts[s]),
                       "rows_out": int(out_counts.get(s, 0)),
                       "t_ms": elapsed_ms // max(1, len(batch))}
                   for s in batch}
        log.commit(lineage, inputs=inputs)
        processed.update(lineage)
        n_snaps += 1

    return {"snapshots": n_snaps, "skipped": skipped, "processed": processed}
