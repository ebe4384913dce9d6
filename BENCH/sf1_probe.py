"""sf1.0 probe (round-4 task 8): one uncontended local[32] pass of the five
100x-audited plans at ~10x the driver's bench scale, recording the evidence
the plan audits promise — per-stage spill (memory/disk), shuffle bytes, and
AQE behavior — so "would survive 100x" is backed by a measured 10x point.

Corpus: deterministic 10x synthesis from /root/testdata/sf0.1 (50k documents,
20k embeddings) — replicas get offset ids and seeded word/vector
perturbation so dedup/LM distributions stay non-degenerate; nothing outside
the repo is written.

Probes (the audited plans, VERDICT r4 "Plan audit"):
  1. feature+label salted pipeline on the 128x100000 bench corpus
     (1.77M feature rows - the bench's own big corpus = ~10x driver sf)
  2. q54 tokenized-sequence e2e       (BPE -> seq table -> window features)
  3. q51 SemDeDup                     (auto-sized cells at 20k vectors)
  4. q46/q59 bigram LM + de-skewed CCNet terciles (cutpoint path forced)
  5. q49 token-budget ordered cumsum
plus q62 cross-shard leakage (round-5 addition, self-join shape worth
spill evidence).

Usage: python BENCH/sf1_probe.py   -> prints one JSON line and writes
BENCH/sf1_results.json
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF1_DIR = os.path.join(ROOT, "BENCH", "corpus", "sf1")
SRC_SF = "/root/testdata/sf0.1"
REPLICAS = 10
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _ensure_sf1() -> str:
    done = os.path.join(SF1_DIR, "_DONE")
    if os.path.isfile(done):
        return SF1_DIR
    import numpy as np
    import pandas as pd
    os.makedirs(SF1_DIR, exist_ok=True)
    rng = np.random.default_rng(42)

    # one part FILE per replica: a single small parquet file gives Spark
    # 1-2 input splits, which serializes every CPU-heavy narrow stage
    # (shingle explode, BPE) onto 2 tasks — the first probe run measured
    # exactly that artifact. Multi-file input restores realistic scan
    # parallelism, which is what any real corpus has.
    docs = pd.read_parquet(os.path.join(SRC_SF, "documents.parquet"))
    n = len(docs)
    ddir = os.path.join(SF1_DIR, "documents.parquet")
    os.makedirs(ddir, exist_ok=True)
    for k in range(REPLICAS):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * 1_000_000
        if k > 0:
            # perturb: append a replica-distinct token to ~70% of docs so
            # exact/near-dup structure is realistic (30% true cross-replica
            # dups), lengths shift slightly
            mask = rng.random(n) < 0.7
            d.loc[mask, "text"] = d.loc[mask, "text"] + f" rep{k} extra"
            d["n_chars"] = d["text"].str.len()
        d.to_parquet(os.path.join(ddir, f"part-{k:04d}.parquet"), index=False)

    import pyarrow as pa
    import pyarrow.parquet as pq
    emb = pd.read_parquet(os.path.join(SRC_SF, "embeddings.parquet"))
    dim = len(emb["embedding"].iloc[0])
    edir = os.path.join(SF1_DIR, "embeddings.parquet")
    os.makedirs(edir, exist_ok=True)
    # explicit float32 list schema: .tolist() of a perturbed np array yields
    # Python doubles, and pandas->parquet then writes list<double> for the
    # perturbed replicas while replica 0 stays list<float> — Spark's
    # vectorized reader refuses the mixed-schema directory
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    for k in range(REPLICAS):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + k * 1_000_000
        if k > 0:
            noise = rng.normal(scale=0.05, size=(len(e), dim)).astype("float32")
            e["embedding"] = [
                np.asarray(v, dtype="float32") + nz
                for v, nz in zip(e["embedding"], noise)]
        tbl = pa.Table.from_pydict(
            {"vec_id": e["vec_id"].to_numpy(),
             "embedding": [np.asarray(v, dtype="float32")
                           for v in e["embedding"]],
             "label": e["label"].to_numpy()}, schema=schema)
        pq.write_table(tbl, os.path.join(edir, f"part-{k:04d}.parquet"))

    # remaining driver tables: symlink the sf0.1 originals (q54/q49 only
    # read documents; _load resolves any table in the dir)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        dst = os.path.join(SF1_DIR, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC_SF, f"{t}.parquet"), dst)
    with open(done, "w") as f:
        f.write(f"{REPLICAS}x{SRC_SF}")
    return SF1_DIR


def _stages(spark, since_epoch: float, top: int = 8) -> list[dict]:
    """Per-stage run time + SPILL + shuffle bytes from the UI REST API."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages", timeout=10) as r:
            stages = json.load(r)
    except Exception as e:                                    # noqa: BLE001
        return [{"error": str(e)}]

    def sub_epoch(s):
        t = s.get("submissionTime", "")
        try:
            return datetime.strptime(
                t, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
                tzinfo=timezone.utc).timestamp()
        except ValueError:
            return 0.0

    rows = [{"id": s["stageId"],
             "name": s["name"].split("\n")[0][:60],
             "run_sec": round(s.get("executorRunTime", 0) / 1000, 1),
             "tasks": s.get("numCompleteTasks", 0),
             "spill_mem_mb": round(s.get("memoryBytesSpilled", 0) / 1e6, 1),
             "spill_disk_mb": round(s.get("diskBytesSpilled", 0) / 1e6, 1),
             "shuffle_write_mb": round(
                 s.get("shuffleWriteBytes", 0) / 1e6, 1),
             "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1)}
            for s in stages
            if s.get("status") == "COMPLETE" and sub_epoch(s) >= since_epoch]
    rows.sort(key=lambda r: -r["run_sec"])
    return rows[:top]


def probe(spark, name, fn) -> dict:
    fn()                                   # warm-up: codegen + JIT, untimed
    t0e = time.time()
    t0 = time.time()
    rows = fn()
    dt = time.time() - t0
    st = _stages(spark, since_epoch=t0e)
    return {"name": name, "sec": round(dt, 2), "rows": rows,
            "rows_per_sec": round(rows / dt, 1),
            "total_spill_disk_mb": round(
                sum(s.get("spill_disk_mb", 0) for s in st), 1),
            "total_spill_mem_mb": round(
                sum(s.get("spill_mem_mb", 0) for s in st), 1),
            "top_stages": st}


def main() -> None:
    # --queries a,b,c : probe ONLY the named driver entries over the 10x
    # corpus and MERGE the rows into the existing sf1_results.json (used
    # for late-round additions without re-running the heavy pipeline
    # probes; replaces same-named rows).
    only: list[str] = []
    if len(sys.argv) > 2 and sys.argv[1] == "--queries":
        only = sys.argv[2].split(",")
    sf1 = _ensure_sf1()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from forex_feature_generator_spark.engine.session import get_spark
    # Split fidelity: a 100 TB corpus has ~400k input splits; this ~30 MB
    # stand-in has ONE at the 256 MB default, which serializes every
    # CPU-heavy narrow stage onto 1-2 tasks (first probe run: q62's shingle
    # explode spent 45 s on 2 tasks). 2 MB splits + low open cost give the
    # scan the per-core parallelism any real corpus has.
    spark = get_spark("ffg-sf1-probe", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8),
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": "2097152",
                          "spark.sql.files.openCostInBytes": "65536"})
    import bench
    import __spark_entry__ as em
    from forex_feature_generator_spark.engine import normalize as NORM
    from forex_feature_generator_spark.engine import skew as eskew
    from forex_feature_generator_spark.ops import lm as LM

    qs = em.queries()

    results = {"corpus": f"{REPLICAS}x {SRC_SF} (50k docs, 20k vectors)",
               "cpus": CPUS,
               "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
               "probes": []}

    if only:
        from forex_feature_generator_spark.ops import cache as opcache
        for name in only:
            n_rows = qs[name](spark, sf1).count()
            opcache.release_all()

            def run(n=name, r=n_rows):
                qs[n](spark, sf1).write.format("noop").mode("overwrite").save()
                opcache.release_all()
                return r
            results["probes"].append(probe(spark, name, run))
        spark.stop()
        out = os.path.join(ROOT, "BENCH", "sf1_results.json")
        merged = results
        if os.path.isfile(out):
            merged = json.load(open(out))
            keep = [p for p in merged["probes"]
                    if p["name"] not in {q["name"] for q in results["probes"]}]
            merged["probes"] = keep + results["probes"]
        with open(out, "w") as f:
            json.dump(merged, f, indent=1)
        print(json.dumps({"written": out,
                          "probes": [{p['name']: p['sec']}
                                     for p in results["probes"]]}))
        return

    # 1. feature+label pipeline on the big bench corpus
    fcorp = bench._ensure_corpus("128x100000")
    ticks = spark.read.parquet(os.path.join(fcorp, "ticks.parquet"))

    def feat():
        return eskew.run_pipeline_salted(spark, ticks, chunk_bars=4000).count()
    results["probes"].append(probe(spark, "feature_pipeline_128x100000", feat))

    # 2-5 + q62 over the 10x corpus. noop sink, NOT count(): several of
    # these end in a LEFT join, and count() prunes the entire right branch
    # (q51's 12.5M-pair scoring vanished from the first probe runs — the
    # recorded sub-second numbers measured assignment only).
    for name in ("q54_token_sequences", "q51_semdedup", "q46_bigram_lm",
                 "q49_token_budget", "q62_source_leakage"):
        n_rows = qs[name](spark, sf1).count()     # untimed; rows for the log

        def run(n=name, r=n_rows):
            qs[n](spark, sf1).write.format("noop").mode("overwrite").save()
            return r
        results["probes"].append(probe(spark, name, run))

    # q59 with the LARGE (cutpoint) path forced — the de-skew evidence:
    # no per-language sort stage, buckets from broadcast cutpoints
    docs = spark.read.parquet(os.path.join(sf1, "documents.parquet"))
    gate, NORM.EXACT_QUANTILE_MAX_ROWS = NORM.EXACT_QUANTILE_MAX_ROWS, 0
    try:
        cc_rows = LM.ccnet_buckets(docs).count()

        def ccnet_large():
            (LM.ccnet_buckets(docs)
             .write.format("noop").mode("overwrite").save())
            return cc_rows
        results["probes"].append(probe(spark, "q59_ccnet_cutpoint_path",
                                       ccnet_large))
    finally:
        NORM.EXACT_QUANTILE_MAX_ROWS = gate

    # q38 connected components at 10x (round-6 task: the one top-5 query
    # the round-5 probe missed). Scale risk = iteration count x one-job
    # rounds, so record per-round convergence (round, changed, sec) from
    # dedup_clusters itself. The clustering loop is EAGER (per-round count
    # actions) — the timed window wraps pairs + loop + label sink.
    from forex_feature_generator_spark.ops import dedup as D
    from forex_feature_generator_spark.ops import cache as opcache
    q38_rounds: list = []

    def cc():
        pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                                    threshold=0.05)
        stats = []
        labels = D.dedup_clusters(pairs, round_stats=stats)
        labels.write.format("noop").mode("overwrite").save()
        r = labels.count()
        q38_rounds.append(stats)
        opcache.release_all()
        return r
    results["probes"].append(probe(spark, "q38_dedup_clusters", cc))
    results["probes"][-1]["cc_rounds"] = q38_rounds[-1]
    results["probes"][-1]["cc_n_rounds"] = len(q38_rounds[-1])

    spark.stop()
    out = os.path.join(ROOT, "BENCH", "sf1_results.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({"written": out,
                      "probes": [{p['name']: p['sec']}
                                 for p in results["probes"]]}))


if __name__ == "__main__":
    main()
