"""Capture physical plans for the key operators -> PLANS.md.

For each plan we check the properties that matter at 100 TB:
  * parquet scans show ReadSchema pruned to the used columns and
    PushedFilters for predicates
  * the tick->bars path has ONE exchange on `source` feeding the window and
    partial-aggregated groupBys
  * the normalization select is a single ProjectExec inside
    WholeStageCodegen (no shuffle, stats folded to literals)
  * the as-of join is window-based (no nested-loop / row explosion)
  * the feature builder is ONE cogroup per (source, chunk) that computes
    features and labels: halo membership is column arithmetic on bar
    indices, the only join is the bucketed tick-range join, no RDD round
    trip, and the 150-column output is never shuffled
  * embedding near-dup candidates come from an LSH bucket self-join
    (no CartesianProduct, no full-corpus broadcast)

Run: python BENCH/capture_plans.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def explain_str(df, mode="formatted", max_lines=60) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    lines = buf.getvalue().splitlines()
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [f"... (+{len(lines) - max_lines} lines)"]
    return "\n".join(lines)


def main() -> None:
    from pyspark.sql import functions as F
    from forex_feature_generator_spark import synth
    from forex_feature_generator_spark.engine import bars as ebars
    from forex_feature_generator_spark.engine import normalize as enorm
    from forex_feature_generator_spark.engine import windows as WIN
    from forex_feature_generator_spark.engine.session import get_spark
    import __spark_entry__ as em

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    sections: list[tuple[str, str, str]] = []

    ev = spark.read.parquet(f"{sf}/events.parquet")

    # 1. pruning + pushdown
    q = (ev.filter(F.col("event_type") == "purchase")
         .select("event_id", "value"))
    sections.append((
        "Parquet pruning + predicate pushdown",
        "Scan must show ReadSchema with only (event_id, event_type, value) "
        "and PushedFilters for event_type.",
        explain_str(q)))

    # 2. bars plan
    ticks = spark.createDataFrame(
        synth.gen_ticks(n_sources=2, ticks_per_source=2000, hot_sources=0))
    bars = ebars.aggregate_bars(ticks, 1)
    sections.append((
        "Tick -> M1 bars",
        "ONE tick-sized exchange total: the groupBy on (source, bar_ts_us) "
        "emits partial aggregates map-side; up/down direction comes from "
        "per-bar sorted tick pairs + a bar-level boundary lag — no tick "
        "window, no per-source tick sort anywhere.",
        explain_str(bars)))

    # 3. as-of join — no row explosion
    quotes = (ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("minute"))
              .agg(F.avg("value").alias("ref_value"))
              .withColumn("minute_end", F.col("minute") + F.expr("interval 1 minute")))
    asof = WIN.asof_join_backward(ev, quotes, ["event_type"], "ts", "minute_end",
                                  ["ref_value"])
    sections.append((
        "Sorted-merge as-of join (union + forward-fill window)",
        "No join operator at all: Union + one Window over event_type — the "
        "only exchange is the hash partition on the `by` key. DuckDB oracle: "
        "ASOF JOIN.",
        explain_str(asof)))

    # 4. the feature builder: one cogroup computes features and labels; halo
    # membership by arithmetic, one bucketed tick join (chunk_bars=500 so
    # the 2000-tick sources span several chunks)
    from forex_feature_generator_spark.engine import skew as eskew
    out = eskew.run_pipeline_salted(spark, ticks, chunk_bars=500)
    plan4 = explain_str(out, max_lines=90)
    assert "CartesianProduct" not in plan4
    sections.append((
        "Feature builder (one cogroup, halo membership by arithmetic)",
        "ONE FlatMapCoGroupsInPandas per (source, chunk) joins the tagged "
        "M1 ∪ M5 bars with the chunk's haloed ticks and computes the "
        "features, then the labels of the rows it emits, in one Python "
        "call. Each bar's chunks come from arithmetic on its bar index "
        "(M5 bars through last_lower_index and one lead window), so there "
        "is no bounds table, as-of join or RDD round trip. The only join is "
        "the tick-range join, an equi-join on (source, bucket) against each "
        "chunk's exploded tick range: O(1) candidate ranges per tick "
        "regardless of chunks-per-source. The 150-column output is never "
        "shuffled.",
        plan4))

    # 4c. embedding near-dup: LSH bucket self-join, no cartesian product
    from forex_feature_generator_spark.ops import similarity as SIM
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    nd = SIM.embedding_near_dups_lsh(emb, dim=64, threshold=0.35)
    plan4c = explain_str(nd, max_lines=60)
    assert "CartesianProduct" not in plan4c
    assert "BroadcastNestedLoop" not in plan4c
    sections.append((
        "Embedding near-dup (banded LSH candidates + exact rerank)",
        "Candidates come from a bucket self-join on (band, band_hash); the "
        "distinct runs on narrow id pairs and vectors are re-attached "
        "afterwards — no CartesianProduct, no full-corpus broadcast.",
        plan4c))

    # 5. normalization — single codegen stage
    stats = enorm.compute_stats(out.limit(50))
    norm = enorm.normalize(out, stats)
    sections.append((
        "Broadcast-stats normalization",
        "A single Project over the feature table: the 148 scalers are "
        "constant-folded literal expressions, whole-stage codegen, no shuffle.",
        explain_str(norm, max_lines=40)))

    # 6. BPE encode — a shuffle-free codegen'd Project (the merge table is
    # constant-folded into the replace chain; no UDF, no exchange)
    from forex_feature_generator_spark.ops import bpe as BPE
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    enc = BPE.bpe_encode(docs)
    plan6 = explain_str(enc, max_lines=30)
    assert "Exchange" not in plan6
    assert "BatchEvalPython" not in plan6 and "ArrowEvalPython" not in plan6
    sections.append((
        "BPE tokenization (frozen merge table as a replace chain)",
        "One Project over the documents scan: the 28-rule merge table is "
        "folded into chained JVM `replace` expressions and ids come from a "
        "codegen'd CASE chain — zero exchanges, zero Python, scan pruned to "
        "(doc_id, text).",
        plan6))

    # 8. token-budget curation — global ordered cumsum with ONE corpus
    # shuffle (range partition); no global single-partition window
    from forex_feature_generator_spark.ops import sampling as SMP
    from forex_feature_generator_spark.ops import text as TXT
    pri = (TXT.quality_score(TXT.token_counts(docs))
           .select("doc_id", F.col("quality").alias("priority"),
                   F.col("n_ws_tokens").alias("n_tokens")))
    tb = SMP.select_token_budget(pri, budget=12_000, n_ranges=8)
    plan8 = explain_str(tb, max_lines=110)
    assert "CartesianProduct" not in plan8
    assert "rangepartitioning" in plan8   # formatted mode: in Arguments
    # the corpus never passes a hash exchange after the range partition:
    # the only Window runs on the P-row offsets table
    sections.append((
        "Token-budget curation (distributed ordered cumsum)",
        "Exchange rangepartitioning is the ONLY corpus-sized shuffle; the "
        "partition-local running sum is an order-preserving MapInPandas "
        "(a partitionBy window here would hash-shuffle the corpus a second "
        "time), the Window runs on the P-row per-range totals, and the "
        "offsets re-attach via a broadcast join.",
        plan8))

    # 9. tf-idf top-k — key-partitioned joins, per-doc window only
    tj = TXT.tfidf_topk(docs, k=3)
    plan9 = explain_str(tj, max_lines=60)
    assert "CartesianProduct" not in plan9
    sections.append((
        "Per-doc tf-idf top-k terms",
        "tf and df are partial-aggregated groupBys; the vocab-sized df "
        "table joins BY KEY (never collected), N arrives as a 1-row "
        "broadcast, and the top-k window partitions by doc_id — bounded by "
        "per-doc vocab, no global sort.",
        plan9))

    # 10. bigram-LM scoring — broadcast vocab probes, key-joined bigram table
    from forex_feature_generator_spark.ops import lm as LMOD
    lm = LMOD.bigram_lm_scores(docs, vocab_size=24)
    plan10 = explain_str(lm, max_lines=70)
    assert "CartesianProduct" not in plan10
    sections.append((
        "Self-trained bigram-LM perplexity scoring",
        "The top-V vocab and the V+1-row unigram table are broadcast probes; "
        "the bigram count table (bounded by observed bigrams over the capped "
        "vocab) is joined BY KEY on (w1m, w2m) — one hash shuffle, never "
        "broadcast, never collected.",
        plan10))

    # 11. SemDeDup — broadcast centroids; within-cell equi self-join
    sd = SIM.semantic_dedup(emb, threshold=0.35, n_cells=16)
    plan11 = explain_str(sd, max_lines=70)
    assert "CartesianProduct" not in plan11
    sections.append((
        "SemDeDup semantic dedup (hash-quantizer cells)",
        "Centroids (n_cells rows) arrive as a BroadcastExchange; assignment "
        "is one corpus scan with per-row JVM dot products; the pairwise "
        "check is ONE groupBy(cell) Arrow shuffle into a per-cell blocked "
        "numpy gram product (FlatMapGroupsInPandas in the plan) — "
        "sum(|cell|^2) GEMM flops, never |corpus|^2, and each row crosses "
        "Arrow once instead of once per pair.",
        plan11))

    # 12. unigram KL — vocab-sized key joins, nothing collected
    kl = TXT.unigram_kl(docs)
    plan12 = explain_str(kl, max_lines=60)
    assert "CartesianProduct" not in plan12
    sections.append((
        "Per-source unigram-KL drift",
        "One explode + partial-aggregated groupBy(source, word) reduces the "
        "corpus to a (G x V) table; group totals and word totals DERIVE "
        "from it (vocab-sized groupBys), the word-total join is BY KEY "
        "(a web-scale vocab never fits a broadcast), and only the 1-row "
        "corpus total broadcasts.",
        plan12))

    # 13. shard assignment — hash + per-shard bounded rank, no global sort
    sa = SMP.shard_assign(docs.select("doc_id"), 8)
    plan13 = explain_str(sa, max_lines=40)
    assert "rangepartitioning" not in plan13.lower().replace(
        "exchange rangepartitioning", "")  # no global ordering exchange
    sections.append((
        "Deterministic shard/position assignment",
        "shard = pure hash expression (no shuffle); pos = row_number over a "
        "window PARTITIONED BY SHARD — corpus/S rows per sort task, no "
        "single-partition global sort anywhere.",
        plan13))

    # 14. BPE large-vocab path — broadcast table + ArrowEvalPython
    big_merges = [(a, b) for a in "abcdefghijklmnopqrst"
                  for b in "abcdefghijklmnopqrst"]
    gate, BPE.CODEGEN_MAX_MERGES = BPE.CODEGEN_MAX_MERGES, 64
    try:
        plan14 = explain_str(BPE.bpe_encode(docs, merges=big_merges),
                             max_lines=30)
    finally:
        BPE.CODEGEN_MAX_MERGES = gate
    assert "ArrowEvalPython" in plan14
    assert "Exchange" not in plan14
    sections.append((
        "BPE large-vocab path (broadcast + pandas UDF)",
        "Past the codegen gate the encoder is ONE ArrowEvalPython over the "
        "pruned (doc_id, text) scan — zero exchanges; the rank/vocab tables "
        "ship once per executor via SparkContext.broadcast, not per task.",
        plan14))

    # 15. tokens sequence pipeline (q54) — one exchange on source
    q54 = em.queries()["q54_token_sequences"](spark, sf)
    plan15 = explain_str(q54, max_lines=70)
    assert "CartesianProduct" not in plan15
    sections.append((
        "Tokenized-sequence window features (q54)",
        "BPE project (no exchange) -> join back to (doc_id, source) -> ONE "
        "hash exchange on source feeds every window (derived series, "
        "lag/lead, rolling, decayed mean, backfill share the sort) — the "
        "tokens array passes through untouched.",
        plan15))

    # 16. CCNet cutpoint path (round-5 de-skew) — NO per-language ntile sort
    gate, enorm.EXACT_QUANTILE_MAX_ROWS = enorm.EXACT_QUANTILE_MAX_ROWS, 0
    try:
        plan16 = explain_str(LMOD.ccnet_buckets(docs), max_lines=70)
    finally:
        enorm.EXACT_QUANTILE_MAX_ROWS = gate
    assert not re.search(r"\bntile\(", plan16)
    sections.append((
        "CCNet perplexity terciles — LARGE path (broadcast cutpoints)",
        "Above the size gate the per-language ntile window (one sort task "
        "per language — ~45% of a real crawl is English) is replaced by a "
        "partial-aggregated groupBy(lang) computing tercile cutpoints "
        "through gated_quantile_agg, broadcast as a G x 2 table into a "
        "`when` chain: no per-language sort anywhere in the plan; the "
        "exact ntile path remains the below-gate/oracle path.",
        plan16))

    # 17. cross-shard n-gram leakage — ONE corpus exchange, reused
    xl = TXT.cross_source_leakage(docs, n=5)
    plan17 = explain_str(xl, max_lines=80)
    assert "CartesianProduct" not in plan17
    # every branch reads the persisted reduced table, not the parquet
    # (explain prints the cache's BUILD subplan per reference, so the raw
    # "Scan parquet" string count over-reports; the runtime single-build is
    # evidenced in BENCH/sf1_results.json)
    assert "InMemoryTableScan" in plan17 or "TableCacheQueryStage" in plan17
    sections.append((
        "Cross-shard n-gram leakage matrix (q62)",
        "The corpus is shingled ONCE into a groupBy on the 8-byte "
        "xxhash64 (text never shuffled) collecting the bounded per-hash "
        "source set; that reduced table is persisted and the totals + "
        "pair branches read the cache (asserted: a single Scan parquet in "
        "the plan — the first self-join formulation re-ran the shingle "
        "pipeline per branch, measured at 2x the corpus CPU in the sf1 "
        "probe). Pair fan-out is in-set combinations <= S^2/2 per hash; "
        "S-row totals broadcast.",
        plan17))

    # 18. per-source length profile — one partial-agged groupBy, no sort
    lp = TXT.length_profile(docs, n_rows=500)
    plan18 = explain_str(lp, max_lines=40)
    assert "Sort" not in plan18.split("Exchange")[0]  # no pre-agg sort
    sections.append((
        "Per-source length profile (q61, gated quantiles)",
        "count/sum/avg + percentile (exact below the shared gate, "
        "mergeable approx_percentile sketch above) all ride ONE "
        "partial-aggregated groupBy(source) — no per-group sort, no "
        "second scan.",
        plan18))

    # 19. CSV dense seq, split-offsets mode — no window sort in the plan
    import tempfile
    from forex_feature_generator_spark import synth as _synth
    from forex_feature_generator_spark.engine import tick_source as TSRC
    tick_pdf = _synth.gen_ticks(n_sources=1, ticks_per_source=500,
                                hot_sources=0, seed=3)
    tmp_csv = os.path.join(tempfile.gettempdir(), "plans_seq.csv")
    with open(tmp_csv, "w") as fcsv:
        fcsv.write("Timestamp,Bid,Ask\n")
        for r in tick_pdf[["ts", "bid", "ask"]].itertuples(index=False):
            fcsv.write(f"{r.ts},{r.bid!r},{r.ask!r}\n")
    so = TSRC.load_ticks_csv(spark, tmp_csv, seq_mode="split-offsets")
    plan19 = explain_str(so, max_lines=40)
    assert "Window" not in plan19
    sections.append((
        "CSV dense seq — split-offsets mode (scale path)",
        "seq = broadcast per-split offset + in-split position, MAP-SIDE: "
        "no Window, no sort, no shuffle of the tick scan (the default "
        "window mode funnels the whole file through ONE sort task because "
        "`source` is a single literal — documented as the small-file "
        "path).",
        plan19))

    # 20. DSIR importance selection — broadcast count tables, top-k heap
    from forex_feature_generator_spark.ops import sampling as SMP
    ds = SMP.dsir_select(docs.filter(F.col("source") != "src0"),
                         docs.filter(F.col("source") == "src0"), k=100)
    plan20 = explain_str(ds, max_lines=70)
    assert "TakeOrderedAndProject" in plan20
    assert "SortMergeJoin" not in plan20
    assert "CartesianProduct" not in plan20
    sections.append((
        "DSIR importance selection (q31 mode=dsir)",
        "Both hashed-unigram count tables are bounded at B=4096 rows (one "
        "partial-agg shuffle each) and BROADCAST into the scoring join; "
        "per-doc scores partial-aggregate on doc_id; selection is "
        "TakeOrderedAndProject (per-partition top-k heap + driver merge "
        "of P*k rows) — never a global sort. The 1-row totals frame rides "
        "a broadcast nested-loop, not a CartesianProduct.",
        plan20))

    # 21. domain cap + weighted sample — bypass routing / shuffle-free top-k
    dc = SMP.domain_cap(docs, cap=8000)
    plan21a = explain_str(dc, max_lines=60)
    assert "BroadcastHashJoin" in plan21a       # G-row totals, never SMJ
    ws = SMP.weighted_sample(docs, k=50)
    plan21b = explain_str(ws, max_lines=25)
    assert "TakeOrderedAndProject" in plan21b
    assert "Exchange hashpartitioning" not in plan21b   # zero shuffles
    sections.append((
        "Per-domain cap + Efraimidis-Spirakis weighted sample "
        "(q31 modes=domain_cap/weighted)",
        "domain_cap: the G-row per-domain totals broadcast back onto the "
        "corpus routes under-cap domains AROUND the window exchange "
        "(selected=true, no shuffle); only over-cap domains flow through "
        "the per-domain cumsum window, whose partitions are bounded by "
        "domain size. weighted_sample: the ln(u)/w key is a pure "
        "projection and selection is TakeOrderedAndProject — the whole "
        "sampler runs with ZERO shuffles (asserted).\n\n```\n"
        + plan21b + "\n```",
        plan21a))

    # 22. FIM rewrite — pure per-row projection, no exchange
    from forex_feature_generator_spark.engine import tokens as etok
    seqs = docs.select(
        "doc_id", "source",
        F.transform(F.split(F.col("text"), " "),
                    lambda w: F.length(w).cast("int")).alias("tokens")
    ).withColumn("n_tok", F.size("tokens"))
    fimp = etok.fim_transform(seqs)
    plan22 = explain_str(fimp, max_lines=30)
    assert "Exchange" not in plan22
    sections.append((
        "Fill-in-the-middle rewrite (q56 mode=fim)",
        "Hash gate, both split points, and the [PRE]/[SUF]/[MID] "
        "slice+concat are all JVM expressions in one ProjectExec over the "
        "scan — no Exchange anywhere in the plan (asserted), no UDF, no "
        "Python.",
        plan22))

    # 23. k-means-refined IVF (q18 mode=ivfk) — one bounded shuffle/round
    from forex_feature_generator_spark.ops import similarity as SIM
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    kcents = SIM.kmeans_centroids(emb, 8, iters=1)
    ivfk = SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5,
                        n_cells=8, n_probe=2, centroids=kcents)
    plan23 = explain_str(ivfk, max_lines=60)
    assert "CartesianProduct" not in plan23
    sections.append((
        "K-means-refined IVF top-k (q18 mode=ivfk)",
        "Training (per Lloyd round, driver loop like the classifier's GD): "
        "the K x d centroid table broadcasts into a nested-loop-free "
        "assignment pass (BroadcastNestedLoopJoin over K rows = the "
        "documented tiny-side fold, never corpus x corpus), then ONE "
        "(cell, dim) partial-agg shuffle bounded at K*d rows; the refined "
        "centroids return as a K-row literal frame. The query below is the "
        "serving plan: broadcast assignment + equi-join on cell + top-k "
        "windows — no CartesianProduct (asserted).",
        plan23))

    # 24. classifier scoring (q19 mode=clf) — broadcast weights, one agg
    from forex_feature_generator_spark.ops import classifier as CLF
    w0 = [0.01] * 64
    sc = CLF.classifier_score(docs, w0, -0.5)
    plan24 = explain_str(sc, max_lines=50)
    assert "CartesianProduct" not in plan24
    sections.append((
        "Trained-classifier scoring (q19 mode=clf)",
        "The B-row weight table is BROADCAST into the hashed-feature "
        "stream; per-doc margins partial-aggregate on id; the sigmoid and "
        "empty-doc fallback are pure projections. Training (not shown — "
        "driver epoch loop) is the same shape per epoch plus a B-row "
        "collect: one bounded shuffle per epoch, nothing corpus-sized at "
        "the driver.",
        plan24))

    # 25. BM25 retrieval (q48 mode=bm25) — posting-list equi-join
    bm = TXT.bm25_topk(docs, docs.filter(F.col("doc_id") < 5), k=5)
    plan25 = explain_str(bm, max_lines=70)
    assert "CartesianProduct" not in plan25
    sections.append((
        "Okapi BM25 retrieval (q48 mode=bm25)",
        "Query terms join the (doc, term) tf table BY TERM KEY — an "
        "inverted-index equi-join whose cost is the query terms' posting "
        "lists, never a per-query corpus scan; df joins by key off the "
        "same pinned tf table; N/avgdl ride a 1-row broadcast "
        "(BroadcastNestedLoopJoin over 1 row); the top-k windows "
        "partition by query_id. No CartesianProduct (asserted).",
        plan25))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("# PLANS — physical-plan review of the key operators\n\n"
                "Captured by `python BENCH/capture_plans.py` "
                "(local[4], sf0.001 + tiny synthetic ticks).\n")
        for title, why, plan in sections:
            f.write(f"\n## {title}\n\n{why}\n\n```\n{plan}\n```\n")
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
