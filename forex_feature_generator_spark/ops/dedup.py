"""Deduplication operators over a documents table (doc_id, text, ...).

  * exact_dedup       — hash-groupBy on a normalized key (one shuffle)
  * ngram_jaccard_pairs — exact n-gram Jaccard via shingle self-join
  * minhash_lsh_pairs — MinHash signatures + LSH banding -> candidate pairs
                        -> exact-Jaccard verification (the 100 TB scale path:
                        band-bucket join replaces the quadratic self-join)
  * simhash_pairs     — 64-bit SimHash + 16-bit-band blocking + Hamming check

All hashing uses md5 prefixes (standardized across engines -> every operator
is DuckDB-oracle checkable, including SimHash). No Python UDFs."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import pin

# 2^31-1 (Mersenne prime). The affine family (a*h + b) mod p must WRAP many
# times to approximate a random permutation — with a large p (e.g. 2^61-1)
# and 32-bit h the map is monotone in h, every hash picks the same minimum
# shingle, and signatures degenerate (bimodal 0/1 agreement). a*h < 2^62
# stays exact in int64 for both Spark and the DuckDB oracle.
MERSENNE_P = (1 << 31) - 1


def minhash_params(num_hashes: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    import random
    rnd = random.Random(seed)
    return [(rnd.randrange(1, MERSENNE_P), rnd.randrange(0, MERSENNE_P))
            for _ in range(num_hashes)]


def normalize_text(col):
    """lower + collapse non-alphanumerics to single spaces + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keeps the minimum id per normalized-text group. Single hash shuffle on
    the md5 of the normalized text (not the full text — shuffle bytes stay
    bounded at 100 TB)."""
    key = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    return (docs.select(key, F.col(id_col))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("kept_id"),
                 F.count(F.lit(1)).alias("n_dupes")))


def incremental_dedup(new_docs: DataFrame, seen: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      hash_col: str = "text_hash") -> DataFrame:
    """Incremental-crawl dedup: the per-batch step of a continuously-growing
    corpus. Drops new docs whose normalized-text hash already exists in the
    `seen` hash table (all previously-ingested content), then exact-dedups
    WITHIN the batch (keep min id). Returns (text_hash, kept_id,
    n_batch_dupes) — the rows to append to both the corpus and `seen`.

    Scale shape (100 TB): `seen` is corpus-sized, so membership is a
    LEFT ANTI join BY KEY on the 16-byte hash — one shuffle of hashes,
    never text, never a broadcast (a seen-set broadcast is a driver OOM the
    moment the corpus outgrows one machine); the within-batch dedup is the
    same single partial-aggregated hash groupBy as exact_dedup. Re-running
    a batch is idempotent: its survivors are in `seen`, so every row drops."""
    key = F.md5(normalize_text(F.col(text_col))).alias(hash_col)
    keyed = new_docs.select(key, F.col(id_col))
    fresh = keyed.join(seen.select(hash_col).distinct(), hash_col, "left_anti")
    return (fresh.groupBy(hash_col)
            .agg(F.min(id_col).alias("kept_id"),
                 F.count(F.lit(1)).alias("n_batch_dupes")))


def passage_stream(docs: DataFrame, passage_words: int = 20,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The shared upstream of passage_dedup / remove_repeated_passages:
    the normalized text segmented into consecutive `passage_words`-word
    passages, exploded to (id, pos, p, passage_hash). Callers running more
    than one passage op over the same corpus should pin() this once and
    hand it to both (the shingles_df pattern) — each op otherwise re-runs
    the normalize+split+explode corpus pass."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    n_pass = F.ceil(F.size(words) / F.lit(passage_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(n_pass - 1, F.lit(0))),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(words, i * passage_words + 1,
                                     passage_words)).alias("p")))
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.filter(segs, lambda s: s.p != ""))
                        .alias("seg"))
            .select("id", F.col("seg.pos").alias("pos"),
                    F.col("seg.p").alias("p"),
                    F.md5("seg.p").alias("passage_hash")))


def remove_repeated_passages(docs: DataFrame, passage_words: int = 20,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             passages_df: DataFrame | None = None) -> DataFrame:
    """The RefinedWeb/C4 cleaning step on top of `passage_dedup`: rebuild
    each document keeping only passages that are their corpus-wide FIRST
    occurrence (unique passages always survive; every later repeat of a
    boilerplate span — across docs or within one — is dropped). Returns
    (doc_id, clean_text, n_kept, n_removed) for every doc with at least
    one passage; `clean_text` is the pos-ordered concatenation of the
    surviving passages of the NORMALIZED text.

    Scale shape (100 TB): ONE pinned passage stream feeds both branches
    (first-occurrence agg + keep/drop join — separate derivations would
    re-run the explode per branch); the first-occurrence side shuffles
    only (16-byte hash, id, pos) — column pruning drops the text; passage
    text rides the hash-keyed keep/drop join and the final groupBy(doc)
    reconstruction — O(corpus) like any text transform, partial-agged, no
    window/sort (order restored by sort_array on (pos, passage) structs
    inside the reduced row)."""
    passages = (passages_df if passages_df is not None
                else pin(passage_stream(docs, passage_words,
                                        text_col, id_col)))
    # first-occurrence table derived from the SAME pinned stream (not a
    # passage_dedup call — that would re-run the explode per branch); the
    # groupBy shuffles only (hash, id, pos), never text
    first = (passages.groupBy("passage_hash")
             .agg(F.min_by(F.struct("id", "pos"),
                           F.struct("id", "pos")).alias("fo"))
             .select("passage_hash", F.col("fo.id").alias("f_id"),
                     F.col("fo.pos").alias("f_pos")))
    keep = (passages.join(first, "passage_hash")
            .withColumn("is_first", (F.col("id") == F.col("f_id"))
                        & (F.col("pos") == F.col("f_pos"))))
    return (keep.groupBy(F.col("id").alias(id_col))
            .agg(F.concat_ws(" ", F.transform(
                     F.sort_array(F.collect_list(
                         F.when(F.col("is_first"),
                                F.struct("pos", "p")))),
                     lambda s: s.p)).alias("clean_text"),
                 F.sum(F.when(F.col("is_first"), 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("is_first"), 0).otherwise(1))
                 .cast("long").alias("n_removed")))


def incremental_near_dedup(new_docs: DataFrame, seen_docs: DataFrame,
                           num_hashes: int = 16, bands: int = 8,
                           threshold: float = 0.5, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Incremental-crawl NEAR-dup: flag new-batch docs whose MinHash
    signature shares an LSH band bucket with the already-ingested corpus
    AND whose estimated Jaccard clears `threshold`. Returns one row per
    flagged new doc: (doc_id, n_seen_matches, best_match_id,
    best_est_jaccard) — best match is the highest estimate, min seen id
    on ties.

    Scale shape (100 TB): the seen side is corpus-sized, so candidates
    come from a KEY join of the two banded tables on (band, band_hash) —
    never a broadcast of the corpus, never new x seen cartesian; the
    rerank touches candidates only; the final per-new-doc reduction is one
    partial-aggregated groupBy. In a production loop the seen signatures
    are computed once at ingest and stored — here they are derived in the
    same job for the self-contained oracle check."""
    sn = pin(minhash_signatures(new_docs, num_hashes, text_col, id_col, n))
    ss = pin(minhash_signatures(seen_docs, num_hashes, text_col, id_col, n))
    cand = (_banded(sn, num_hashes, bands).alias("x")
            .join(_banded(ss, num_hashes, bands).alias("y"),
                  (F.col("x.band") == F.col("y.band"))
                  & (F.col("x.bhash") == F.col("y.bhash")))
            .select(F.col("x.id").alias("new_id"),
                    F.col("y.id").alias("seen_id"))
            .distinct())
    est = (cand.join(sn.select(F.col("id").alias("new_id"),
                               F.col("sig").alias("sig_n")), "new_id")
           .join(ss.select(F.col("id").alias("seen_id"),
                           F.col("sig").alias("sig_s")), "seen_id")
           .withColumn("est", _est_jaccard(F.col("sig_n"), F.col("sig_s"),
                                           num_hashes))
           .filter(F.col("est") >= threshold))
    return (est.groupBy(F.col("new_id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_seen_matches"),
                 F.min_by("seen_id",
                          F.struct((-F.col("est")).alias("neg_est"),
                                   F.col("seen_id"))).alias("best_match_id"),
                 F.round(F.max("est"), 6).alias("best_est_jaccard")))


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (id, shingle)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    sh = F.transform(F.sequence(F.lit(1), k),
                     lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.array_distinct(sh)).alias("shingle")))


def passage_dedup(docs: DataFrame, passage_words: int = 20,
                  text_col: str = "text", id_col: str = "doc_id",
                  passages_df: DataFrame | None = None) -> DataFrame:
    """Passage-level exact dedup — the RefinedWeb/C4 'line dedup' analog for
    corpora without line structure: the normalized text is segmented into
    consecutive `passage_words`-word passages (last one may be short), each
    passage is md5-keyed, and repeats are counted corpus-wide. Returns
    (passage_hash, kept_id, pos, n_dupes): the earliest (doc, position)
    occurrence per distinct passage and its corpus-wide occurrence count —
    the rows n_dupes >= 2 are the removable repeated boilerplate spans.

    Scale shape (100 TB): identical to exact_dedup — explode is narrow, the
    only shuffle is ONE partial-aggregated hash groupBy on the 16-byte
    passage key (never passage text); min-by (id, pos) struct picks the
    canonical occurrence without a window/sort."""
    exploded = ((passages_df if passages_df is not None
                 else passage_stream(docs, passage_words, text_col, id_col))
                .select("id", "pos", "passage_hash"))
    first = F.min_by(F.struct("id", "pos"),
                     F.struct("id", "pos")).alias("first_occ")
    return (exploded.groupBy("passage_hash")
            .agg(first, F.count(F.lit(1)).alias("n_dupes"))
            .select("passage_hash",
                    F.col("first_occ.id").alias("kept_id"),
                    F.col("first_occ.pos").alias("pos"),
                    "n_dupes"))


def hot_shingle_stats(shingles_df: DataFrame,
                      hot_df: int = 1000) -> DataFrame:
    """Observability probe for the exact-Jaccard self-join: ONE row with
      max_df          — highest corpus-wide document frequency of any
                        shingle,
      n_hot           — shingles with df > `hot_df`,
      candidate_pairs — sum df*(df-1)/2, the exact row count the shingle
                        self-join will produce.
    A boilerplate shingle shared by 1e5 docs silently makes the exact mode
    produce ~5e9 pairs for that one key; this probe is the cheap (one
    partial-agg groupBy on the shingle key) way to see it coming BEFORE
    running the join. Not part of the query path — run it as a diagnostic,
    or gate a pipeline on it (see ngram_jaccard_pairs `max_df`)."""
    df_counts = shingles_df.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df"))
    return df_counts.agg(
        F.max("df").alias("max_df"),
        F.sum((F.col("df") > hot_df).cast("long")).alias("n_hot"),
        # integer `div`: a double product loses exactness past df ~1.3e8
        F.sum(F.expr("df * (df - 1) div 2")).alias("candidate_pairs"))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3,
                        shingles_df: DataFrame | None = None,
                        max_df: int | None = None) -> DataFrame:
    """Exact Jaccard >= threshold pairs (a < b) via shingle equi-self-join.
    Correctness baseline; quadratic in duplicate-cluster size — use
    minhash_lsh_pairs at scale.

    The self-join keys on xxhash64(shingle), not the shingle string (the
    same optimization as decontaminate, round-5 review #3): the shuffle
    carries fixed 8-byte keys instead of n-word strings, and distinct
    shingles stay distinct up to the ~2^-64 per-pair collision rate of the
    64-bit hash (a collision would count one phantom shared shingle —
    documented, not observable at any tested scale).

    `shingles_df` lets a caller that runs several shingle-based generators
    over the same corpus (e.g. the q15 union entry: exact + MinHash) pass
    ONE precomputed/pinned `shingles()` frame instead of re-deriving the
    normalize+split+explode stream per generator.

    `max_df` (opt-in, RESULTS-CHANGING, default off): drop shingles whose
    corpus-wide document frequency exceeds it before the self-join. The
    join is quadratic per shingle key — one boilerplate shingle in 1e5
    docs is ~5e9 candidate pairs — and a df-capped run computes Jaccard
    over the REDUCED shingle sets (both intersection and sizes), so it is
    a different (documented) statistic: use hot_shingle_stats() first to
    see whether the corpus needs it; the default path is untouched."""
    sh = pin((shingles(docs, text_col, id_col, n)
              if shingles_df is None else shingles_df)
             .select("id", F.xxhash64("shingle").alias("sh")))
    if max_df is not None:
        dfc = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") <= int(max_df)).select("sh"))
        sh = pin(sh.join(dfc, "sh"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    out = (inter
           .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
           .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
           .withColumn("jaccard", F.col("inter")
                       / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return out


def _shingle_int_hash(shingle_col):
    """Deterministic 32-bit integer from the md5 prefix of a shingle —
    identical in Spark and DuckDB (oracle-checkable)."""
    return F.conv(F.substring(F.md5(shingle_col), 1, 8), 16, 10).cast("long")


def minhash_signatures(docs: DataFrame, num_hashes: int = 64,
                       text_col: str = "text", id_col: str = "doc_id",
                       n: int = 3, seed: int = 42,
                       shingles_df: DataFrame | None = None) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over shingles of
    (a_i * h(s) + b_i) mod p, with fixed deterministic (a_i, b_i).

    Scale shape: the shingle hash is computed ONCE per (doc, shingle) on the
    exploded stream, then ONE groupBy(id) takes all num_hashes minima
    (map-side partial agg, single shuffle). A single nested-lambda expression
    would recompute md5 per hash function and blow up codegen."""
    params = minhash_params(num_hashes, seed)
    sh = (shingles(docs, text_col, id_col, n)
          if shingles_df is None else shingles_df)
    hashed = (sh.withColumn("h", _shingle_int_hash(F.col("shingle")) % F.lit(MERSENNE_P))
              .drop("shingle"))
    mins = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(params)]
    agg = hashed.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[F.col(f"m{i}")
                                      for i in range(num_hashes)]).alias("sig"))


def band_structs(num_hashes: int, bands: int, sig_col: str = "sig"):
    """The explodable array of (band, bhash) structs over a signature
    column — md5 of each comma-joined band. Shared by the batch banding
    below and the row-local streaming path (which must band without
    re-joining its input)."""
    rows_per_band = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.struct(
            bi.alias("band"),
            F.md5(F.concat_ws(",", F.transform(
                F.slice(sig_col, bi * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string")))).alias("bhash")))


def _banded(sigs: DataFrame, num_hashes: int, bands: int,
            keep_sig: bool = False) -> DataFrame:
    """(id, band, bhash[, sig]) — md5 of each comma-joined signature band.
    `keep_sig` carries the full signature along each banded row (used when
    the band join's consumer reranks by estimated Jaccard without a second
    signature join — e.g. the streaming near-dup path)."""
    cols = ["id"] + (["sig"] if keep_sig else [])
    exploded = sigs.select(
        *cols, F.explode(band_structs(num_hashes, bands)).alias("bb"))
    return exploded.select(*cols, "bb.band", "bb.bhash")


def minhash_signatures_rowlocal(docs: DataFrame, num_hashes: int = 16,
                                text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                seed: int = 42,
                                keep_cols: tuple = ()) -> DataFrame:
    """(id, sig) with ZERO shuffle — the streaming-safe twin of
    minhash_signatures: shingling, the shared shingle hash, and all
    num_hashes minima are row-local array expressions (each shingle's md5
    is computed ONCE into an int array, then num_hashes array_min folds),
    so it runs on an unbounded stream with no groupBy state. Docs with no
    shingles (< n words) are dropped, matching the grouped op's explode
    semantics; tests assert signature equality against minhash_signatures.

    Batch callers should still prefer minhash_signatures: on skewed batch
    data the explode+partial-agg spreads one huge doc's shingles across
    tasks, while this keeps each doc's whole array in one task."""
    params = minhash_params(num_hashes, seed)
    words = F.split(normalize_text(F.col(text_col)), " ")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    # guard: sequence(1, 0) would run DESCENDING into slice(start=0)
    sh = F.when(k >= 1, F.array_distinct(
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n))))
    ).otherwise(F.array().cast("array<string>"))
    hs = F.transform(sh, lambda s: _shingle_int_hash(s) % F.lit(MERSENNE_P))
    sig = F.array(*[
        F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b))
                                % F.lit(MERSENNE_P)))
        for a, b in params])
    return (docs.select(F.col(id_col).alias("id"), *keep_cols,
                        F.size(sh).alias("__nsh"), sig.alias("sig"))
            .filter(F.col("__nsh") > 0)
            .select("id", *keep_cols, "sig"))


def _est_jaccard(sig_a, sig_b, num_hashes: int):
    return (F.size(F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b),
                            lambda m: m)) / F.lit(float(num_hashes)))


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      shingles_df: DataFrame | None = None) -> DataFrame:
    """LSH banding: split the signature into `bands` rows of num_hashes/bands,
    bucket-join on (band_idx, band_hash), then verify candidates with the
    estimated Jaccard (fraction of matching minhashes)."""
    sigs = pin(minhash_signatures(docs, num_hashes, text_col, id_col, n,
                                  shingles_df=shingles_df))
    banded = _banded(sigs, num_hashes, bands)
    cand = (banded.alias("x").join(
                banded.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bhash") == F.col("y.bhash"))
                & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct())
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (cand.join(sa, "id_a").join(sb, "id_b")
           .withColumn("est_jaccard",
                       F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                                  lambda a, b: a == b),
                                       lambda m: m))
                       / F.lit(float(num_hashes)))
           .filter(F.col("est_jaccard") >= threshold)
           .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")))
    return est


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 25,
                   round_stats: list | None = None) -> DataFrame:
    """Connected components over near-dup pairs -> (id, comp) where comp is
    the minimum id in the component (the canonical keeper).

    Iterative min-label propagation with POINTER HALVING: each round a node
    takes the min of its own, its neighbors', and its current label's label
    (comp <- labels[comp]) — the halving step turns O(diameter) convergence
    into O(log diameter), the same trick large-star/small-star uses. Each
    iteration is localCheckpoint'ed: an iterative DataFrame loop otherwise
    compounds the logical plan each round and the DRIVER dies of plan-size
    OOM long before the data is big. Driver-side convergence loop — the
    iterative-algorithm pattern on DataFrames.

    One job per round: the previous label rides along as `comp_old`, the
    checkpoint is LAZY, and the convergence count is the action that
    materializes it — the old shape re-joined new labels against old in a
    second job (an extra shuffle join per round) just to count changes.

    `round_stats`, when given a list, receives one dict per executed round
    ({"round", "changed", "sec"}) — the 10x scale probe reads it to record
    the convergence shape (rounds x one-job seconds) that dominates this
    op's cost at scale.

    Two per-round cost cuts (round-6 cold-cache profile — q38 was the
    slowest bench query once persisted fragments stopped leaking between
    queries):
      * edges are cached ALREADY HASH-PARTITIONED on `dst` — the cached
        scan advertises that outputPartitioning, so the per-round
        edges⋈labels join reshuffles only the (small) labels table, never
        the edge set. Cross-job shuffle files are not reused in Spark, so
        without this the full edge set re-exchanged every round.
      * the halving hop looks up the PREVIOUS round's checkpointed labels,
        not the in-flight `new` frame: `new` referenced from both sides of
        a self-join evaluates its whole join chain twice per round (the
        same multi-evaluation class as the round-5 q62/q49 fixes — the two
        exchanges key on different columns, so ReuseExchange can't fire).
        prev[comp] is still a monotone contraction (labels only decrease),
        so convergence to the component min is unchanged; it may cost one
        extra cheap round in exchange for halving every round's work."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = pin(edges.union(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
                .distinct()
                .repartition("dst"))
    # r7: seed comp = min(id, min neighbor) instead of comp = id — exactly
    # what round 1 used to compute with a full join+agg+halving pass, for
    # the cost of folding the min into the node-dedup groupBy the init
    # already paid; typically saves one whole round. Monotone-contraction
    # invariant holds (the seed label is a node of the same component), so
    # the converged fixpoint — and the returned result — is unchanged.
    labels = (edges.groupBy(F.col("src").alias("id"))
              .agg(F.least(F.col("id"), F.min("dst")).alias("comp"))
              .localCheckpoint(eager=True))
    for it in range(max_iter):
        t0 = time.time()
        nbr = (edges.join(labels.select(F.col("id").alias("dst"),
                                        F.col("comp").alias("comp_n")), "dst")
               .groupBy("src").agg(F.min("comp_n").alias("nbr_min")))
        new = (labels.join(nbr.select(F.col("src").alias("id"), "nbr_min"),
                           "id", "left")
               .select("id", F.col("comp").alias("comp_old"),
                       F.least(F.col("comp"),
                               F.coalesce(F.col("nbr_min"), F.col("comp")))
                       .alias("comp")))
        # pointer halving: follow the label one hop (labels are node ids).
        # The hop table is the PREVIOUS round's checkpointed labels — cheap
        # to rescan; hopping through `new` itself would re-execute the
        # nbr-join chain a second time per round (see docstring).
        lk = labels.select(F.col("id").alias("__cid"),
                           F.col("comp").alias("__cc"))
        new = (new.join(lk, new.comp == lk.__cid, "left")
               .select("id", "comp_old",
                       F.least(F.col("comp"),
                               F.coalesce(F.col("__cc"), F.col("comp")))
                       .alias("comp"))
               .localCheckpoint(eager=False))
        # this count materializes the lazy checkpoint AND measures convergence
        # in the same job (comp_old is carried in the row — no re-join)
        changed = new.filter(F.col("comp") != F.col("comp_old")).count()
        labels = new.select("id", "comp")
        if round_stats is not None:
            round_stats.append({"round": it + 1, "changed": changed,
                                "sec": round(time.time() - t0, 2)})
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_keep_best(docs: DataFrame, clusters: DataFrame,
                    score_col: str = "n_chars",
                    id_col: str = "doc_id") -> DataFrame:
    """Retention policy on top of dedup_clusters: ONE representative per
    near-dup component — the highest-scoring member (id asc tiebreak);
    docs in no cluster are their own singleton component. Returns
    (comp, keeper_id, n_members, best_score).

    Scale shape: one left join docs⋈clusters (clusters has one row per
    CLUSTERED doc — typically a small fraction of the corpus) and one
    partial-aggregated groupBy(comp) with an argmax via min_by on a
    (-score, id) struct — id is never negated, so string doc ids work;
    no per-component sort, no window.

    `score_col` must be numeric and keeps its own dtype (long n_chars stays
    long, a double quality score stays double) — an earlier long cast here
    truncated fractional scores so 0.73 vs 0.68 tied at 0 and the id
    tiebreak picked the wrong keeper (round-4 review)."""
    score = F.col(score_col)
    if not isinstance(docs.schema[score_col].dataType,
                      (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                       T.DoubleType, T.FloatType, T.DecimalType)):
        raise TypeError(f"dedup_keep_best: score_col {score_col!r} must be "
                        f"numeric, got {docs.schema[score_col].dataType}")
    lab = docs.select(F.col(id_col).alias("id"), score.alias("score"))
    j = (lab.join(clusters, "id", "left")
         .withColumn("comp", F.coalesce(F.col("comp"), F.col("id"))))
    return (j.groupBy("comp")
            .agg(F.min_by("id", F.struct((-F.col("score")).alias("neg_score"),
                                         F.col("id"))).alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_members"),
                 F.max("score").alias("best_score")))


def dup_span_coverage(docs: DataFrame, n: int = 8, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact duplicated-SPAN analysis at n-gram granularity (the scalable
    approximation of suffix-array exact-substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): a word
    position is duplicated when ANY corpus-repeated n-gram window covers it;
    reports per doc the fraction of its words inside such spans. Pipelines
    drop or trim docs with high coverage (boilerplate, mirrored content).

    Scale shape (100 TB): all n-gram starts explode to (id, pos, md5 key) ->
    ONE partial-aggregated count shuffle on the hash -> join back by the
    same key -> per-doc sorted position array (bounded by doc length, the
    same boundedness bars rely on) -> interval-union arithmetic as pure
    array expressions. No self-join, no suffix array, integers end to end.

    Returns (doc_id, n_words, n_spans, n_dup_spans, covered_words,
    dup_coverage); a span is "duplicated" when its n-gram occurs >= 2 times
    corpus-wide (multiset count — twice inside one doc counts too)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = docs.select(F.col(id_col).alias("id"), words.alias("ws"),
                       F.size(words).cast("long").alias("n_words"))
    k = F.size("ws") - F.lit(n - 1)
    # guard: Spark sequence(1, k<=0) DESCENDS — short docs get no spans
    gram_t = "array<struct<pos:int,gh:string>>"
    grams_arr = F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(F.col("ws"), i, n))).alias("gh")))
    ).otherwise(F.array().cast(gram_t))
    grams = (base.select("id", F.explode(grams_arr).alias("g"))
             .select("id", F.col("g.pos").alias("pos"),
                     F.col("g.gh").alias("gh"))
             )
    # pinned: the count branch and the join-back both read the exploded
    # gram stream — uncached it is built twice (measured 18.3 s + 15.5 s
    # duplicate stages at the 10x probe)
    grams = pin(grams)

    cnt = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
    dup_pos = (grams.join(cnt, "gh")
               .groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_spans"),
                    F.sort_array(F.collect_list(
                        F.when(F.col("c") >= 2, F.col("pos")))).alias("S")))

    # union of the fixed-length intervals [p, p+n-1] over sorted starts S:
    # n for the first + min(n, gap) for each later start
    gap_cov = F.aggregate(
        F.zip_with(F.expr("slice(S, 2, size(S) - 1)"),
                   F.expr("slice(S, 1, size(S) - 1)"),
                   lambda c, p: F.least(F.lit(n), c - p)),
        F.lit(0), lambda acc, x: acc + x)
    covered = F.when(F.size("S") == 0, F.lit(0)).otherwise(F.lit(n) + gap_cov)
    out = (base.select("id", "n_words")
           .join(dup_pos, "id", "left")
           .withColumn("n_spans", F.coalesce("n_spans", F.lit(0)))
           .withColumn("S", F.coalesce("S", F.array().cast("array<int>")))
           .withColumn("covered_words", covered.cast("long")))
    return out.select(
        F.col("id").alias(id_col), "n_words",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.size("S").cast("long").alias("n_dup_spans"),
        "covered_words",
        F.round(F.col("covered_words")
                / F.greatest(F.col("n_words"), F.lit(1)), 6).alias("dup_coverage"))


SIMHASH_BITS = 60   # md5-prefix token hash: 15 hex chars fit a signed int64
#                     identically in Spark (conv) and DuckDB (oracle-checkable)
SIMHASH_BAND_BITS = 15


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """(id, simhash: long) — 60-bit SimHash over distinct word unigrams
    (md5-prefix token hashes, majority vote per bit).

    r7: fully ROW-LOCAL — each doc's token hashes are computed once into
    an array (JVM md5, same as the oracle) with NO explode and NO corpus
    exchange (the r6 shape shuffled every (doc, token) row into a
    groupBy(id) with 60 conditional sums). The 60 per-bit majority votes
    run as vectorized numpy over Arrow batches (guide §4.2): the
    interpreted form — 60 array-filter lambdas per row, ~60xL lambda
    evaluations — cost 1.38 s at sf0.1 vs 0.40 s for the batched
    bit-matrix cumsum below (A/B, bit-identical on all 5000 docs).
    Integer arithmetic end to end — identical signatures regardless of
    partitioning, order or batch boundaries; a NULL token array yields
    sig 0 on both paths.

    Executors need pandas and pyarrow: the votes run in mapInPandas."""
    import numpy as np
    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    hs = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 1, 15),
                                             16, 10).cast("long"))
    hashed = docs.select(F.col(id_col).alias("id"), hs.alias("__hs"))
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
    powers = np.int64(1) << shifts

    def votes(batches):
        import pandas as pd
        for pdf in batches:
            arrs = pdf["__hs"].values
            lens = np.array([0 if a is None else len(a) for a in arrs],
                            dtype=np.int64)
            if lens.sum():
                flat = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in arrs
                     if a is not None and len(a)])
                bits = (flat[:, None] >> shifts) & 1          # (T, 60)
                csum = np.zeros((len(flat) + 1, SIMHASH_BITS),
                                dtype=np.int64)
                np.cumsum(bits, axis=0, out=csum[1:])
                ends = np.cumsum(lens)
                ones = csum[ends] - csum[ends - lens]         # (N, 60)
            else:
                ones = np.zeros((len(arrs), SIMHASH_BITS), dtype=np.int64)
            sig = np.where(2 * ones - lens[:, None] > 0, powers, 0) \
                .sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "simhash": sig})

    id_t = hashed.schema["id"].dataType.simpleString()
    return hashed.mapInPandas(votes, f"id {id_t}, simhash long")


def simhash_pairs(docs: DataFrame, max_hamming: int = 8,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, blocked on
    15-bit bands (a pair within distance 3 shares at least one band)."""
    sigs = pin(simhash(docs, text_col, id_col))
    banded = sigs.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright("simhash", SIMHASH_BAND_BITS * i)
                      .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1)).alias("bh"))
            for i in range(4)])).alias("bb")
    ).select("id", "simhash", "bb.band", "bb.bh")
    cand = (banded.alias("x").join(
                banded.alias("y"),
                (F.col("x.band") == F.col("y.band")) & (F.col("x.bh") == F.col("y.bh"))
                & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("x.simhash").alias("h_a"),
                    F.col("y.id").alias("id_b"), F.col("y.simhash").alias("h_b"))
            .distinct())
    return (cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))
