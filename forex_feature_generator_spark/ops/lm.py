"""Corpus-trained n-gram language-model quality scoring (the KenLM-style
perplexity filter of a pre-training data pipeline, self-trained so it needs
no external model): train add-alpha-smoothed bigram statistics over the
corpus, then score every document by its bigram cross-entropy / perplexity.
High-perplexity docs (gibberish, boilerplate soup, wrong-language residue)
are the filter's removal candidates.

All built-in expressions (oracle-checkable, no Python UDFs).

Scale shape (100 TB): the vocabulary is a top-V table (V rows -> broadcast);
the mapped-bigram count table is bounded by V^2 but in practice ~O(observed
bigrams over a capped vocab) — it is joined BY KEY (one hash-partitioned
shuffle join on (w1m, w2m)), never broadcast and never collected. Training
is two partial-aggregated groupBys over the exploded token/bigram streams;
scoring is one join + one groupBy(doc). Nothing is quadratic, nothing
driver-side."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import pin
from .dedup import normalize_text

UNK = "<unk>"


def _word_arrays(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    words = F.split(normalize_text(F.col(text_col)), " ")
    return docs.select(F.col(id_col).alias("id"), words.alias("ws"))


def _bigram_pairs(base: DataFrame) -> DataFrame:
    """(id, w1, w2) for every adjacent word pair. Guarded: sequence(1, 0)
    in Spark DESCENDS ([1, 0]), so single-word docs must short-circuit to
    an empty array instead of producing a bogus index."""
    pair_t = "array<struct<w1:string,w2:string>>"
    idx = F.sequence(F.lit(1), F.size("ws") - 1)
    pairs = F.when(
        F.size("ws") >= 2,
        F.transform(idx, lambda i: F.struct(
            F.element_at(F.col("ws"), i).alias("w1"),
            F.element_at(F.col("ws"), i + F.lit(1)).alias("w2")))
    ).otherwise(F.array().cast(pair_t))
    return (base.select("id", F.explode(pairs).alias("b"))
            .select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))


def bigram_lm_scores(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", vocab_size: int = 24,
                     alpha: float = 0.5) -> DataFrame:
    """Returns (doc_id, n_bigrams, cross_entropy, perplexity).

    Model: words outside the top-`vocab_size` unigrams (count desc, word asc
    tiebreak -> deterministic) map to <unk>; P(w2|w1) = (C(w1 w2) + alpha) /
    (C(w1) + alpha * (V + 1)) over the mapped counts, with C(w1) the full
    unigram count (documented simplification: context counts include
    final-position tokens). cross_entropy = -mean ln P over the doc's
    bigrams (nats); perplexity = exp(cross_entropy). Docs with fewer than
    two words keep n_bigrams = 0 and null entropy/perplexity."""
    base = _word_arrays(docs, text_col, id_col)
    tok = base.select("id", F.explode("ws").alias("w"))

    # persisted: the vocab is broadcast THREE times below (toku, v1, v2)
    # and each BroadcastExchange would otherwise re-run the top-V job —
    # which itself re-explodes the corpus (measured 4 duplicate heavy
    # stages at the 10x probe, BENCH/sf1_results.json)
    vocab = pin(tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.col("c").desc(), F.col("w").asc())
                .limit(vocab_size)
                .select("w"))

    # token stream mapped through the (broadcast) vocab -> unigram counts
    toku = (tok.join(F.broadcast(vocab.withColumn("__v", F.lit(1))), "w", "left")
            .select("id", F.when(F.col("__v").isNotNull(), F.col("w"))
                    .otherwise(F.lit(UNK)).alias("wm")))
    uni = toku.groupBy("wm").agg(F.count(F.lit(1)).alias("cu"))

    # bigram stream mapped the same way (two broadcast probes, no re-assembly)
    bg = _bigram_pairs(base)
    v1 = F.broadcast(vocab.select(F.col("w").alias("w1"),
                                  F.lit(1).alias("__v1")))
    v2 = F.broadcast(vocab.select(F.col("w").alias("w2"),
                                  F.lit(1).alias("__v2")))
    bgm = (bg.join(v1, "w1", "left").join(v2, "w2", "left")
           .select("id",
                   F.when(F.col("__v1").isNotNull(), F.col("w1"))
                   .otherwise(F.lit(UNK)).alias("w1m"),
                   F.when(F.col("__v2").isNotNull(), F.col("w2"))
                   .otherwise(F.lit(UNK)).alias("w2m"))
           )
    # pinned: referenced by BOTH the bigram-count branch and the scoring
    # join — without the cache the explode+map pipeline runs twice (spills
    # to disk above memory, the training-pass trade every self-trained LM
    # makes)
    bgm = pin(bgm)
    bi = bgm.groupBy("w1m", "w2m").agg(F.count(F.lit(1)).alias("cb"))

    denom_pad = F.lit(float(alpha)) * F.lit(float(vocab_size + 1))
    scored = (bgm
              .join(bi, ["w1m", "w2m"])                   # shuffle join by key
              .join(F.broadcast(uni), bgm["w1m"] == uni["wm"])
              .select("id", F.log((F.col("cb") + F.lit(float(alpha)))
                                  / (F.col("cu") + denom_pad)).alias("logp")))
    agg = (scored.groupBy("id")
           .agg(F.count(F.lit(1)).alias("n_bigrams"),
                (-F.avg("logp")).alias("ce")))
    return (docs.select(F.col(id_col).alias("id"))
            .join(agg, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.round("ce", 6).alias("cross_entropy"),
                    F.round(F.exp("ce"), 6).alias("perplexity")))


def ccnet_buckets(docs: DataFrame, lang_col: str = "lang",
                  text_col: str = "text", id_col: str = "doc_id",
                  vocab_size: int = 24, alpha: float = 0.5,
                  n_rows: int | None = None) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting high quality monolingual datasets from web crawl data"):
    per language, scoreable docs split into equal-frequency perplexity
    terciles — head (lowest perplexity, cleanest), middle, tail. Pipelines
    keep head+middle or reweight by bucket. Docs with < 2 words have no
    perplexity and are excluded (CCNet discards them too).
    Returns (doc_id, lang, perplexity, bucket).

    TWO bucketing paths behind the engine's size gate
    (engine.normalize.EXACT_QUANTILE_MAX_ROWS, read at call time; the
    per-language ntile sort is skew-exposed — a real crawl is ~45% English,
    so one sort task takes ~half the corpus):

    * n_rows <= the gate: exact equal-frequency ntile(3) per language,
      id-asc tiebreak — deterministic, oracle-exact.
    * above it: per-language tercile CUTPOINTS from gated_quantile_agg
      (which is then the approx_percentile sketch) in one partial-aggregated
      groupBy(lang) — no per-language sort anywhere in the plan — broadcast
      as a G x 2 table into a `when` chain. Equal-frequency up to
      quantile-sketch error and boundary ties; identical to ntile when
      per-language counts are divisible by 3 and perplexities are distinct
      (tests assert this). This path scores twice (cutpoint pass +
      bucketing pass) — the same stats-then-apply shape as
      engine.normalize.

    Pass `n_rows` (corpus row count) if known, else one cheap docs.count()
    (parquet metadata) decides."""
    from pyspark.sql import Window

    from ..engine import normalize as N

    scores = bigram_lm_scores(docs, text_col=text_col, id_col=id_col,
                              vocab_size=vocab_size, alpha=alpha)
    j = (scores.filter(F.col("n_bigrams") > 0)
         .join(docs.select(id_col, lang_col), id_col))
    if n_rows is None:
        n_rows = docs.count()
    if n_rows <= N.EXACT_QUANTILE_MAX_ROWS:
        w = (Window.partitionBy(lang_col)
             .orderBy(F.col("perplexity").asc(), F.col(id_col).asc()))
        t = F.ntile(3).over(w)
        bucket = (F.when(t == 1, "head").when(t == 2, "middle")
                  .otherwise("tail"))
        return j.select(id_col, lang_col, "perplexity",
                        bucket.alias("bucket"))
    cuts = (j.groupBy(lang_col)
            .agg(N.gated_quantile_agg(F.col("perplexity"),
                                      [1.0 / 3.0, 2.0 / 3.0], n_rows)
                 .alias("__q")))
    cuts = cuts.select(lang_col, F.col("__q")[0].alias("__c1"),
                       F.col("__q")[1].alias("__c2"))
    bucket = (F.when(F.col("perplexity") <= F.col("__c1"), "head")
              .when(F.col("perplexity") <= F.col("__c2"), "middle")
              .otherwise("tail"))
    return (j.join(F.broadcast(cuts), lang_col)
            .select(id_col, lang_col, "perplexity", bucket.alias("bucket")))
