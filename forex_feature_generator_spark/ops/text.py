"""Text analysis over a documents table — language ID (stopword-voting
heuristic), quality scoring, token counting, fingerprinting. All built-in
string/array expressions (oracle-checkable, no Python)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import pin
from .dedup import normalize_text

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "fr": ["le", "la", "les", "et", "de", "est", "pour", "avec", "dans", "un"],
    "es": ["el", "la", "los", "de", "que", "es", "para", "con", "en", "un"],
}

BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
ROLL_P = (1 << 55) - 55


def token_counts(docs: DataFrame, text_col: str = "text",
                 bpe: str = "estimate") -> DataFrame:
    """Whitespace tokens + a BPE token count.

    bpe="estimate" (default, the quality-signal path): a pre-tokenizer-style
    regex count (letters / digits / punctuation runs split apart) — cheap,
    vocab-free. bpe="vocab": the REAL byte-pair encoding count against the
    frozen merge table in ops/bpe.py (chained JVM replace, still no Python)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    if bpe == "vocab":
        from .bpe import MERGES, _encoded_string
        s = _encoded_string(F.col(text_col), MERGES)
        n_syms = (F.length(s) - F.length(F.replace(s, F.lit(",,"), F.lit(",")))
                  + F.lit(1))
        bpe_cnt = F.when(F.length(s) == 0, F.lit(0)).otherwise(n_syms).cast("long")
    else:
        bpe_cnt = F.size(F.regexp_extract_all(F.col(text_col),
                                              F.lit(BPE_ISH_RE), 0)).cast("long")
    return (docs.withColumn("n_ws_tokens", ws)
            .withColumn("n_bpe_tokens", bpe_cnt))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase ratios -> [0,1] score."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(normalize_text(t), " ")
    n_words = F.size(words)
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(en, w)))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    upper_ratio = upper / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_words, F.lit(1))
    avg_word_len = n_chars / F.greatest(n_words, F.lit(1))
    length_score = F.least(F.lit(1.0), n_words / F.lit(20.0))
    score = (length_score * 0.3
             + F.least(F.lit(1.0), stop_ratio * F.lit(5.0)) * 0.3
             + (1 - F.least(F.lit(1.0), punct_ratio * F.lit(5.0))) * 0.2
             + (1 - F.least(F.lit(1.0), upper_ratio * F.lit(5.0))) * 0.2)
    return (docs
            .withColumn("n_words", n_words.cast("long"))
            .withColumn("punct_ratio", F.round(punct_ratio, 6))
            .withColumn("stop_ratio", F.round(stop_ratio, 6))
            .withColumn("avg_word_len", F.round(avg_word_len, 6))
            .withColumn("quality", F.round(score, 6)))


def detect_language(docs: DataFrame, text_col: str = "text",
                    out_col: str = "lang_pred") -> DataFrame:
    """Stopword-voting language ID; ties resolve to the alphabetically first
    language (de > en > es > fr priority chain); no votes -> 'und'."""
    words = F.split(normalize_text(F.col(text_col)), " ")

    def votes(lang):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    v = {lang: votes(lang) for lang in ("de", "en", "es", "fr")}
    pred = (F.when(F.greatest(v["de"], v["en"], v["es"], v["fr"]) == 0, F.lit("und"))
            .when((v["de"] >= v["en"]) & (v["de"] >= v["es"]) & (v["de"] >= v["fr"]), F.lit("de"))
            .when((v["en"] >= v["es"]) & (v["en"] >= v["fr"]), F.lit("en"))
            .when(v["es"] >= v["fr"], F.lit("es"))
            .otherwise(F.lit("fr")))
    return docs.withColumn(out_col, pred)


# RE2-compatible patterns (work identically under Java regex in Spark and
# RE2 in the DuckDB oracle — no backreferences/lookaround)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redacts emails then URLs (order matters: an email inside a URL query
    string is already gone) and counts each; the cleaned text is the column a
    training pipeline persists."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).cast("long")
    cleaned = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_urls = F.size(F.regexp_extract_all(cleaned, F.lit(URL_RE), 0)).cast("long")
    cleaned = F.regexp_replace(cleaned, URL_RE, "<URL>")
    return (docs.withColumn("n_emails", n_emails)
            .withColumn("n_urls", n_urls)
            .withColumn("text_clean", cleaned))


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 20,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-level top-k word n-grams: explode distinct-per-doc shingles ->
    one partial-aggregated count shuffle -> global top-k with a total
    tie-break (count desc, ngram asc) so the result is deterministic."""
    from .dedup import shingles
    sh = shingles(docs, text_col, id_col, n)
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (counts.orderBy(F.col("n_docs").desc(), F.col("shingle").asc())
            .limit(k))


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Repetition-based quality signals (the Gopher-style filtering rules):
    fraction of duplicate word occurrences, and the corpus-scalable
    top-n-gram concentration (occurrences of the single most frequent 2-/
    3-gram over all n-gram occurrences in the doc). Shape: explode ->
    partial-aggregated groupBy per n — no per-doc quadratic scans, so a
    book-length document costs the same per token as a tweet."""
    from .dedup import normalize_text

    words = F.split(normalize_text(F.col(text_col)), " ")
    base = docs.select(F.col(id_col).alias("id"), words.alias("ws"))

    def top_frac(n: int, out: str) -> DataFrame:
        grams = base.select(
            "id",
            F.explode(F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("ws") - F.lit(n - 1), F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("ws", i, n)))).alias("g"))
        cnt = grams.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
        return (cnt.groupBy("id")
                .agg((F.max("c") / F.sum("c")).alias(out)))

    dup = (base.select(
        "id", F.size("ws").cast("long").alias("n_words"),
        ((F.size("ws") - F.size(F.array_distinct("ws")))
         / F.greatest(F.size("ws"), F.lit(1))).alias("dup_word_frac")))
    out = (dup.join(top_frac(2, "top2_frac"), "id", "left")
           .join(top_frac(3, "top3_frac"), "id", "left"))
    return out.select(F.col("id").alias(id_col), "n_words",
                      F.round("dup_word_frac", 6).alias("dup_word_frac"),
                      F.round(F.coalesce("top2_frac", F.lit(0.0)), 6).alias("top2_frac"),
                      F.round(F.coalesce("top3_frac", F.lit(0.0)), 6).alias("top3_frac"))


def tfidf_topk(docs: DataFrame, k: int = 3, text_col: str = "text",
               id_col: str = "doc_id",
               tf_df: DataFrame | None = None) -> DataFrame:
    """Per-document top-k distinctive terms by smoothed tf-idf — the
    keyword/topic signal a curation pipeline uses for domain tagging and
    diversity sampling. tf = count(term in doc) / n_words; idf =
    ln((N+1)/(df+1)) + 1 (sklearn's smooth_idf); rank by tfidf desc with a
    term-asc tiebreak so the result is deterministic.

    Scale shape (100 TB): one partial-aggregated (id, term) count shuffle,
    one term-level df shuffle, a key-partitioned join on term (the df table
    is vocab-sized — joined BY KEY, never broadcast/collected), and the
    top-k window partitions by DOC (bounded by per-doc vocab, never a
    global sort). N comes from a 1-row aggregate broadcast, not an action.
    Returns (doc_id, term, tf, df, tfidf, rank).

    `tf_df` lets a caller that runs several term-frequency ops over the
    same corpus (e.g. the q48 union entry: tfidf + BM25) pass ONE
    precomputed/pinned (id, w, tf) frame instead of re-running the
    tokenize+count shuffle per mode — the shingles_df handoff pattern."""
    tf = tf_df
    if tf is None:
        words = F.split(normalize_text(F.col(text_col)), " ")
        tok = docs.select(F.col(id_col).alias("id"),
                          F.explode(words).alias("w"))
        # persisted: n_words, df and the scoring join all derive from tf —
        # without the cache the explode+count shuffle runs three times
        # (measured as triplicate heavy stages at the 10x probe)
        tf = pin(tok.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf")))
    n_words = tf.groupBy("id").agg(F.sum("tf").alias("n_words"))
    df_tbl = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("N"))

    from pyspark.sql import Window
    scored = (tf.join(df_tbl, "w")
              .join(n_words, "id")
              .crossJoin(F.broadcast(n_docs)))
    idf = F.log((F.col("N") + 1) / (F.col("df") + 1)) + F.lit(1.0)
    scored = scored.withColumn(
        "tfidf", (F.col("tf") / F.col("n_words")) * idf)
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(),
                                         F.col("w").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("id").alias(id_col), F.col("w").alias("term"),
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    F.round("tfidf", 6).alias("tfidf"),
                    F.col("rank").cast("int").alias("rank")))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 5,
              k1: float = 1.2, b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id",
              tf_df: DataFrame | None = None) -> DataFrame:
    """Okapi BM25 retrieval (Robertson et al.; public): rank corpus docs
    against each query's term set — the targeted-selection primitive a
    curation pipeline uses to pull reference-corpus-like documents out of
    a crawl (retrieval-based data selection). idf = ln(1 + (N-df+0.5) /
    (df+0.5)); per-term tf saturation k1, length normalization b against
    the corpus mean doc length. Self-matches are excluded; ties rank by
    doc id asc. Returns (query_id, doc_id, score, rank).

    Scale shape (100 TB): one partial-agged (doc, term) tf shuffle + one
    vocab-sized df reduction; query terms join candidates BY TERM KEY
    (inverted-index equi-join — per-query work is bounded by the posting
    lists of its terms, never the corpus); the final top-k windows
    partition by query. N and avgdl ride a 1-row broadcast.

    `tf_df`: optional precomputed (id, w, tf) counts frame shared with
    tfidf_topk (see there) — BM25's empty-term filter and double cast are
    applied on top, so results are identical either way."""
    from pyspark.sql import Window
    if tf_df is not None:
        tf = (tf_df.filter(F.col("w") != "")
              .select("id", "w", F.col("tf").cast("double").alias("tf")))
    else:
        words = F.split(normalize_text(F.col(text_col)), " ")
        tok = (docs.select(F.col(id_col).alias("id"),
                           F.explode(words).alias("w"))
               .filter(F.col("w") != ""))
        tf = pin(tok.groupBy("id", "w").agg(F.count(F.lit(1))
                                            .cast("double").alias("tf")))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    df_tbl = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    glob = (tf.agg(F.count_distinct("id").cast("double").alias("N"),
                   (F.sum("tf") / F.count_distinct("id")).alias("avgdl")))
    qterms = (queries
              .select(F.col(id_col).alias("query_id"),
                      F.explode(F.array_distinct(
                          F.split(normalize_text(F.col(text_col)), " ")))
                      .alias("w"))
              .filter(F.col("w") != ""))
    idf = F.log(F.lit(1.0) + (F.col("N") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    contrib = idf * (F.col("tf") * (F.lit(k1) + 1.0)
                     / (F.col("tf") + F.lit(k1)
                        * (1.0 - F.lit(b) + F.lit(b) * F.col("dl")
                           / F.col("avgdl"))))
    scored = (qterms.join(tf, "w")
              .filter(F.col("query_id") != F.col("id"))
              .join(df_tbl, "w")
              .join(dl, "id")
              .crossJoin(F.broadcast(glob))
              .groupBy("query_id", "id")
              .agg(F.sum(contrib).alias("score")))
    win = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                                 F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("id").alias(id_col),
                    F.round("score", 6).alias("score"),
                    F.col("rank").cast("int").alias("rank")))


def contamination(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                  threshold: float = 0.8, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark DECONTAMINATION (the pre-training hygiene step): per
    document, the fraction of its distinct word n-grams that appear anywhere
    in the benchmark set; docs at/above `threshold` are flagged for removal.

    Scale shape: the benchmark's distinct shingle set is small (eval suites
    are KBs-MBs against a 100 TB corpus) -> broadcast hash join against the
    exploded doc shingles, one partial-aggregated groupBy(id) for the
    hit/total counts — the corpus is scanned once, never self-joined. The
    join key is the 8-byte xxhash64 of the shingle, not the string: the
    broadcast table shrinks ~5x and every probe compares one long instead
    of hashing+comparing a multi-word string (the 10x probe measured the
    string-keyed join as this op's single dominant stage).
    Returns (doc_id, n_shingles, n_hits, contamination, contaminated)."""
    from .dedup import shingles
    ds = (shingles(docs, text_col, id_col, n)
          .select("id", F.xxhash64("shingle").alias("__sh")))
    bs = (shingles(benchmark, text_col, id_col, n)
          .select(F.xxhash64("shingle").alias("__sh")).distinct())
    counts = (ds.join(F.broadcast(bs).withColumn("__hit", F.lit(1)),
                      "__sh", "left")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hits")))
    frac = F.col("n_hits") / F.greatest(F.col("n_shingles"), F.lit(1))
    return (docs.select(F.col(id_col).alias("id"))
            .join(counts, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
            .withColumn("contamination", F.round(frac, 6))
            .withColumn("contaminated", frac >= F.lit(threshold)))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints: md5 of the normalized text + a polynomial
    rolling hash of the word sequence (mod ROLL_P < 2^55 so acc*31 + h stays
    inside exact int64 arithmetic) as array expressions."""
    p = ROLL_P
    words = F.split(normalize_text(F.col(text_col)), " ")
    word_h = F.transform(words, lambda w:
                         F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"))
    rolling = F.aggregate(word_h, F.lit(0).cast("long"),
                          lambda acc, h: (acc * F.lit(31) + h) % F.lit(p))
    return (docs.withColumn("md5_fingerprint", F.md5(normalize_text(F.col(text_col))))
            .withColumn("rolling_fingerprint", rolling))


def unigram_kl(docs: DataFrame, text_col: str = "text",
               group_col: str = "source") -> DataFrame:
    """Per-group unigram-distribution drift: KL(P_group || P_corpus) over
    word frequencies, plus group token mass and vocabulary size. The
    corpus-QA step that catches a source whose token distribution shifted
    between snapshots (scraper regression, new boilerplate, language drift)
    before it poisons a training mix.

      KL(g) = sum_w p_g(w) * ln(p_g(w) / p_c(w))

    p_c is the whole-corpus distribution, so p_c(w) > 0 wherever
    p_g(w) > 0 — no smoothing needed.

    Scale shape (100 TB): one explode + partial-aggregated
    groupBy(group, word) shuffle reduces the corpus to a (G x V)-row table;
    word totals and group totals DERIVE from that table (vocab-sized
    groupBys — the corpus is scanned once); the word-total join is BY KEY
    against the vocab-sized table (never collected/broadcast: a web-scale
    vocab with URLs and typos does not fit a broadcast), and the final
    groupBy(group) is G rows."""
    words = (docs.select(F.col(group_col).alias("grp"),
                         F.explode(F.split(normalize_text(F.col(text_col)),
                                           " ")).alias("w"))
             .filter(F.col("w") != ""))
    # pinned: the (G x V)-row count table is the root of FOUR consumers
    # below (g_tot, w_tot, tot, join spine) — without the cache the
    # explode + partial-agg corpus pipeline re-evaluates once per consumer
    # (r7 A/B: 0.84 s -> 0.67 s at sf0.1; at scale it is 3 saved corpus
    # scans). The cached frame is vocab-sized, never corpus-sized.
    gw = pin(words.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("n_gw")))
    g_tot = gw.groupBy("grp").agg(F.sum("n_gw").alias("n_g"))
    w_tot = gw.groupBy("w").agg(F.sum("n_gw").alias("n_w"))
    tot = gw.agg(F.sum("n_gw").alias("n_c"))
    p_g = F.col("n_gw") / F.col("n_g")
    p_c = F.col("n_w") / F.col("n_c")
    term = p_g * F.log(p_g / p_c)
    return (gw.join(g_tot, "grp").join(w_tot, "w")
            .crossJoin(F.broadcast(tot))
            .groupBy("grp")
            .agg(F.round(F.sum(term), 6).alias("kl"),
                 F.count(F.lit(1)).alias("vocab"),
                 F.max("n_g").alias("n_words"))
            .select(F.col("grp").alias("group_key"), "kl", "vocab",
                    "n_words"))


def gopher_rules(docs: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000) -> DataFrame:
    """Gopher-style rule FILTER (Rae et al. 2021 quality heuristics, adapted
    to this corpus' signals): a hard keep/drop verdict with a reasons
    bitmask, complementing q19's soft quality score. Rules (bit set = rule
    FAILED): 1 word count outside [min_words, max_words]; 2 mean word
    length outside [3, 10]; 4 symbol-to-word ratio > 0.1; 8 stopword
    fraction < 0.02; 16 duplicate-word fraction > 0.5. keep = reasons == 0.
    One pure projection — no shuffle, no UDF."""
    t = F.col(text_col)
    norm = normalize_text(t)
    words = F.split(norm, " ")
    n_words = F.size(words)
    nw = F.greatest(n_words, F.lit(1))
    # normalized text joins words with single spaces: sum(len) = len - (n-1)
    mean_wlen = (F.length(norm) - (n_words - 1)) / nw
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    symbol_ratio = punct / nw
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_frac = F.size(F.filter(words, lambda w: F.array_contains(en, w))) / nw
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(words)) / nw
    reasons = (
        F.when((n_words < min_words) | (n_words > max_words), 1).otherwise(0)
        + F.when((mean_wlen < 3) | (mean_wlen > 10), 2).otherwise(0)
        + F.when(symbol_ratio > 0.1, 4).otherwise(0)
        + F.when(stop_frac < 0.02, 8).otherwise(0)
        + F.when(dup_frac > 0.5, 16).otherwise(0))
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(dup_frac, 6).alias("dup_word_frac"),
        reasons.cast("int").alias("reasons"),
        (reasons == 0).alias("keep"))


def length_profile(docs: DataFrame, group_col: str = "source",
                   text_col: str = "text",
                   n_rows: int | None = None) -> DataFrame:
    """Per-group sequence-length profile: doc count, token-mass, mean and
    p10/p50/p90 whitespace-token counts. The corpus report every
    training-data pipeline keeps next to its mixture weights — a source
    whose length distribution collapses (truncation bug) or explodes
    (concatenation bug) shows up here before it skews packing and budgets.

    Quantiles go through engine.normalize.gated_quantile_agg: exact
    `percentile` at or below EXACT_QUANTILE_MAX_ROWS, mergeable
    approx_percentile sketch above — the same partial-aggregated one-pass
    groupBy either way, no per-group sort. Token counts are few distinct
    small integers per source, so the percentile buffers stay small; the
    windowed rank-pick (normalize.quantiles_frame) gave the same rows but
    was slower here (q61 median 0.71 s -> 1.00 s at sf0.01).
    Pass `n_rows` when the corpus size is known to skip the count job."""
    from ..engine.normalize import gated_quantile_agg

    if n_rows is None:
        n_rows = docs.count()
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("double")
    q = gated_quantile_agg(F.col("n_tok"), [0.1, 0.5, 0.9], n_rows)
    return (docs.select(F.col(group_col).alias("group_key"),
                        n_tok.alias("n_tok"))
            .groupBy("group_key")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.round(F.avg("n_tok"), 6).alias("mean_tok"),
                 q.alias("__q"))
            .select("group_key", "n_docs", "n_tokens", "mean_tok",
                    F.round(F.col("__q")[0], 6).alias("p10"),
                    F.round(F.col("__q")[1], 6).alias("p50"),
                    F.round(F.col("__q")[2], 6).alias("p90")))


def cross_source_leakage(docs: DataFrame, n: int = 5,
                         text_col: str = "text",
                         source_col: str = "source") -> DataFrame:
    """Cross-shard n-gram leakage matrix: for every unordered source pair
    (a < b), how many distinct word n-grams they share, and that overlap as
    a fraction of the smaller side's shingle set. The train/train sibling
    of benchmark decontamination (`contamination`): mirrored sites, syndicated
    boilerplate, and copy-paste between crawl shards surface as hot pairs —
    exactly what a dedup/mixture plan needs to see before weighting sources
    independently.

    Scale shape (100 TB): the corpus is shingled ONCE and reduced by ONE
    partial-aggregated groupBy on the 8-byte xxhash64 of the shingle (the
    text itself is never shuffled) into (hash, sorted source-set) — the
    source set is bounded by S = #sources, not by occurrences. Both
    outputs DERIVE from that reduced (hash, source-set) table, which is
    PERSISTED so the totals branch and the pair branch share one corpus
    scan (exchange reuse does not fire here — the higher-order shingle
    lambdas defeat plan canonicalization, and without the persist the
    whole shingle pipeline re-ran per branch: the sf1 probe measured the
    earlier self-join formulation at 2x the corpus CPU,
    BENCH/sf1_results.json): totals explode the set to S-row counts,
    pairs explode the in-set combinations (<= S^2/2 per hash) and
    partial-agg to <= S^2/2 rows. Nothing is quadratic in the corpus and
    nothing scans it twice; the persisted table is the corpus reduced to
    one row per distinct shingle (spills to disk above memory — same
    stats-then-apply shape as engine.normalize)."""
    from .dedup import shingles

    sh = (shingles(docs, text_col, source_col, n)
          .select(F.col("id").alias("src"), F.xxhash64("shingle").alias("h")))
    # one corpus-sized exchange: collect_set dedups map-side (partial agg)
    grouped = pin(sh.groupBy("h").agg(F.sort_array(F.collect_set("src"))
                                      .alias("ss")))
    tot = (grouped.select(F.explode("ss").alias("src"))
           .groupBy("src").agg(F.count(F.lit(1)).alias("n_sh")))
    # unordered in-set pairs (a < b by sort order) via nested transforms
    pair_arr = F.flatten(F.transform(
        F.col("ss"),
        lambda x, i: F.transform(
            F.slice(F.col("ss"), i + F.lit(2),
                    F.greatest(F.size("ss") - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (grouped.filter(F.size("ss") >= 2)
             .select(F.explode(pair_arr).alias("p"))
             .groupBy(F.col("p.a").alias("source_a"),
                      F.col("p.b").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    ta = F.broadcast(tot.select(F.col("src").alias("source_a"),
                                F.col("n_sh").alias("n_sh_a")))
    tb = F.broadcast(tot.select(F.col("src").alias("source_b"),
                                F.col("n_sh").alias("n_sh_b")))
    leak = F.col("n_shared") / F.least(F.col("n_sh_a"), F.col("n_sh_b"))
    return (pairs.join(ta, "source_a").join(tb, "source_b")
            .select("source_a", "source_b", "n_shared",
                    "n_sh_a", "n_sh_b", F.round(leak, 6).alias("leakage")))
