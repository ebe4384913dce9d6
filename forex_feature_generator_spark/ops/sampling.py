"""Deterministic sampling / splitting for training-data pipelines.

Everything is a pure function of (seed, id): no RNG state, no shuffle, no
driver round-trip — re-running on new data keeps old assignments stable
(the property a 100 TB incremental pipeline needs), and every operator is
DuckDB-oracle checkable via the shared md5-prefix hash (ops/dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import pin

HASH_BUCKETS = 1_000_000


def _unit_hash(id_col, seed: int):
    """Deterministic uniform int in [0, HASH_BUCKETS): md5 prefix of
    'seed:id' — identical in Spark (conv) and DuckDB (strpos arithmetic)."""
    key = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    return (F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
            % F.lit(HASH_BUCKETS))


def hash_split(df: DataFrame, id_col: str = "doc_id",
               weights: dict[str, float] | None = None,
               seed: int = 42, out_col: str = "split") -> DataFrame:
    """Stable train/val/test assignment by hashed id: row -> the split whose
    cumulative weight interval contains hash(id)/BUCKETS. Adding new rows
    never reassigns old ones."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    h = _unit_hash(id_col, seed)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        cond = h < int(acc * HASH_BUCKETS)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def deterministic_sample(df: DataFrame, fraction: float,
                         id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Bernoulli-by-hash sample: keeps rows with hash(id) < fraction*BUCKETS.
    Exact reproducibility; supersets nest (fraction 0.1 ⊂ fraction 0.2)."""
    return df.filter(_unit_hash(id_col, seed) < int(fraction * HASH_BUCKETS))


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float],
                      id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample dominant
    languages). Strata missing from `fractions` are dropped (rate 0) —
    matching Spark's sampleBy contract but reproducible by hash."""
    h = _unit_hash(id_col, seed)
    expr = F.lit(False)
    for value, frac in fractions.items():
        expr = expr | ((F.col(strata_col) == F.lit(value))
                       & (h < int(frac * HASH_BUCKETS)))
    return df.filter(expr)


def select_token_budget(df: DataFrame, budget: int,
                        tokens_col: str = "n_tokens",
                        priority_col: str = "priority",
                        id_col: str = "doc_id",
                        n_ranges: int | None = None) -> DataFrame:
    """Token-budget curation: walk documents in priority order (priority
    desc, id asc — unique, so the order is total) accumulating token counts;
    a doc is selected while the running total stays within `budget`. The
    "take the best docs until the 1B-token budget is full" step of corpus
    assembly.

    Scale shape (100 TB): a global ordered cumsum with ONE corpus shuffle —
    range-repartition on the priority key (the TeraSort shape) + in-place
    partition sort, then a partition-local running sum via an ORDER-
    PRESERVING mapInPandas that carries the total across Arrow batches (a
    partition-by window here would hash-shuffle the whole corpus a second
    time — the one semantics built-in windows can't express without it).
    Per-range offsets come from the P-row totals table (one tiny window +
    broadcast join back). No driver action, no single-partition sort of
    the corpus; the only global structure is the P-row offsets table.

    Returns the input columns + cum_tokens + selected.

    The input is PERSISTED first: the range partitioner's sampling pass and
    the (not-reused) exchanges below otherwise re-evaluate the whole
    upstream plan — with q49's regex-heavy quality scoring upstream, the
    sf1 probe measured FOUR full evaluations per run
    (BENCH/sf1_results.json). The cached frame is just the op's input
    columns (id, priority, tokens — tens of bytes/row), the cheapest
    representation the corpus has."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    # pin a same-columns ALIAS of the input, not the caller's frame:
    # persisting the caller's own DataFrame object would change its storage
    # level behind the caller's back (round-5 advice); the Project layer
    # gives this op a private cacheable plan with identical data
    df = pin(df.select(*df.columns))
    P = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    part = (df.repartitionByRange(P, F.col(priority_col).desc(),
                                  F.col(id_col).asc())
            .sortWithinPartitions(F.col(priority_col).desc(),
                                  F.col(id_col).asc())
            .withColumn("__pid", F.spark_partition_id()))

    # Build a FRESH StructType: StructType.add mutates in place, and
    # part.schema can return the DataFrame's cached schema object — mutating
    # it makes `part` believe it already has __local_cum and mapInPandas then
    # fails to resolve the column (AnalysisException UNRESOLVED_COLUMN).
    schema = StructType(list(part.schema.fields)
                        + [StructField("__local_cum", LongType())])

    def _local_cumsum(batches):
        run = 0
        for pdf in batches:           # batches stream in partition row order
            pdf = pdf.copy()
            c = pdf[tokens_col].astype("int64").cumsum() + run
            if len(c):
                run = int(c.iloc[-1])
            pdf["__local_cum"] = c
            yield pdf

    # Per-range totals come from a plain SUM over the PRE-cumsum branch:
    # max(__local_cum) per partition equals sum(tokens), and deriving it
    # below the mapInPandas would make the plan reference the Python cumsum
    # twice (it would execute twice — only the range exchange is reused).
    totals = part.groupBy("__pid").agg(
        F.sum(F.col(tokens_col).cast("long")).alias("__ptot"))
    part = part.mapInPandas(_local_cumsum, schema=schema)
    # P rows -> the one intentionally-global window in the operator
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        F.col("__pid").alias("__pid_r"),
        F.coalesce(F.sum("__ptot").over(w_off), F.lit(0)).alias("__off"))
    out = part.join(F.broadcast(offsets),
                    part["__pid"] == offsets["__pid_r"])
    cum = (F.col("__local_cum") + F.col("__off")).cast("long")
    return (out.withColumn("cum_tokens", cum)
            .withColumn("selected", cum <= F.lit(int(budget)))
            .drop("__pid", "__pid_r", "__local_cum", "__off", "__ptot"))


def mixture_weights(df: DataFrame, group_cols: list[str],
                    tokens_col: str = "n_tokens",
                    target_shares: dict[tuple, float] | None = None) -> DataFrame:
    """Static domain-mixture reweighting (the DoReMi-lite/data-mixing step):
    per group (e.g. source x lang) the corpus token share and the reweight
    factor toward a target mixture (weight = target_share / actual_share;
    >1 means upsample). The default target is uniform across observed
    groups; pass `target_shares` (group-value tuple -> share, e.g.
    {("web","en"): 0.5, ...}) for a non-uniform target — groups absent from
    the dict get target 0 (weight 0, i.e. drop). One partial-aggregated
    groupBy to a G-row table; corpus totals come from a 1-row aggregate
    broadcast-crossJoined back — the corpus itself is scanned once and never
    re-shuffled; a non-uniform target adds only a broadcast join against the
    G-row targets table.

    Validation (round-4 review): target_shares must sum to ~1 (raises), and
    target keys matching no observed group warn — a typo'd key was silently
    dropped by the left join, zeroing that group while the remaining
    applied targets no longer summed to 1. The absent-key probe runs one
    eager job, so the G-row grouped table is persisted first: the corpus is
    STILL scanned exactly once (the probe materializes the cache the
    returned plan reuses)."""
    g0 = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens_col).cast("long").alias("n_tokens"))
    if target_shares is not None:
        g0 = pin(g0)
    tot = g0.agg(F.sum("n_tokens").alias("__tot"),
                 F.count(F.lit(1)).alias("__G"))
    share = F.col("n_tokens") / F.col("__tot")
    g = g0.crossJoin(F.broadcast(tot))
    if target_shares is None:
        target = F.lit(1.0) / F.col("__G")
    else:
        tot_share = sum(float(v) for v in target_shares.values())
        if abs(tot_share - 1.0) > 1e-6:
            raise ValueError(
                f"mixture_weights: target_shares must sum to 1 "
                f"(got {tot_share:.6f}) — un-normalized targets silently "
                f"skew every weight")
        spark = df.sparkSession
        rows = [tuple(k) + (float(v),) if isinstance(k, (tuple, list))
                else (k, float(v)) for k, v in target_shares.items()]
        tgt = spark.createDataFrame(rows, group_cols + ["__target"])
        # Absent-key probe against the persisted G-row table (bounded
        # collect: at most len(target_shares) rows).
        missing = (tgt.join(g0.select(*group_cols),
                            on=group_cols, how="left_anti")
                   .collect())
        if missing:
            import warnings
            warnings.warn(
                "mixture_weights: target keys absent from observed groups "
                f"(applied targets no longer sum to 1): "
                f"{[tuple(r[c] for c in group_cols) for r in missing]}",
                stacklevel=2)
        g = g.join(F.broadcast(tgt), on=group_cols, how="left")
        target = F.coalesce(F.col("__target"), F.lit(0.0))
    return (g.select(*group_cols, "n_docs", "n_tokens",
                     F.round(share, 6).alias("token_share"),
                     F.round(target / share, 6).alias("weight")))


def dsir_select(pool: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 4096, alpha: float = 1.0) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public paper): score each
    pool document by the log-likelihood ratio of a hashed-unigram model of
    the TARGET domain vs one of the RAW pool, and keep the top-k. The
    "pick the web pages that look like Wikipedia" curation step.

    Both models are hashed n-gram count tables over `n_buckets` buckets
    (md5-prefix bucket hash — the engine-portable hash every oracle shares)
    with Laplace smoothing `alpha`. Per-word contribution:

        ln((ct_target(b)+a)/(T+a*B)) - ln((ct_raw(b)+a)/(R+a*B))

    summed over the doc's word OCCURRENCES (a multiset, per the paper's
    bag-of-hashed-ngrams model), rounded to 6 before ranking so Spark and
    the DuckDB oracle order identically; ties by id.

    Scale shape (100 TB): the two count tables are bounded at B rows each
    (one partial-agg shuffle per corpus — the classic count-table build);
    scoring joins the pool's word-bucket stream against the BROADCAST
    B-row tables and partial-aggregates per doc (one doc_id shuffle of
    (id, score) pairs only). Selection is orderBy().limit(k) — Catalyst
    plans TakeOrderedAndProject (per-partition top-k + driver merge of
    P*k rows), never a global sort. The k winners broadcast-join back to
    the pool for their metadata. The pool's word-bucket frame is pinned
    (two consumers: raw counts + scoring)."""
    from .dedup import normalize_text

    def buckets(df, extra=()):
        w = F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("__w")
        d = df.select(*extra, w).filter(F.col("__w") != "")
        bkt = (F.conv(F.substring(F.md5("__w"), 1, 8), 16, 10).cast("long")
               % F.lit(n_buckets))
        return d.select(*extra, bkt.alias("__bkt"))

    pb = pin(buckets(pool, extra=(id_col,)))
    tc = pin(buckets(target).groupBy("__bkt")
             .agg(F.count(F.lit(1)).alias("__tc")))
    rc = pin(pb.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__rc")))
    tot = (tc.agg(F.sum("__tc").cast("double").alias("__T"))
           .crossJoin(rc.agg(F.sum("__rc").cast("double").alias("__R"))))
    aB = float(alpha) * n_buckets
    contrib = (
        F.log((F.coalesce(F.col("__tc"), F.lit(0)) + F.lit(float(alpha)))
              / (F.col("__T") + F.lit(aB)))
        - F.log((F.col("__rc") + F.lit(float(alpha)))
                / (F.col("__R") + F.lit(aB))))
    scored = (pb.join(F.broadcast(tc), "__bkt", "left")
              .join(F.broadcast(rc), "__bkt")
              .crossJoin(F.broadcast(tot))
              .groupBy(id_col)
              .agg(F.round(F.sum(contrib), 6).alias("dsir_score")))
    topk = (scored.orderBy(F.col("dsir_score").desc(), F.col(id_col).asc())
            .limit(int(k)))
    return pool.join(F.broadcast(topk), id_col)


def domain_cap(df: DataFrame, cap: int, domain_col: str = "source",
               weight_col: str = "n_chars",
               id_col: str = "doc_id") -> DataFrame:
    """Per-domain contribution cap (the C4/RefinedWeb "no single host
    dominates the corpus" curation rule): within each domain, walk docs in
    (weight desc, id asc) order — longer docs first, total order — and keep
    them while the domain's running weight stays within `cap`. Returns the
    input columns + a `selected` boolean.

    Scale shape (100 TB): a G-row per-domain totals aggregate routes rows
    first — domains whose TOTAL fits the cap bypass the sort entirely
    (selected=true, no shuffle); only over-cap domains flow through the
    per-domain cumsum window, whose partitions are bounded by domain size.
    Web corpora are head-heavy: the bypass keeps the long tail of small
    hosts out of the window exchange, at the price of a second scan of the
    (columnar, pruned) source — cheaper than shuffling the whole corpus
    on a skewed domain key. A head domain too large for one window task
    is exactly select_token_budget's shape: run its range-partitioned
    cumsum per giant domain instead."""
    from pyspark.sql import Window
    g = df.groupBy(domain_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__dtot"))
    d = df.join(F.broadcast(g), domain_col)
    under = (d.filter(F.col("__dtot") <= cap)
             .withColumn("selected", F.lit(True)))
    w = (Window.partitionBy(domain_col)
         .orderBy(F.col(weight_col).desc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    over = (d.filter(F.col("__dtot") > cap)
            .withColumn("__cum", F.sum(F.col(weight_col).cast("long")).over(w))
            .withColumn("selected", F.col("__cum") <= cap)
            .drop("__cum"))
    return under.unionByName(over).drop("__dtot")


def weighted_sample(df: DataFrame, k: int, weight_col: str = "n_chars",
                    id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k winners, inclusion odds
    proportional to `weight_col` — Efraimidis & Spirakis 2006 (public
    paper: "Weighted random sampling with a reservoir"): each row draws
    u ~ U(0,1) and the k largest u^(1/w) win. Here u is the deterministic
    md5 unit hash of (seed, id), so the draw is reproducible, oracle-
    checkable, and stable under re-runs — new rows never disturb old
    draws, they only compete for the k slots.

    Scale shape (100 TB): the key is a pure projection; selection is
    orderBy().limit(k) which Catalyst plans as TakeOrderedAndProject
    (per-partition top-k heap + driver merge of P*k rows) — no global
    sort, no shuffle of the corpus. Comparing ln(u)/w (monotone in
    u^(1/w)) keeps the key in a well-conditioned double range."""
    u = ((_unit_hash(id_col, seed).cast("double") + F.lit(0.5))
         / F.lit(float(HASH_BUCKETS)))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (df.withColumn("__es_key", key)
            .orderBy(F.col("__es_key").desc(), F.col(id_col).asc())
            .limit(int(k))
            .drop("__es_key"))


def shard_assign(df: DataFrame, n_shards: int,
                 id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export:
    every doc gets (shard, pos) from a hash of its id — shard = h mod S,
    pos = rank of h within the shard. Reproducible across runs and
    insensitive to input order/partitioning (the property a resumable
    100 TB export needs: re-running assigns every old doc the same slot).

    Scale shape: one hash computation per row + a per-shard rank. The
    window partitions BY SHARD (bounded, corpus/S rows per partition) —
    no global single-partition sort; at 100 TB pick n_shards >= cores so
    shard ranking parallelizes across the cluster.

    Returns input columns + (shard int, pos long)."""
    h = _unit_hash(id_col, seed)
    from pyspark.sql import Window
    d = df.withColumn("__h", h).withColumn(
        "shard", (F.col("__h") % F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(),
                                            F.col(id_col).asc())
    return (d.withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .drop("__h"))


def fixed_size_sample(df: DataFrame, strata_col: str, k: int,
                      id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by hash order
    (ties by id) — deterministic fixed-SIZE eval-set carving, vs
    stratified_sample's fixed-RATE. Same input -> same rows, independent of
    partitioning; growing a stratum CAN rotate members in/out (hash order
    changes membership of the top-k) — use hash_split when per-row
    stability under growth matters more than exact set size.

    Scale shape: one window partitioned BY STRATUM (each sort task bounded
    by the stratum size; strata are the parallelism unit) — no global
    sort, no sampling pass + count correction."""
    from pyspark.sql import Window
    h = _unit_hash(id_col, seed)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k).drop("__rk"))
